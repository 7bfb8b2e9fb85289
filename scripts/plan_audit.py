"""Audit every registered query's physical plan and write PLANS.md.

Usage: python scripts/plan_audit.py [sf_dir] [query ...]

With no query names every query is audited and PLANS.md is rewritten;
with names, only their rows are replaced in PLANS.md (a name without a
row is inserted in sorted position) and every other line is kept.

For each query: shuffle count, broadcast count, join strategies, codegen
spans, Python boundary kind, pushdown/pruning evidence. Streaming queries
are skipped (their construction runs a real stream); write-at-construction
queries run their write once first.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SKIP_PREFIXES = ("q_stream_",)


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    from stockmarketdata_dwb_etl_spark.plans import audit
    from stockmarketdata_dwb_etl_spark.plans.audit import capture_checkpoints
    from stockmarketdata_dwb_etl_spark.registry import QUERIES, load_all
    from stockmarketdata_dwb_etl_spark.session import get_spark

    load_all()
    spark = get_spark(app_name="plan-audit")

    rows = []
    for name in sorted(QUERIES):
        if only and name not in only:
            continue
        if name.startswith(SKIP_PREFIXES):
            continue
        try:
            # capture_checkpoints: iterative operators truncate each
            # superstep's plan behind localCheckpoint, so the final plan
            # alone under-reports them (q_ppr_seed read "0 shuffles"
            # while every superstep shuffled edge⋈rank — r11 verdict).
            # The hook audits every frame at its checkpoint, BEFORE
            # truncation, and the loop column reports the aggregate.
            with capture_checkpoints() as ckpt:
                df = QUERIES[name](spark, sf_dir)
                # pushdown evidence: the pre-execution plan (the
                # executed plan's toString truncates long FileScan
                # lines past the filter list)
                pre = audit(df)
                # codegen spans + AQE's final join strategies only
                # materialize once THIS DataFrame's own adaptive plan
                # executes (a noop-sink write would execute a separate
                # QueryExecution) — collect() is fine at audit scale
                df.collect()
            a = audit(df)
            a.pushed_filters = pre.pushed_filters
            a.partition_filters = pre.partition_filters
            a.read_schemas = pre.read_schemas
        except Exception as e:  # noqa: BLE001 — report, don't abort the audit
            rows.append((name, f"ERROR {type(e).__name__}: {e}"))
            continue
        py = (
            "row-python!"
            if a.row_python_nodes or ckpt.row_python_nodes
            else (
                "arrow"
                if a.arrow_python_nodes or ckpt.arrow_python_nodes
                else "jvm"
            )
        )
        joins = ",".join(sorted(set(a.joins))) or "-"
        loop = (
            f"{ckpt.n_checkpoints}ckpt:{ckpt.n_exchanges}sh"
            f"+{ckpt.n_broadcast_exchanges}bc"
            if ckpt.n_checkpoints
            else "-"
        )
        rows.append(
            (
                name,
                f"| {a.n_exchanges} | {a.n_broadcast_exchanges} | {joins} "
                f"| {a.n_codegen_spans} | {py} "
                f"| {'y' if a.pushed_filters else '-'}"
                f"{'+part' if a.partition_filters else ''} "
                f"| {'y' if a.has_take_ordered else '-'} "
                f"| {loop} |",
            )
        )

    out = ["# PLANS — physical-plan audit", ""]
    out.append(
        f"Generated by `python scripts/plan_audit.py {sf_dir}` — one row per"
    )
    out.append(
        "registered batch query: shuffle exchanges, broadcast exchanges, join"
    )
    out.append(
        "strategies, whole-stage-codegen spans, Python boundary (jvm = none,"
    )
    out.append(
        "arrow = vectorized pandas/Arrow, row-python = forbidden), filter"
    )
    out.append("pushdown evidence, TakeOrdered top-k. Streaming queries excluded")
    out.append("(audited via their batch-equivalence tests instead).")
    out.append("")
    out.append("Exchange counts are EXECUTED exchanges (distinct plan_id): the")
    out.append("plan printer repeats a persisted table's build subtree under")
    out.append("every InMemoryTableScan referencing it, but the build runs once.")
    out.append("")
    out.append("The loop column covers localCheckpoint-truncated iterative")
    out.append("operators (PageRank/PPR/BFS/k-core/BPE/k-center/components…):")
    out.append("`Kckpt:Nsh+Mbc` = K checkpoints taken during build+execute,")
    out.append("whose pre-truncation plans together held N shuffle and M")
    out.append("broadcast exchanges — the superstep work the final plan no")
    out.append("longer shows; each exchange counts once across the loop (a")
    out.append("persisted build prints under every superstep but runs once).")
    out.append("Their main shuffles column is therefore only")
    out.append("the post-loop tail, and a loop-body regression now surfaces")
    out.append("here instead of hiding behind the checkpoint.")
    out.append("")
    out.append(
        "| query | shuffles | bcasts | joins | codegen | python | pushdown | top-k | loop |"
    )
    out.append("|---|---|---|---|---|---|---|---|---|")
    out += [_row_line(name, desc) for name, desc in rows]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    if only:
        with open(path) as f:
            out = _splice(f.read().splitlines(), rows)
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    print("\n".join(_row_line(name, desc) for name, desc in rows))


def _row_line(name: str, desc: str) -> str:
    return f"| {name} {desc}" if desc.startswith("|") else f"| {name} | {desc} |"


def _row_name(line: str) -> str | None:
    """The query name of a PLANS.md table row, None for any other line."""
    return line.split("|")[1].strip() if line.startswith("| q_") else None


def _splice(lines: list[str], rows: list[tuple[str, str]]) -> list[str]:
    """Replace the table rows of ``rows``' queries in ``lines`` in place;
    insert a query without a row before the first row sorting after it
    (or after the last row). Every other line is returned unchanged."""
    new = {name: _row_line(name, desc) for name, desc in rows}
    out = [new.pop(_row_name(ln), ln) for ln in lines]
    for name, line in sorted(new.items()):
        at = [i for i, ln in enumerate(out) if _row_name(ln)]
        after = [i for i in at if _row_name(out[i]) > name]
        out.insert(after[0] if after else at[-1] + 1, line)
    return out


if __name__ == "__main__":
    main()
