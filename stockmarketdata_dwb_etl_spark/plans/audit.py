"""Physical-plan audit: extract the scale-relevant facts from a
DataFrame's executed plan.

Every fact here is something that changes the 100 TB bill: a filter that
did not reach the scan re-reads the table; an unaccounted exchange is a
cluster-wide shuffle; a BatchEvalPython node is a row-at-a-time Python
boundary (10-100× slower than the Arrow path); a missing codegen span
means an interpreted operator in the hot loop. tests/test_plans.py holds
named queries to these invariants; scripts/plan_audit.py reports them
for the whole registry.
"""

from __future__ import annotations

import itertools
import re
from collections.abc import Iterator
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

#: Plan nodes that cross the Python boundary row-at-a-time (bad) vs via
#: Arrow batches (acceptable when semantics require Python).
_ROW_PYTHON = ("BatchEvalPython",)
_ARROW_PYTHON = (
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
    "MapInArrow",
    "BatchEvalPythonUDTF",
    "ArrowEvalPythonUDTF",
)
_JOIN_NODES = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


@dataclass
class PlanAudit:
    """Scale-relevant facts extracted from one executed plan."""

    pushed_filters: list[str] = field(default_factory=list)
    partition_filters: list[str] = field(default_factory=list)
    read_schemas: list[str] = field(default_factory=list)
    n_exchanges: int = 0
    n_broadcast_exchanges: int = 0
    joins: list[str] = field(default_factory=list)
    n_codegen_spans: int = 0
    row_python_nodes: int = 0
    arrow_python_nodes: int = 0
    n_scans: int = 0
    has_take_ordered: bool = False
    n_hash_aggregates: int = 0

    @property
    def python_is_arrow_only(self) -> bool:
        return self.row_python_nodes == 0


def _final_plan_only(plan: str) -> str:
    """Drop AQE '== Initial Plan ==' sections: after execution the plan
    string prints the final plan followed by the pre-AQE initial plan,
    which would double-count every node. A section ends at the first
    line indented less deep than its marker: adaptive plans nest (every
    persisted table's build prints as its own AdaptiveSparkPlan under
    its InMemoryRelation), and the outer plan's nodes resume after a
    nested section without another marker."""
    out, skip_depth = [], None
    for line in plan.splitlines():
        depth = len(line) - len(line.lstrip(" :|+-"))
        if skip_depth is not None and depth >= skip_depth:
            continue
        skip_depth = None
        if "== Initial Plan ==" in line:
            skip_depth = depth
        elif "== Final Plan ==" not in line:
            out.append(line)
    return "\n".join(out)


def _exchange_ids(plan: str, noid: Iterator[int]) -> tuple[set[str], set[str]]:
    """(shuffle, broadcast) ids of the exchanges in ``plan``, one id per
    EXECUTED exchange.

    The plan printer repeats a persisted table's full build plan under
    EVERY InMemoryTableScan that references it, so a base cached via
    bounded_persist and consumed by three branches would triple-count
    its build exchanges — but the build executes exactly once. Exchange
    nodes carry a stable ``[plan_id=N]``: repeated prints of the same
    physical node share the id, so distinct ids are the executed
    exchanges. Lines without a plan_id (truncated by the printer) get a
    fresh id from ``noid`` each, i.e. count per occurrence."""
    shuffle_ids: set[str] = set()
    bcast_ids: set[str] = set()
    # Drop ReusedExchange/ReusedSubquery lines up front: a reuse line
    # echoes the original exchange's text ("ReusedExchange [...],
    # BroadcastExchange ... [plan_id=N]") and would otherwise match at
    # the embedded token — normally deduped by the shared plan_id, but a
    # printer-truncated reuse line without one would hit the __noid
    # fallback and count the reuse as an extra execution.
    plan = "\n".join(
        ln for ln in plan.split("\n")
        if not re.match(r"[\s:+\-*]*Reused", ln)
    )
    for m in re.finditer(r"(?<!\w)(Broadcast)?Exchange ([^\n]*)", plan):
        is_bcast = bool(m.group(1))
        rest = m.group(2)
        if not is_bcast and rest.startswith("SinglePartition"):
            continue
        idm = re.search(r"\[plan_id=(\d+)\]", rest)
        key = idm.group(1) if idm else f"__noid_{next(noid)}"
        (bcast_ids if is_bcast else shuffle_ids).add(key)
    return shuffle_ids, bcast_ids


def _plan_string(df: DataFrame) -> str:
    return _final_plan_only(df._jdf.queryExecution().executedPlan().toString())


def audit(df: DataFrame) -> PlanAudit:
    """Audit a DataFrame's executed plan (final AQE plan if the DataFrame
    has been executed; the initial physical plan otherwise)."""
    plan = _plan_string(df)
    a = PlanAudit()
    # the plan printer truncates long lines ("..."), sometimes inside the
    # filter list itself — accept either a closing bracket or a truncation
    for m in re.finditer(r"PushedFilters: \[(.*?)(?:\]|\.\.\.)", plan):
        if m.group(1).strip():
            a.pushed_filters.append(m.group(1).strip())
    for m in re.finditer(r"PartitionFilters: \[(.*?)(?:\]|\.\.\.)", plan):
        if m.group(1).strip():
            a.partition_filters.append(m.group(1).strip())
    for m in re.finditer(r"ReadSchema: (struct<[^\n]*)", plan):
        a.read_schemas.append(m.group(1))
    # "Exchange hashpartitioning/rangepartitioning/..." = a real shuffle;
    # BroadcastExchange ships a small side to every executor (cheap, counted
    # separately). Distinct-plan_id counting: see _exchange_ids.
    shuffles, bcasts = _exchange_ids(plan, itertools.count())
    a.n_exchanges, a.n_broadcast_exchanges = len(shuffles), len(bcasts)
    for node in _JOIN_NODES:
        a.joins += [node] * plan.count(node)
    a.n_codegen_spans = len(set(re.findall(r"\*\((\d+)\)", plan)))
    a.row_python_nodes = sum(plan.count(n) for n in _ROW_PYTHON)
    a.arrow_python_nodes = sum(plan.count(n) for n in _ARROW_PYTHON)
    a.n_scans = plan.count("FileScan") + plan.count("BatchScan")
    a.has_take_ordered = "TakeOrderedAndProject" in plan
    a.n_hash_aggregates = plan.count("HashAggregate")
    return a


def plan_nodes(df: DataFrame) -> list[str]:
    """One line per node of ``df``'s physical plan (the node's own
    ``simpleString``; for an adaptive plan not yet executed, its initial
    plan). Walks ``children`` only, so a persisted table's build (an
    inner child of its InMemoryTableScan) and a nested adaptive plan
    leave their nodes out: a shape check over these lines sees the
    frame's own operators, anchored on node lines rather than on a
    substring that could sit in an expression or a cached subtree."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    lines, stack = [], [plan]
    while stack:
        node = stack.pop()
        lines.append(node.simpleString(1000))
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return lines


@dataclass
class CheckpointAudit:
    """Accumulated pre-truncation facts for every localCheckpoint taken
    while :func:`capture_checkpoints` was active — the audit's view
    INSIDE iterative operators, whose final plan hides each superstep's
    exchanges behind the checkpoint (the r11 verdict's blind spot:
    q_ppr_seed's row read "0 shuffles" while every superstep shuffled
    edge⋈rank).

    Exchanges count once per executed exchange across ALL the
    checkpoints (distinct plan_id over the capture): a persisted table's
    build prints under every superstep that scans it but runs once."""

    n_checkpoints: int = 0
    shuffle_ids: set[str] = field(default_factory=set)
    bcast_ids: set[str] = field(default_factory=set)
    joins: list[str] = field(default_factory=list)
    row_python_nodes: int = 0
    arrow_python_nodes: int = 0
    noid: Iterator[int] = field(default_factory=itertools.count)
    #: per checkpoint, the cut frame's :func:`plan_nodes`
    plans: list[list[str]] = field(default_factory=list)

    @property
    def n_exchanges(self) -> int:
        return len(self.shuffle_ids)

    @property
    def n_broadcast_exchanges(self) -> int:
        return len(self.bcast_ids)


def capture_checkpoints():
    """Context manager instrumenting ``DataFrame.localCheckpoint``:
    while active, each checkpointed frame's plan is audited BEFORE
    truncation and accumulated, so a loop-body regression (a new
    shuffle, a row-Python node inside a superstep) can no longer hide
    behind the checkpoint. Audit-only instrumentation — the checkpoint
    itself proceeds unchanged."""
    import contextlib as _ctx

    # PySpark 4 split: the classic runtime DataFrame SUBCLASS defines
    # its own localCheckpoint, so patching only the abstract base never
    # intercepts an instance call — patch every class that carries the
    # method in its own __dict__.
    targets = [DataFrame]
    try:
        from pyspark.sql.classic.dataframe import DataFrame as _ClassicDF

        targets.append(_ClassicDF)
    except ImportError:  # pragma: no cover — older layouts
        pass
    targets = [c for c in targets if "localCheckpoint" in c.__dict__]

    @_ctx.contextmanager
    def _cm():
        acc = CheckpointAudit()
        origs = {c: c.__dict__["localCheckpoint"] for c in targets}

        def _make(orig):
            def patched(self, eager=True):
                sub = audit(self)
                shuffles, bcasts = _exchange_ids(_plan_string(self), acc.noid)
                acc.n_checkpoints += 1
                acc.shuffle_ids |= shuffles
                acc.bcast_ids |= bcasts
                acc.plans.append(plan_nodes(self))
                acc.joins += sub.joins
                acc.row_python_nodes += sub.row_python_nodes
                acc.arrow_python_nodes += sub.arrow_python_nodes
                return orig(self, eager=eager)

            return patched

        for c, orig in origs.items():
            c.localCheckpoint = _make(orig)
        try:
            yield acc
        finally:
            for c, orig in origs.items():
                c.localCheckpoint = orig

    return _cm()
