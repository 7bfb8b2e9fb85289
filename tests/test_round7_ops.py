"""Round-7 regression pins: the three ADVICE r06 fixes (poisson hour-span
portability, dollar-bar threshold parameter, minhash hash let-binding) and
the lossless LSH size-ratio pre-filter."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_hour_span_portable_on_boundary_crossing(spark):
    """ADVICE r06: Spark timestampdiff(HOUR, a, b) counts COMPLETE hours,
    DuckDB date_diff('hour', a, b) counts boundary CROSSINGS — 00:59→02:01
    is 1 vs 2. After hour-truncating both endpoints (the q_poisson_rate_test
    fix) the two engines agree on exactly this adversarial case."""
    lo, hi = "2024-01-01 00:59:00", "2024-01-01 02:01:00"
    got_spark = spark.sql(
        f"SELECT CAST(timestampdiff(HOUR, date_trunc('hour', TIMESTAMP_NTZ '{lo}'),"
        f" date_trunc('hour', TIMESTAMP_NTZ '{hi}')) + 1 AS BIGINT) AS hours"
    ).collect()[0][0]
    got_duck = duckdb.sql(
        f"SELECT CAST(date_diff('hour', date_trunc('hour', TIMESTAMP '{lo}'),"
        f" date_trunc('hour', TIMESTAMP '{hi}')) + 1 AS BIGINT) AS hours"
    ).fetchone()[0]
    assert got_spark == got_duck == 3
    # the raw (untruncated) forms disagree on the same endpoints — the
    # reason the truncation is load-bearing, not decorative
    raw_spark = spark.sql(
        f"SELECT timestampdiff(HOUR, TIMESTAMP_NTZ '{lo}', TIMESTAMP_NTZ '{hi}')"
    ).collect()[0][0]
    raw_duck = duckdb.sql(
        f"SELECT date_diff('hour', TIMESTAMP '{lo}', TIMESTAMP '{hi}')"
    ).fetchone()[0]
    assert raw_spark == 1 and raw_duck == 2


def test_dollar_bars_threshold_parameter_honored(spark):
    """ADVICE r06: stateful_dollar_bars(threshold_cents=...) must actually
    change the bar width (the divisor used to be hard-coded at the default).
    A doubled threshold can only merge bars — strictly fewer (or equal)
    bars per symbol, and the first bar absorbs at least the default's."""
    from stockmarketdata_dwb_etl_spark.functions.bars import tick_key
    from stockmarketdata_dwb_etl_spark.streaming.jobs import (
        prepare_event_chunks,
        read_events_stream,
        run_stream_to_parquet,
        stateful_dollar_bars,
    )

    chunks = prepare_event_chunks(spark, SF_DIR)

    def run(tag: str, threshold: int):
        stream = read_events_stream(spark, chunks).select(
            "event_type", "value", tick_key().alias("ord")
        )
        sink = run_stream_to_parquet(
            stateful_dollar_bars(stream, threshold_cents=threshold), tag
        )
        return spark.read.parquet(sink)

    default = run("r7_bars_default", 500_000)
    doubled = run("r7_bars_doubled", 1_000_000)
    n_default = default.select("symbol", "bar_id").distinct().count()
    n_doubled = doubled.select("symbol", "bar_id").distinct().count()
    assert 0 < n_doubled < n_default
    # with exactly-doubled width, bar k of the doubled run covers bars
    # 2k/2k+1 of the default run: total dollar volume must reconcile
    v1 = default.agg(F.sum("dollar_cents")).collect()[0][0]
    v2 = doubled.agg(F.sum("dollar_cents")).collect()[0][0]
    assert v1 == v2


def test_minhash_letbound_hashes_single_evaluation(spark):
    """The let-binding fix must keep signatures byte-identical to a direct
    per-permutation recomputation (the semantics the oracle differential
    already certifies) while carrying exactly ONE xxhash64 node in the
    optimized plan — the re-inlined form carries one per permutation."""
    from stockmarketdata_dwb_etl_spark.catalog import load_table
    from stockmarketdata_dwb_etl_spark.operators.dedup import minhash_signatures

    docs = load_table(spark, SF_DIR, "documents").limit(50)
    sigs = minhash_signatures(docs)
    plan = sigs._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("xxhash64") == 1, plan
    rows = sigs.orderBy("id").collect()
    assert rows and all(len(r["sig"]) == 32 for r in rows)
    # every signature slot is a min over P31-modular affine transforms
    assert all(
        0 <= v < (1 << 31) for r in rows for v in r["sig"]
    )


def test_lsh_size_ratio_prefilter_is_lossless(spark):
    """The min/max shingle-count pre-filter may only drop pairs the exact
    verify would reject: verified output with and without the filter is
    identical at the same threshold."""
    from stockmarketdata_dwb_etl_spark.catalog import load_table
    from stockmarketdata_dwb_etl_spark.operators.dedup import (
        _persist_shingles,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_sets,
        verify_jaccard,
    )

    docs = load_table(spark, SF_DIR, "documents")
    shingled = _persist_shingles(shingle_sets(docs))
    sigs = minhash_signatures(docs, shingled=shingled)
    unfiltered = verify_jaccard(shingled, lsh_candidate_pairs(sigs), 0.7)
    filtered = verify_jaccard(
        shingled, lsh_candidate_pairs(sigs, size_ratio=0.7), 0.7
    )
    a = sorted(map(tuple, unfiltered.collect()))
    b = sorted(map(tuple, filtered.collect()))
    assert a == b and len(a) > 0
    # and the filter genuinely prunes candidates (fan-in reduction is the
    # point): strictly fewer pairs reach the verify join on this fixture
    n_all = lsh_candidate_pairs(sigs).count()
    n_flt = lsh_candidate_pairs(sigs, size_ratio=0.7).count()
    assert n_flt <= n_all


def test_foreachbatch_restart_recovers_to_identical_snapshot(spark):
    """Kill the incremental-merge stream mid-run (crash injected at the
    top of microbatch 2), restart it against the SAME checkpoint, and the
    recovered snapshot must equal a clean uninterrupted run — the one
    streaming property the suite had not yet asserted (VERDICT r06 #7)."""
    import pytest as _pytest

    from stockmarketdata_dwb_etl_spark.streaming.jobs import (
        prepare_event_chunks,
        read_events_stream,
        run_stream_incremental_merge,
    )

    chunks = prepare_event_chunks(spark, SF_DIR)
    cols = ["event_id", "ts", "user_id", "event_type", "value"]

    def stream():
        return read_events_stream(spark, chunks).select(*cols)

    class Crash(RuntimeError):
        pass

    def crash_on_2(batch_id: int) -> None:
        if batch_id == 2:
            raise Crash("injected mid-run failure")

    with _pytest.raises(Exception):  # StreamingQueryException wraps Crash
        run_stream_incremental_merge(
            stream(), "r7_recovery", ["event_id"], batch_hook=crash_on_2
        )
    # the crash landed after batches 0-1 committed: snapshot exists but is
    # genuinely partial (2 of 4 replay chunks)
    import os

    from stockmarketdata_dwb_etl_spark.scratch import SCRATCH
    from stockmarketdata_dwb_etl_spark.streaming.jobs import _scoped

    snap_path = os.path.join(
        SCRATCH, "stream_snapshot", _scoped("r7_recovery", spark)
    )
    n_partial = spark.read.parquet(snap_path).count()
    # restart from the surviving checkpoint — no cleanup, no hook
    snap = run_stream_incremental_merge(
        stream(), "r7_recovery", ["event_id"], resume=True
    )
    recovered = spark.read.parquet(snap).orderBy("event_id").collect()
    assert 0 < n_partial < len(recovered)
    clean = run_stream_incremental_merge(
        stream(), "r7_recovery_clean", ["event_id"]
    )
    expected = spark.read.parquet(clean).orderBy("event_id").collect()
    assert recovered == expected and len(expected) > 0


def test_bpe_greedy_fold_semantics(spark):
    """The merge fold is canonical greedy left-to-right BPE: a self-pair
    over an odd run merges (ll)(ll)(l), never re-consumes a just-merged
    symbol, and an alternating pattern merges every occurrence."""
    from stockmarketdata_dwb_etl_spark.queries.dataops4 import _bpe_learn  # noqa: F401

    df = spark.createDataFrame(
        [(["l", "l", "l", "l", "l"],), (["a", "b", "a", "b"],)],
        "syms array<string>",
    )
    a, b = F.lit("l"), F.lit("l")
    fold = F.aggregate(
        "syms",
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.get(acc, F.size(acc) - 1) == a) & (s == b),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.concat(a, b))),
        ).otherwise(F.concat(acc, F.array(s))),
    )
    rows = df.select(fold.alias("m")).collect()
    assert rows[0]["m"] == ["ll", "ll", "l"]
    assert rows[1]["m"] == ["a", "b", "a", "b"]
    # DuckDB's delimiter-anchored string fold agrees on the same inputs
    import duckdb as _d

    got = _d.sql(
        "SELECT list_reduce(['l','l','l','l','l'], (acc, s) ->"
        " CASE WHEN (acc = 'l' OR ends_with(acc, '|l')) AND s = 'l'"
        " THEN acc || s ELSE acc || '|' || s END)"
    ).fetchone()[0]
    assert got == "ll|ll|l"


def test_corpus_gate_filter_carries_no_inlined_comprehension(spark):
    """Predicate pushdown inlines alias expressions into the pushed
    filter; with an element_at 3-gram comprehension that meant
    re-evaluating filter(split(ctext)) per gram per position (gated
    silver: 0.9s -> 13.8s over 5000 docs). Pin the fixed shape: the
    dedup stage's optimized plan must contain no element_at anywhere
    (the slice/zip_with shingle form has none), so no rewrite can
    resurrect the quadratic."""
    from pipelines.corpus_curation import build_deduped

    plan = (
        build_deduped(spark, SF_DIR)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "element_at" not in plan, plan[:2000]


def test_round7_corpus_op_semantics_on_crafted_rows(spark):
    """Crafted-input pins for the round-7 corpus ops: packing respects
    the 2048 capacity with spanning docs, de-stutter keeps exactly one
    of each run, and the sorted-run fold equals a brute-force mode
    count."""
    # sequence packing: tokens 1000,1000,1000 -> cum_before 0,1000,2000
    # -> seqs 0,0,0? no: 2000 div 2048 = 0, so all three pack into seq 0
    # until cum_before crosses 2048: 4th doc (cum 3000) starts seq 1.
    rows = [(1, 1000), (2, 1000), (3, 1000), (4, 1000)]
    df = spark.createDataFrame(rows, "doc_id int, n int")
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    seq = F.expr("cb div 2048")
    got = (
        df.select("doc_id", F.coalesce(F.sum("n").over(w), F.lit(0)).alias("cb"))
        .select("doc_id", seq.alias("s"))
        .orderBy("doc_id")
        .collect()
    )
    assert [r["s"] for r in got] == [0, 0, 0, 1]

    # de-stutter mark: one survivor per run, first element survives
    d = spark.createDataFrame([(["a", "a", "b", "b", "b", "a"],)], "ws array<string>")
    prev = F.concat(
        F.array(F.lit(None).cast("string")),
        F.slice(F.col("ws"), 1, F.greatest(F.size("ws") - 1, F.lit(0))),
    )
    marks = F.zip_with(F.col("ws"), prev, lambda c, p: (~c.eqNullSafe(p)).cast("int"))
    n_after = F.aggregate(marks, F.lit(0), lambda a, m: a + m)
    assert d.select(n_after.alias("k")).collect()[0]["k"] == 3  # a, b, a

    # sorted-run fold == brute-force max frequency
    arr = ["x y"] * 5 + ["a b"] * 2 + ["c d"]
    d2 = spark.createDataFrame([(sorted(arr),)], "g2 array<string>")
    acc0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("bigint").alias("run"),
        F.lit(0).cast("bigint").alias("best"),
    )

    def step(a, x):
        run = (
            F.when(x == a["prev"], a["run"] + F.lit(1))
            .otherwise(F.lit(1))
            .cast("bigint")
        )
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(a["best"], run).alias("best")
        )

    mf = F.aggregate("g2", acc0, step, lambda a: a["best"])
    assert d2.select(mf.alias("m")).collect()[0]["m"] == 5
