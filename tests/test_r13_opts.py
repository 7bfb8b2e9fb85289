"""Focused tests for the round-13 optimization internals:

- hilo_term_sum/hilo_finish (two-long-bucket sum) must be BIT-identical
  to the DECIMAL(38,n) term_sum over adversarial magnitudes, signs and
  grouping.
- connected_components(assume_distinct=True) must produce the identical
  component labeling, and min-label propagation must be idempotent over
  duplicate edges (the property the flag relies on).
- the markov value-iteration fold and single-window journey extraction
  are covered end-to-end by the oracle differential; here we pin the
  cheap structural invariant: the journey plan, taken before its
  checkpoint, carries ONE user-keyed Window sort (no DESC re-sort).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_ssum_hilo_bit_identical_grouped(spark):
    from stockmarketdata_dwb_etl_spark.functions.exact import (
        hilo_finish,
        hilo_term_sum,
        term_sum,
    )

    # adversarial: mixed signs, half-boundary multiples of 1e-12, tiny
    # magnitudes, and values near |x| = 1 (the documented bound)
    vals = []
    for i in range(1, 500):
        vals.append((i % 7, ((i * 1_000_003) % 2_000_000 - 1_000_000) / 1e6))
        vals.append((i % 7, ((i * 37) % 1_000_000) * 1e3 / 1e12 + 5e-13))
        vals.append((i % 7, -((i * 11) % 997) * 1e-9))
    df = spark.createDataFrame(vals, ["g", "x"])

    old = df.groupBy("g").agg(term_sum(F.col("x"), 12).alias("s"))
    hi, lo = hilo_term_sum(F.col("x"), 12)
    new = (
        df.groupBy("g")
        .agg(hi.alias("sh"), lo.alias("sl"))
        .select("g", hilo_finish(F.col("sh"), F.col("sl"), 12).alias("s"))
    )
    got_old = {r["g"]: r["s"] for r in old.collect()}
    got_new = {r["g"]: r["s"] for r in new.collect()}
    assert got_old == got_new
    # bits, not just ==: repr distinguishes -0.0/0.0 and every mantissa bit
    assert {k: repr(v) for k, v in got_old.items()} == {
        k: repr(v) for k, v in got_new.items()
    }


def test_ssum_hilo_order_independent(spark):
    from stockmarketdata_dwb_etl_spark.functions.exact import (
        hilo_finish,
        hilo_term_sum,
    )

    vals = [(((i * 13) % 1000 - 500) / 777.0,) for i in range(1, 800)]
    hi, lo = hilo_term_sum(F.col("x"), 12)

    def total(df):
        return (
            df.agg(hi.alias("sh"), lo.alias("sl"))
            .select(hilo_finish(F.col("sh"), F.col("sl"), 12).alias("s"))
            .collect()[0]["s"]
        )

    fwd = spark.createDataFrame(vals, ["x"])
    rev = spark.createDataFrame(list(reversed(vals)), ["x"]).repartition(7)
    assert total(fwd) == total(rev)


def test_connected_components_duplicate_edges_idempotent(spark):
    """assume_distinct relies on min-label propagation being unaffected
    by duplicate edges: dedup vs no-dedup must label identically even on
    an edge table WITH duplicates."""
    from stockmarketdata_dwb_etl_spark.operators.dedup import (
        connected_components,
    )

    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)]
    dup = edges + edges + [(2, 3)]
    df_dedup = spark.createDataFrame(dup, ["src", "dst"])
    a = {
        (r["id"], r["cluster_rep"])
        for r in connected_components(df_dedup).collect()
    }
    b = {
        (r["id"], r["cluster_rep"])
        for r in connected_components(
            df_dedup, assume_distinct=True
        ).collect()
    }
    assert a == b
    # ground truth: min label per chain component
    want = {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20), (23, 20),
    }
    assert a == want


def test_markov_journey_single_sort_order(spark):
    """The journey extraction shares ONE (user_id, ord_key ASC) sort: the
    journey plan must carry exactly one user-keyed Sort node and no
    descending Sort (the old row_number(DESC) loss-edge pass). The final
    plan reads the eager checkpoint's RDD and shows neither, so the
    check runs on the plan handed to the checkpoint."""
    from stockmarketdata_dwb_etl_spark.plans.audit import capture_checkpoints
    from stockmarketdata_dwb_etl_spark.registry import QUERIES, load_all

    load_all()
    with capture_checkpoints() as acc:
        QUERIES["q_markov_attribution"](spark, SF_DIR)
    assert len(acc.plans) == 1, "expected the one journey checkpoint"
    sorts = [n for n in acc.plans[0] if n.startswith("Sort [")]
    user_sorts = [n for n in sorts if n.startswith("Sort [user_id#")]
    assert len(user_sorts) == 1, sorts
    assert "ord_key" in user_sorts[0], sorts
    assert not [n for n in sorts if " DESC " in n], "journey pass reintroduced a DESC sort"


@pytest.mark.parametrize("lossy", [False, True], ids=["events", "lossy"])
def test_markov_journey_edges_equal_three_window_form(spark, lossy):
    """The one-window journey edges equal the three-window form they
    replaced (unordered conv-key min, ASC lag over the truncated prefix,
    DESC row_number for the loss edge), as multisets in both directions.
    Every sf0.001 journey converts, so the ``lossy`` input drops the
    conversions of every third user to give the loss edge rows."""
    from stockmarketdata_dwb_etl_spark.catalog import load_table
    from stockmarketdata_dwb_etl_spark.functions.bars import tick_key
    from stockmarketdata_dwb_etl_spark.queries.dataops22 import _CONV, journey_edges
    from pyspark.sql.window import Window

    ev = load_table(spark, SF_DIR, "events")
    if lossy:
        ev = ev.filter((F.col("user_id") % 3 != 0) | (F.col("event_type") != _CONV))
    one = journey_edges(ev)
    ord_key = tick_key()
    seq = ev.select(
        "user_id",
        "event_type",
        ord_key.alias("ord_key"),
        F.min(F.when(F.col("event_type") == _CONV, ord_key))
        .over(Window.partitionBy("user_id"))
        .alias("conv_key"),
    )
    pre = seq.filter(
        F.col("conv_key").isNull() | (F.col("ord_key") <= F.col("conv_key"))
    ).select("user_id", "event_type", "ord_key")
    hops = pre.select(
        F.coalesce(
            F.lag("event_type").over(Window.partitionBy("user_id").orderBy("ord_key")),
            F.lit("__start"),
        ).alias("src"),
        F.col("event_type").alias("dst"),
    )
    desc = Window.partitionBy("user_id").orderBy(F.col("ord_key").desc())
    lasts = (
        pre.withColumn("rn", F.row_number().over(desc))
        .filter((F.col("rn") == 1) & (F.col("event_type") != _CONV))
        .select(F.col("event_type").alias("src"), F.lit("__loss").alias("dst"))
    )
    three = (
        hops.unionByName(lasts)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    assert one.exceptAll(three).count() == 0
    assert three.exceptAll(one).count() == 0
    dsts = {r.dst for r in one.select("dst").distinct().collect()}
    srcs = {r.src for r in one.select("src").distinct().collect()}
    assert _CONV in dsts and "__start" in srcs
    assert ("__loss" in dsts) == lossy
