"""Unit tests for the plan auditor (plans/audit.py) — the tool itself must
report the facts the plan-shape tests rely on."""

from __future__ import annotations

from pyspark.sql import functions as F

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.plans import audit
from tests.conftest import SF_DIR


def test_audit_counts_shuffle_and_codegen(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    df = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    a = audit(df)
    assert a.n_exchanges == 1
    assert a.n_hash_aggregates == 2  # partial + final
    assert a.python_is_arrow_only
    df.collect()
    post = audit(df)
    assert post.n_codegen_spans >= 1
    assert post.n_exchanges == 1  # final-plan-only: no double count

def test_audit_sees_pushdown_and_broadcast(spark):
    li = load_table(spark, SF_DIR, "lineitem").filter(F.col("l_quantity") > 10)
    part = load_table(spark, SF_DIR, "part")
    df = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    a = audit(df)
    assert a.pushed_filters and "l_quantity" in a.pushed_filters[0]
    assert a.n_broadcast_exchanges == 1
    assert a.joins == ["BroadcastHashJoin"]
    assert a.n_scans == 2

def test_audit_flags_row_python(spark):
    from pyspark.sql.types import DoubleType

    bad = F.udf(lambda x: x + 1.0, DoubleType(), useArrow=False)
    df = load_table(spark, SF_DIR, "lineitem").select(bad("l_quantity"))
    a = audit(df)
    assert a.row_python_nodes >= 1
    assert not a.python_is_arrow_only


def test_nested_initial_plan_section_ends_at_outer_node():
    """A persisted table's build prints as a nested adaptive plan with
    its own Final/Initial sections; the outer plan's nodes after it are
    kept, and only the nested initial plan is dropped."""
    from stockmarketdata_dwb_etl_spark.plans.audit import _final_plan_only

    plan = "\n".join(
        [
            "AdaptiveSparkPlan isFinalPlan=false",
            "+- HashAggregate(keys=[dst#1])",
            "   +- Exchange hashpartitioning(dst#1, 2), [plan_id=9]",
            "      +- InMemoryTableScan [x#2]",
            "            +- InMemoryRelation [x#2]",
            "                  +- AdaptiveSparkPlan isFinalPlan=true",
            "                     +- == Final Plan ==",
            "                        ResultQueryStage 1",
            "                        +- Exchange hashpartitioning(x#2, 2), [plan_id=5]",
            "                     +- == Initial Plan ==",
            "                        HashAggregate(keys=[x#2])",
            "                        +- Exchange hashpartitioning(x#2, 2), [plan_id=3]",
            "      :  +- BroadcastExchange HashedRelationBroadcastMode, [plan_id=8]",
        ]
    )
    kept = _final_plan_only(plan)
    assert "[plan_id=5]" in kept and "[plan_id=9]" in kept
    assert "[plan_id=8]" in kept, "outer node after the nested section was dropped"
    assert "[plan_id=3]" not in kept and "== " not in kept
