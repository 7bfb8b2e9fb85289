"""Round-6 operator guards: portable_round saturation bound and the
new sequential-recurrence operators' determinism seams."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from stockmarketdata_dwb_etl_spark.functions.exact import portable_round


def test_portable_round_saturates_above_int64(spark):
    """Document the engine-asymmetric overflow: Spark's floor(double)
    returns BIGINT and saturates at int64 max, so portable_round(x, n)
    corrupts any |x| >= ~9.2e18 / 10^n. Call sites with large terms
    must pre-normalize or lower n (functions/exact.py term contract)."""
    row = (
        spark.range(1)
        .select(
            portable_round(F.lit(5.0e10), 12).alias("overflowed"),
            portable_round(F.lit(5.0e10), 6).alias("safe"),
        )
        .collect()[0]
    )
    # 5e10 * 1e12 = 5e22 > int64 max -> saturated garbage, NOT 5e10
    assert row["overflowed"] != pytest.approx(5.0e10)
    # 5e10 * 1e6 = 5e16 < int64 max -> intact
    assert row["safe"] == pytest.approx(5.0e10)


def test_kruskal_terms_stay_under_saturation(spark):
    """q_kruskal_wallis pre-normalizes its rank-sum terms by N(N+1):
    the normalized term is ~nj/4, so |term|*1e6 must sit far below
    int64 max at the gate scales."""
    from tests.conftest import SF_DIR

    from stockmarketdata_dwb_etl_spark.catalog import load_table

    ev = load_table(spark, SF_DIR, "events")
    counts = [
        r["cnt"]
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    ]
    n = sum(counts)
    for nj in counts:
        # term ~= s2^2 / (4 * nj * n * (n+1)) with s2 <= 2 * nj * n
        term_bound = (2 * nj * n) ** 2 / (4 * nj * n * (n + 1))
        assert term_bound * 1e6 < 9.2e18


def test_kalman_matches_reference_recursion(spark):
    """The applyInPandas Kalman pass must agree with a plain-Python
    reference recursion on a toy series (op-order pinned)."""
    import pandas as pd

    from stockmarketdata_dwb_etl_spark.queries.finance4 import q_kalman_filter  # noqa: F401

    pdf = pd.DataFrame(
        {
            "symbol": ["s"] * 5,
            "bar_ts": pd.date_range("2024-01-01", periods=5, freq="h"),
            "close": [10.0, 12.0, 11.0, 15.0, 14.0],
        }
    )
    sdf = spark.createDataFrame(pdf)

    def kalman_group(g: pd.DataFrame) -> pd.DataFrame:
        g = g.sort_values("bar_ts").reset_index(drop=True)
        out, x, p = [], None, 1.0
        for z in g["close"]:
            if x is None:
                x = z
            else:
                pm = p + 0.001
                k = pm / (pm + 0.1)
                x = x + k * (z - x)
                p = (1.0 - k) * pm
            out.append(x)
        g["kalman"] = out
        return g

    got = (
        sdf.groupBy("symbol")
        .applyInPandas(
            kalman_group,
            "symbol string, bar_ts timestamp, close double, kalman double",
        )
        .orderBy("bar_ts")
        .collect()
    )
    x, p = 10.0, 1.0
    expected = [10.0]
    for z in [12.0, 11.0, 15.0, 14.0]:
        pm = p + 0.001
        k = pm / (pm + 0.1)
        x = x + k * (z - x)
        p = (1.0 - k) * pm
        expected.append(x)
    assert [r["kalman"] for r in got] == pytest.approx(expected, abs=0)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _queries():
    from stockmarketdata_dwb_etl_spark import registry

    registry.load_all()
    return registry.QUERIES


def test_round6_sequential_ops_are_arrow_not_row_python(spark):
    """TRIX / Heikin-Ashi / Kalman are the (b)-path custom operators:
    one Arrow-batched FlatMapGroupsInPandas each, never row-at-a-time
    BatchEvalPython."""
    from tests.conftest import SF_DIR

    for name in ("q_trix", "q_heikin_ashi", "q_kalman_filter"):
        plan = _plan(_queries()[name](spark, SF_DIR))
        assert "FlatMapGroupsInPandas" in plan, name
        assert "BatchEvalPython" not in plan, name


def test_indicator_windows_shuffle_once_on_symbol(spark):
    """The finance4 channel indicators are single-symbol-shuffle window
    passes: exactly TWO hash exchanges total — the inherent tick→bar
    aggregation on (event_type, hour) and ONE symbol partition shared
    by every window function — and zero joins. A third hash exchange
    means some window spec stopped sharing the symbol shuffle."""
    from tests.conftest import SF_DIR

    for name in ("q_donchian", "q_cci", "q_mfi", "q_cmf", "q_keltner"):
        plan = _plan(_queries()[name](spark, SF_DIR))
        assert "Join" not in plan, name
        n_hash_exchanges = plan.count("Exchange hashpartitioning")
        assert n_hash_exchanges == 2, (name, n_hash_exchanges)


def test_granger_broadcasts_nothing_bigger_than_market(spark):
    """q_granger_lite's pair join must stay co-partitioned on bar_ts —
    a catalog-bounded join, no nested-loop blowup."""
    from tests.conftest import SF_DIR

    plan = _plan(_queries()["q_granger_lite"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_jaccard_and_ra_topk_use_take_ordered(spark):
    """The bounded link-prediction outputs must plan as TakeOrdered,
    not a global sort + limit."""
    from tests.conftest import SF_DIR

    for name in ("q_jaccard_neighbors", "q_resource_allocation"):
        plan = _plan(_queries()[name](spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan, name
