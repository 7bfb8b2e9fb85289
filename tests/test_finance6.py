"""Property pins for the finance batch-6 indicators (the oracle
differential itself is covered for every entry by tests/test_oracle.py;
these assert the indicator-specific invariants the differential can't
see)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_cmo_bounded_and_frame_full(spark):
    """CMO is bounded to [-100, 100] by construction and only emitted on
    full 7-move frames: per symbol, n_rows == n_bars - 7 (6 warm-up moves
    + the first bar consumed by the lag)."""
    from stockmarketdata_dwb_etl_spark.catalog import load_table
    from stockmarketdata_dwb_etl_spark.functions.bars import OHLC, ohlcv_bars
    from stockmarketdata_dwb_etl_spark.queries.finance6 import (
        q_chande_momentum,
    )

    out = q_chande_momentum(spark, SF_DIR).toPandas()
    vals = out["cmo"].dropna()
    assert ((vals >= -100.0) & (vals <= 100.0)).all()
    bars = (
        ohlcv_bars(load_table(spark, SF_DIR, "events"), "hour", *OHLC)
        .groupBy("symbol")
        .count()
        .toPandas()
        .set_index("symbol")["count"]
    )
    per_sym = out.groupby("symbol").size()
    for sym, n in per_sym.items():
        assert n == bars[sym] - 7


def test_vortex_positive_and_tr_dominates(spark):
    """VI+ and VI- are non-negative; on a frame where TR >= each vortex
    movement bar-by-bar would give VI <= 1, but gaps can exceed the
    3-way TR only via |H_t-L_{t-1}| <= max(range, gap) — so the loose
    invariant is VI < 2 on any real series, and both legs must be
    finite wherever emitted."""
    from stockmarketdata_dwb_etl_spark.queries.finance6 import q_vortex

    out = q_vortex(spark, SF_DIR).toPandas()
    assert len(out) > 0
    for colname in ("vi_plus", "vi_minus"):
        vals = out[colname].dropna()
        assert (vals >= 0.0).all()


def test_yang_zhang_components_reconcile(spark):
    """yz_vol^2 must reproduce yz_var (within the 6dp round), the
    variance must be non-negative on this fixture, and every symbol with
    >1 hourly bar must appear."""
    from stockmarketdata_dwb_etl_spark.catalog import load_table
    from stockmarketdata_dwb_etl_spark.functions.bars import OHLC, ohlcv_bars
    from stockmarketdata_dwb_etl_spark.queries.finance6 import (
        q_yang_zhang_vol,
    )

    out = q_yang_zhang_vol(spark, SF_DIR).toPandas()
    syms = (
        ohlcv_bars(load_table(spark, SF_DIR, "events"), "hour", *OHLC)
        .groupBy("symbol")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert len(out) == syms
    for _, row in out.iterrows():
        assert row["yz_var"] >= 0.0
        assert abs(row["yz_vol"] ** 2 - row["yz_var"]) < 2e-3


def test_adx_bounded_and_di_nonnegative(spark):
    """ADX and both DIs live in [0, 100] by construction (each is a
    ratio of a smoothed non-negative part to the smoothed total, or a
    convex combination of such ratios); rows start at the second bar of
    every symbol."""
    from stockmarketdata_dwb_etl_spark.catalog import load_table
    from stockmarketdata_dwb_etl_spark.functions.bars import OHLC, ohlcv_bars
    from stockmarketdata_dwb_etl_spark.queries.finance6 import (
        q_adx,
    )

    out = q_adx(spark, SF_DIR).toPandas()
    for colname in ("di_plus", "di_minus", "adx"):
        vals = out[colname].dropna()
        assert ((vals >= 0.0) & (vals <= 100.0)).all(), colname
    bars = (
        ohlcv_bars(load_table(spark, SF_DIR, "events"), "hour", *OHLC)
        .groupBy("symbol")
        .count()
        .toPandas()
        .set_index("symbol")["count"]
    )
    per_sym = out.groupby("symbol").size()
    for sym, n in per_sym.items():
        assert n == bars[sym] - 1


def test_durbin_watson_bounded(spark):
    """DW lives in [0, 4] and every symbol with >= 3 bars reports."""
    from stockmarketdata_dwb_etl_spark.queries.finance6 import q_durbin_watson

    out = q_durbin_watson(spark, SF_DIR).toPandas()
    assert len(out) == 5
    vals = out["dw"].dropna()
    assert ((vals >= 0.0) & (vals <= 4.0)).all()
