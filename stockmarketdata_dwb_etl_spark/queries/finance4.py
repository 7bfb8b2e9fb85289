"""Channel / money-flow indicator battery: Donchian, Williams %R, CCI,
MFI, Chaikin money flow, Ichimoku, floor-trader pivots, Keltner, Aroon.

Extends the indicator surface (finance.py / finance2.py / finance3.py)
with the channel-breakout and volume-flow families a market-data
warehouse serves after load (the reference's BigQuery sink exists for
exactly this analysis tier — /root/reference/dump_bigq.py:135-149).

Determinism policy (same as finance2.py): bars reuse the padded
(ts,event_id) ordering key; every cross-row accumulation (window SUM)
runs in exact DECIMAL; double math uses the identical expression tree on
both engines; reported doubles go through the portable floor-form round;
every windowed row is gated on a FULL frame (row_number ≥ window) so no
partial-window edge values are emitted.

Scale: each indicator is ONE shuffle (the symbol hash-partition for the
bar windows) over pre-aggregated bars — bar count is rows/√(tick density)
smaller than the event table, windows are bounded ROWS frames with O(1)
state per row (the CCI mean-absolute-deviation frame carries its bounded
20-element array), and nothing self-joins or collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.bars import (
    OHLCV,
    bar_returns,
    market_return,
    ohlcv_bars,
    sql_bar_returns,
    sql_market_return,
    sql_ohlcv_bars,
)
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    split_term_sum,
    sql_portable_round,
    sql_split_term_sum,
)
from stockmarketdata_dwb_etl_spark.registry import query

# Cross-row double sums route through the two-bucket split sum
# (stats_q, 2^53 rule in tests/test_split_sum.py): typical prices reach
# ~560, money flow tp*volume ~3e4, and hourly simple returns spike to
# ~1.5e3 — all past the raw DECIMAL(38,18) cast's 9e-3 bound — so every
# unrounded sum uses (12,8); pre-rounded fold terms cast at their own
# exact scale.

# The full-frame gate over hourly OHLCV bars: a per-symbol row number.
_DUCK_NUMBERED = """
    nbars AS (
        SELECT symbol, bar_ts, open, high, low, close, volume,
               CAST(row_number() OVER (PARTITION BY symbol ORDER BY bar_ts)
                    AS BIGINT) AS rn
        FROM bars
    )
"""


def _numbered(bars: DataFrame) -> DataFrame:
    """Spark twin of ``_DUCK_NUMBERED``: ``bars`` plus its row number."""
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    return bars.withColumn("rn", F.row_number().over(w).cast("bigint"))


def _rows_window(n: int):
    return (
        Window.partitionBy("symbol")
        .orderBy("bar_ts")
        .rowsBetween(-(n - 1), Window.currentRow)
    )


@query(
    "q_donchian",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", *OHLCV)}),
    {_DUCK_NUMBERED},
    ch AS (
        SELECT symbol, bar_ts, close, rn,
               max(high) OVER w AS upper,
               min(low)  OVER w AS lower
        FROM nbars
        WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT symbol, bar_ts, upper, lower,
           {sql_portable_round("(upper + lower) / 2.0", 6)} AS mid,
           {sql_portable_round("(upper - lower) / ((upper + lower) / 2.0) * 100.0", 6)}
               AS width_pct,
           CAST(CASE WHEN close >= upper THEN 1 ELSE 0 END AS INTEGER)
               AS at_upper
    FROM ch WHERE rn >= 20 ORDER BY symbol, bar_ts
    """,
)
def q_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bar Donchian channel per symbol: rolling high/low envelope,
    midline, width as % of mid, and the new-high touch flag (close at
    the upper rail — the breakout signal turtle-style systems trade).
    max/min are exact over doubles (no accumulation error), so only the
    derived mid/width divide chains round. Scale: one bounded ROWS
    window over pre-aggregated bars — one shuffle on symbol."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLCV)
    ch = _numbered(bars).select(
        "symbol",
        "bar_ts",
        "close",
        "rn",
        F.max("high").over(_rows_window(20)).alias("upper"),
        F.min("low").over(_rows_window(20)).alias("lower"),
    )
    mid = (F.col("upper") + F.col("lower")) / 2.0
    return (
        ch.filter(F.col("rn") >= 20)
        .select(
            "symbol",
            "bar_ts",
            "upper",
            "lower",
            portable_round(mid, 6).alias("mid"),
            portable_round(
                (F.col("upper") - F.col("lower")) / mid * 100.0, 6
            ).alias("width_pct"),
            F.when(F.col("close") >= F.col("upper"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("at_upper"),
        )
        .orderBy("symbol", "bar_ts")
    )


@query(
    "q_williams_r",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", *OHLCV)}),
    {_DUCK_NUMBERED},
    ch AS (
        SELECT symbol, bar_ts, close, rn,
               max(high) OVER w AS hh,
               min(low)  OVER w AS ll
        FROM nbars
        WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT symbol, bar_ts,
           CASE WHEN hh = ll THEN NULL
                ELSE {sql_portable_round("-100.0 * (hh - close) / (hh - ll)", 6)} END
               AS williams_r
    FROM ch WHERE rn >= 14 ORDER BY symbol, bar_ts
    """,
)
def q_williams_r(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Williams %R (14): −100·(HH−close)/(HH−LL) — where the close sits
    in the 14-bar high-low range, the bounded momentum oscillator
    (0 = at the high, −100 = at the low). Flat-range bars (HH = LL)
    emit NULL rather than a divide-by-zero. Scale: same one-window
    posture as q_donchian."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLCV)
    ch = _numbered(bars).select(
        "symbol",
        "bar_ts",
        "close",
        "rn",
        F.max("high").over(_rows_window(14)).alias("hh"),
        F.min("low").over(_rows_window(14)).alias("ll"),
    )
    return (
        ch.filter(F.col("rn") >= 14)
        .select(
            "symbol",
            "bar_ts",
            F.when(F.col("hh") == F.col("ll"), F.lit(None).cast("double"))
            .otherwise(
                portable_round(
                    F.lit(-100.0)
                    * (F.col("hh") - F.col("close"))
                    / (F.col("hh") - F.col("ll")),
                    6,
                )
            )
            .alias("williams_r"),
        )
        .orderBy("symbol", "bar_ts")
    )


@query(
    "q_cci",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", *OHLCV)}),
    {_DUCK_NUMBERED},
    tpb AS (
        SELECT symbol, bar_ts, rn,
               (high + low + close) / 3.0 AS tp
        FROM nbars
    ),
    fr AS (
        SELECT symbol, bar_ts, tp, rn,
               {sql_split_term_sum("tp", 12, 8, "OVER w")}
                   / 20.0 AS sma,
               list(tp) OVER w AS arr
        FROM tpb
        WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ),
    md AS (
        SELECT symbol, bar_ts, tp, sma, rn,
               CAST(list_sum(list_transform(arr,
                    x -> CAST({sql_portable_round("abs(x - sma)", 10)}
                              AS DECIMAL(28,10))))
                    AS DOUBLE) / 20.0 AS mad
        FROM fr
    )
    SELECT symbol, bar_ts,
           {sql_portable_round("sma", 6)} AS sma_tp,
           {sql_portable_round("mad", 6)} AS mean_dev,
           CASE WHEN mad = 0 THEN NULL
                ELSE {sql_portable_round("(tp - sma) / (0.015 * mad)", 6)} END AS cci
    FROM md WHERE rn >= 20 ORDER BY symbol, bar_ts
    """,
)
def q_cci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commodity Channel Index (20): (TP − SMA(TP))/(0.015·MD) where MD
    is the mean ABSOLUTE deviation of the frame's typical prices from
    the frame's own SMA — not a decomposable aggregate (the deviation
    center changes every bar), so the frame is carried as a bounded
    20-element array and folded: each |TPᵢ − SMA_t| casts to exact
    DECIMAL before summing, making the fold order-insensitive and
    bit-identical cross-engine. Scale: the array is frame-bounded (20
    doubles/row); still one symbol-partition window pass."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLCV)
    tpb = _numbered(bars).select(
        "symbol",
        "bar_ts",
        "rn",
        ((F.col("high") + F.col("low") + F.col("close")) / 3.0).alias("tp"),
    )
    w = _rows_window(20)
    fr = tpb.select(
        "symbol",
        "bar_ts",
        "tp",
        "rn",
        (split_term_sum(F.col("tp"), 12, 8, w) / 20.0).alias("sma"),
        F.collect_list("tp").over(w).alias("arr"),
    )
    # fold terms 10dp-pre-round then cast at their OWN scale:
    # |x - sma| <= ~560 -> k <= 5.6e12 << 2^53, exact on both engines.
    # Precision 28 (NOT 38) is load-bearing: (28,10)+(28,10) -> (29,10)
    # stays under Spark's 38 cap so every fold step is EXACT, whereas
    # (38,10)+(38,10) overflows to 39 and Spark silently REDUCES the
    # result scale to 9, half-up-rounding each step (observed +29e-10
    # drift over a 20-element frame vs DuckDB's exact list_sum).
    mad = (
        F.aggregate(
            F.col("arr"),
            F.lit(0).cast("decimal(28,10)"),
            lambda acc, x: (
                acc
                + portable_round(F.abs(x - F.col("sma")), 10).cast(
                    "decimal(28,10)"
                )
            ).cast("decimal(28,10)"),
        ).cast("double")
        / 20.0
    )
    md = fr.select("symbol", "bar_ts", "tp", "sma", "rn", mad.alias("mad"))
    return (
        md.filter(F.col("rn") >= 20)
        .select(
            "symbol",
            "bar_ts",
            portable_round(F.col("sma"), 6).alias("sma_tp"),
            portable_round(F.col("mad"), 6).alias("mean_dev"),
            F.when(F.col("mad") == 0, F.lit(None).cast("double"))
            .otherwise(
                portable_round(
                    (F.col("tp") - F.col("sma")) / (0.015 * F.col("mad")), 6
                )
            )
            .alias("cci"),
        )
        .orderBy("symbol", "bar_ts")
    )


@query(
    "q_mfi",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", *OHLCV)}),
    {_DUCK_NUMBERED},
    tpb AS (
        SELECT symbol, bar_ts, rn, volume,
               (high + low + close) / 3.0 AS tp
        FROM nbars
    ),
    fl AS (
        SELECT symbol, bar_ts, rn, tp, volume,
               lag(tp) OVER (PARTITION BY symbol ORDER BY bar_ts) AS ptp
        FROM tpb
    ),
    sums AS (
        SELECT symbol, bar_ts, rn,
               {sql_split_term_sum(
                   "CASE WHEN ptp IS NOT NULL AND tp > ptp"
                   " THEN tp * volume ELSE 0 END", 12, 8, "OVER w")}
                   AS pos_mf,
               {sql_split_term_sum(
                   "CASE WHEN ptp IS NOT NULL AND tp < ptp"
                   " THEN tp * volume ELSE 0 END", 12, 8, "OVER w")}
                   AS neg_mf
        FROM fl
        WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT symbol, bar_ts,
           {sql_portable_round("pos_mf", 6)} AS pos_mf,
           {sql_portable_round("neg_mf", 6)} AS neg_mf,
           CASE WHEN pos_mf + neg_mf = 0 THEN NULL
                ELSE {sql_portable_round("100.0 * pos_mf / (pos_mf + neg_mf)", 6)} END
               AS mfi
    FROM sums WHERE rn >= 15 ORDER BY symbol, bar_ts
    """,
)
def q_mfi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money Flow Index (14): volume-weighted RSI — raw money flow
    TP·volume splits into positive/negative by the typical-price
    direction vs the prior bar, summed over 14 bars (exact DECIMAL),
    MFI = 100·pos/(pos+neg). Gated at rn ≥ 15 so every frame row has a
    defined direction. Scale: lag + one bounded window, single symbol
    shuffle."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLCV)
    tpb = _numbered(bars).select(
        "symbol",
        "bar_ts",
        "rn",
        "volume",
        ((F.col("high") + F.col("low") + F.col("close")) / 3.0).alias("tp"),
    )
    lw = Window.partitionBy("symbol").orderBy("bar_ts")
    fl = tpb.withColumn("ptp", F.lag("tp").over(lw))
    w = _rows_window(14)
    zero = F.lit(0.0)
    mf = F.col("tp") * F.col("volume")
    sums = fl.select(
        "symbol",
        "bar_ts",
        "rn",
        split_term_sum(
            F.when(F.col("ptp").isNotNull() & (F.col("tp") > F.col("ptp")), mf)
            .otherwise(zero),
            12,
            8,
            w,
        ).alias("pos_mf"),
        split_term_sum(
            F.when(F.col("ptp").isNotNull() & (F.col("tp") < F.col("ptp")), mf)
            .otherwise(zero),
            12,
            8,
            w,
        ).alias("neg_mf"),
    )
    denom = F.col("pos_mf") + F.col("neg_mf")
    return (
        sums.filter(F.col("rn") >= 15)
        .select(
            "symbol",
            "bar_ts",
            portable_round(F.col("pos_mf"), 6).alias("pos_mf"),
            portable_round(F.col("neg_mf"), 6).alias("neg_mf"),
            F.when(denom == 0, F.lit(None).cast("double"))
            .otherwise(portable_round(F.lit(100.0) * F.col("pos_mf") / denom, 6))
            .alias("mfi"),
        )
        .orderBy("symbol", "bar_ts")
    )


@query(
    "q_cmf",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", *OHLCV)}),
    {_DUCK_NUMBERED},
    mfv AS (
        SELECT symbol, bar_ts, rn, volume,
               CASE WHEN high = low THEN 0.0
                    ELSE ((close - low) - (high - close)) / (high - low)
               END * volume AS mfv
        FROM nbars
    ),
    sums AS (
        SELECT symbol, bar_ts, rn,
               {sql_split_term_sum("mfv", 12, 8, "OVER w")}
                   AS s_mfv,
               CAST(sum(volume) OVER w AS BIGINT) AS s_vol
        FROM mfv
        WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT symbol, bar_ts, s_vol,
           {sql_portable_round("s_mfv / s_vol", 6)} AS cmf
    FROM sums WHERE rn >= 20 ORDER BY symbol, bar_ts
    """,
)
def q_cmf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chaikin Money Flow (20): the money-flow multiplier
    ((close−low)−(high−close))/(high−low) scaled by volume, summed over
    20 bars and normalized by the volume sum — where in the bar's range
    closes landed, volume-weighted (accumulation vs distribution).
    Flat bars contribute 0. Money-flow volume sums in exact DECIMAL;
    the volume denominator is an exact integer sum. Scale: one bounded
    window, one shuffle."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLCV)
    nb = _numbered(bars)
    mfm = F.when(F.col("high") == F.col("low"), F.lit(0.0)).otherwise(
        ((F.col("close") - F.col("low")) - (F.col("high") - F.col("close")))
        / (F.col("high") - F.col("low"))
    )
    mfv = nb.select(
        "symbol",
        "bar_ts",
        "rn",
        "volume",
        (mfm * F.col("volume")).alias("mfv"),
    )
    w = _rows_window(20)
    sums = mfv.select(
        "symbol",
        "bar_ts",
        "rn",
        split_term_sum(F.col("mfv"), 12, 8, w).alias("s_mfv"),
        F.sum("volume").over(w).cast("bigint").alias("s_vol"),
    )
    return (
        sums.filter(F.col("rn") >= 20)
        .select(
            "symbol",
            "bar_ts",
            "s_vol",
            portable_round(F.col("s_mfv") / F.col("s_vol"), 6).alias("cmf"),
        )
        .orderBy("symbol", "bar_ts")
    )


@query(
    "q_ichimoku",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", *OHLCV)}),
    {_DUCK_NUMBERED},
    lines AS (
        SELECT symbol, bar_ts, close, rn,
               (max(high) OVER w9  + min(low) OVER w9)  / 2.0 AS conv,
               (max(high) OVER w26 + min(low) OVER w26) / 2.0 AS base,
               (max(high) OVER w52 + min(low) OVER w52) / 2.0 AS b52
        FROM nbars
        WINDOW w9  AS (PARTITION BY symbol ORDER BY bar_ts
                       ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
               w26 AS (PARTITION BY symbol ORDER BY bar_ts
                       ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
               w52 AS (PARTITION BY symbol ORDER BY bar_ts
                       ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)
    ),
    sh AS (
        SELECT symbol, bar_ts, close, rn,
               conv, base,
               lag((conv + base) / 2.0, 26) OVER ws AS span_a,
               lag(b52, 26) OVER ws AS span_b,
               lead(close, 26) OVER ws AS chikou
        FROM lines
        WINDOW ws AS (PARTITION BY symbol ORDER BY bar_ts)
    )
    SELECT symbol, bar_ts,
           {sql_portable_round("conv", 6)} AS conversion,
           {sql_portable_round("base", 6)} AS base,
           {sql_portable_round("span_a", 6)} AS span_a,
           {sql_portable_round("span_b", 6)} AS span_b,
           chikou,
           CAST(CASE WHEN close > greatest(span_a, span_b) THEN 1
                     WHEN close < least(span_a, span_b) THEN -1
                     ELSE 0 END AS INTEGER) AS vs_cloud
    FROM sh WHERE rn >= 78 ORDER BY symbol, bar_ts
    """,
)
def q_ichimoku(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ichimoku Kinkō Hyō: conversion (9-bar midrange), base (26),
    leading spans A/B (midranges shifted 26 forward — realized here as
    lag(26) so the row shows the cloud IN EFFECT at that bar), the
    lagging span (close displaced back — lead(26)), and the
    close-vs-cloud position (+1 above / −1 below / 0 inside). Gated at
    rn ≥ 78 = 52+26 so both spans are defined; the chikou column is
    NULL for each symbol's final 26 bars by construction (identical on
    both engines). Scale: three bounded max/min windows + one
    lag/lead pass, all over the same symbol partition — one shuffle."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLCV)
    nb = _numbered(bars)
    lines = nb.select(
        "symbol",
        "bar_ts",
        "close",
        "rn",
        (
            (F.max("high").over(_rows_window(9)) + F.min("low").over(_rows_window(9)))
            / 2.0
        ).alias("conv"),
        (
            (
                F.max("high").over(_rows_window(26))
                + F.min("low").over(_rows_window(26))
            )
            / 2.0
        ).alias("base"),
        (
            (
                F.max("high").over(_rows_window(52))
                + F.min("low").over(_rows_window(52))
            )
            / 2.0
        ).alias("b52"),
    )
    ws = Window.partitionBy("symbol").orderBy("bar_ts")
    sh = lines.select(
        "symbol",
        "bar_ts",
        "close",
        "rn",
        "conv",
        "base",
        F.lag((F.col("conv") + F.col("base")) / 2.0, 26).over(ws).alias("span_a"),
        F.lag("b52", 26).over(ws).alias("span_b"),
        F.lead("close", 26).over(ws).alias("chikou"),
    )
    return (
        sh.filter(F.col("rn") >= 78)
        .select(
            "symbol",
            "bar_ts",
            portable_round(F.col("conv"), 6).alias("conversion"),
            portable_round(F.col("base"), 6).alias("base"),
            portable_round(F.col("span_a"), 6).alias("span_a"),
            portable_round(F.col("span_b"), 6).alias("span_b"),
            "chikou",
            F.when(
                F.col("close") > F.greatest("span_a", "span_b"), F.lit(1)
            )
            .when(F.col("close") < F.least("span_a", "span_b"), F.lit(-1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("vs_cloud"),
        )
        .orderBy("symbol", "bar_ts")
    )


@query(
    "q_pivot_points",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("day", *OHLCV)}),
    pv AS (
        SELECT symbol, bar_ts, close,
               lag(high)  OVER ws AS ph,
               lag(low)   OVER ws AS pl,
               lag(close) OVER ws AS pc
        FROM bars
        WINDOW ws AS (PARTITION BY symbol ORDER BY bar_ts)
    )
    SELECT symbol, CAST(bar_ts AS DATE) AS day,
           {sql_portable_round("(ph + pl + pc) / 3.0", 6)} AS pivot,
           {sql_portable_round("2.0 * (ph + pl + pc) / 3.0 - pl", 6)} AS r1,
           {sql_portable_round("2.0 * (ph + pl + pc) / 3.0 - ph", 6)} AS s1,
           {sql_portable_round("(ph + pl + pc) / 3.0 + (ph - pl)", 6)} AS r2,
           {sql_portable_round("(ph + pl + pc) / 3.0 - (ph - pl)", 6)} AS s2,
           CAST(CASE WHEN close > (ph + pl + pc) / 3.0 THEN 1
                ELSE 0 END AS INTEGER) AS above_pivot
    FROM pv WHERE ph IS NOT NULL ORDER BY symbol, day
    """,
)
def q_pivot_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic floor-trader pivot levels from the PRIOR session's
    high/low/close (daily bars): P = (H+L+C)/3, R1/S1 = 2P−L / 2P−H,
    R2/S2 = P±(H−L), plus whether the day closed above its pivot. Pure
    lag arithmetic — the identical double tree on both engines; first
    session per symbol drops (no prior bar). Scale: daily bars are tiny
    relative to events; one lag window, one shuffle."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "day", *OHLCV)
    ws = Window.partitionBy("symbol").orderBy("bar_ts")
    pv = bars.select(
        "symbol",
        "bar_ts",
        "close",
        F.lag("high").over(ws).alias("ph"),
        F.lag("low").over(ws).alias("pl"),
        F.lag("close").over(ws).alias("pc"),
    )
    p = (F.col("ph") + F.col("pl") + F.col("pc")) / 3.0
    return (
        pv.filter(F.col("ph").isNotNull())
        .select(
            "symbol",
            F.col("bar_ts").cast("date").alias("day"),
            portable_round(p, 6).alias("pivot"),
            portable_round(2.0 * p - F.col("pl"), 6).alias("r1"),
            portable_round(2.0 * p - F.col("ph"), 6).alias("s1"),
            portable_round(p + (F.col("ph") - F.col("pl")), 6).alias("r2"),
            portable_round(p - (F.col("ph") - F.col("pl")), 6).alias("s2"),
            F.when(F.col("close") > p, F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("above_pivot"),
        )
        .orderBy("symbol", "day")
    )


@query(
    "q_keltner",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", *OHLCV)}),
    {_DUCK_NUMBERED},
    tpb AS (
        SELECT symbol, bar_ts, close, rn,
               (high + low + close) / 3.0 AS tp,
               high - low AS rng
        FROM nbars
    ),
    ch AS (
        SELECT symbol, bar_ts, close, rn,
               {sql_split_term_sum("tp", 12, 8, "OVER w20")}
                   / 20.0 AS center,
               {sql_split_term_sum("rng", 12, 8, "OVER w10")}
                   / 10.0 AS band
        FROM tpb
        WINDOW w20 AS (PARTITION BY symbol ORDER BY bar_ts
                       ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
               w10 AS (PARTITION BY symbol ORDER BY bar_ts
                       ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT symbol, bar_ts,
           {sql_portable_round("center", 6)} AS center,
           {sql_portable_round("center + band", 6)} AS upper,
           {sql_portable_round("center - band", 6)} AS lower,
           CASE WHEN band = 0 THEN NULL
                ELSE {sql_portable_round("(close - (center - band)) / (2.0 * band)", 6)} END
               AS channel_pos
    FROM ch WHERE rn >= 20 ORDER BY symbol, bar_ts
    """,
)
def q_keltner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keltner channel (classic Chester Keltner form): center = 20-bar
    SMA of typical price, band = 10-bar SMA of the high-low range,
    rails at center ± band, plus the close's normalized position in the
    channel. Both SMAs accumulate in exact DECIMAL. Scale: two bounded
    windows over the same symbol partition — one shuffle."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLCV)
    tpb = _numbered(bars).select(
        "symbol",
        "bar_ts",
        "close",
        "rn",
        ((F.col("high") + F.col("low") + F.col("close")) / 3.0).alias("tp"),
        (F.col("high") - F.col("low")).alias("rng"),
    )
    ch = tpb.select(
        "symbol",
        "bar_ts",
        "close",
        "rn",
        (split_term_sum(F.col("tp"), 12, 8, _rows_window(20)) / 20.0).alias("center"),
        (split_term_sum(F.col("rng"), 12, 8, _rows_window(10)) / 10.0).alias("band"),
    )
    return (
        ch.filter(F.col("rn") >= 20)
        .select(
            "symbol",
            "bar_ts",
            portable_round(F.col("center"), 6).alias("center"),
            portable_round(F.col("center") + F.col("band"), 6).alias("upper"),
            portable_round(F.col("center") - F.col("band"), 6).alias("lower"),
            F.when(F.col("band") == 0, F.lit(None).cast("double"))
            .otherwise(
                portable_round(
                    (F.col("close") - (F.col("center") - F.col("band")))
                    / (2.0 * F.col("band")),
                    6,
                )
            )
            .alias("channel_pos"),
        )
        .orderBy("symbol", "bar_ts")
    )


@query(
    "q_aroon",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", *OHLCV)}),
    {_DUCK_NUMBERED},
    mx AS (
        SELECT symbol, bar_ts, rn,
               max(struct_pack(v := high, rn := rn)) OVER w AS hs,
               min(struct_pack(v := low,  rn := rn)) OVER w AS ls
        FROM nbars
        WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts
                     ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)
    ),
    ar AS (
        SELECT symbol, bar_ts, rn,
               (25.0 - (rn - hs.rn)) * 4.0 AS aroon_up,
               (25.0 - (rn - ls.rn)) * 4.0 AS aroon_down
        FROM mx
    )
    SELECT symbol, bar_ts,
           {sql_portable_round("aroon_up", 6)} AS aroon_up,
           {sql_portable_round("aroon_down", 6)} AS aroon_down,
           {sql_portable_round("aroon_up - aroon_down", 6)} AS aroon_osc
    FROM ar WHERE rn >= 25 ORDER BY symbol, bar_ts
    """,
)
def q_aroon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aroon (25): 100·(25 − bars-since-extreme)/25 for the rolling
    25-bar high and low, plus the oscillator (up − down). The
    bars-since position comes from a lexicographic struct max/min over
    (value, rn) — tie on equal extremes resolves to the LATEST bar for
    highs and the EARLIEST for lows identically on both engines (struct
    ordering), with no argmax nondeterminism. Scale: one bounded
    window, state is one struct per frame — one shuffle."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLCV)
    nb = _numbered(bars)
    w = _rows_window(25)
    mx = nb.select(
        "symbol",
        "bar_ts",
        "rn",
        F.max(F.struct(F.col("high").alias("v"), F.col("rn").alias("rn")))
        .over(w)
        .alias("hs"),
        F.min(F.struct(F.col("low").alias("v"), F.col("rn").alias("rn")))
        .over(w)
        .alias("ls"),
    )
    up = (F.lit(25.0) - (F.col("rn") - F.col("hs.rn"))) * 4.0
    down = (F.lit(25.0) - (F.col("rn") - F.col("ls.rn"))) * 4.0
    return (
        mx.filter(F.col("rn") >= 25)
        .select(
            "symbol",
            "bar_ts",
            portable_round(up, 6).alias("aroon_up"),
            portable_round(down, 6).alias("aroon_down"),
            portable_round(up - down, 6).alias("aroon_osc"),
        )
        .orderBy("symbol", "bar_ts")
    )


@query(
    "q_trix",
    oracle=f"""
    WITH RECURSIVE bars AS ({sql_ohlcv_bars("hour", *OHLCV)}),
    nb AS (
        SELECT symbol, bar_ts, close,
               row_number() OVER (PARTITION BY symbol ORDER BY bar_ts) AS rn
        FROM bars
    ),
    packed AS (
        SELECT symbol, list(close ORDER BY rn) AS xs,
               len(list(close)) AS n
        FROM nb GROUP BY symbol
    ),
    r1 AS (
        SELECT symbol, xs, n, 1 AS rn, xs[1] AS e FROM packed
        UNION ALL
        SELECT symbol, xs, n, rn + 1, 0.875 * e + 0.125 * xs[rn + 1]
        FROM r1 WHERE rn < n
    ),
    p1 AS (
        SELECT symbol, list(e ORDER BY rn) AS xs, len(list(e)) AS n
        FROM r1 GROUP BY symbol
    ),
    r2 AS (
        SELECT symbol, xs, n, 1 AS rn, xs[1] AS e FROM p1
        UNION ALL
        SELECT symbol, xs, n, rn + 1, 0.875 * e + 0.125 * xs[rn + 1]
        FROM r2 WHERE rn < n
    ),
    p2 AS (
        SELECT symbol, list(e ORDER BY rn) AS xs, len(list(e)) AS n
        FROM r2 GROUP BY symbol
    ),
    r3 AS (
        SELECT symbol, xs, n, 1 AS rn, xs[1] AS e FROM p2
        UNION ALL
        SELECT symbol, xs, n, rn + 1, 0.875 * e + 0.125 * xs[rn + 1]
        FROM r3 WHERE rn < n
    ),
    tr AS (
        SELECT symbol, rn, e,
               lag(e) OVER (PARTITION BY symbol ORDER BY rn) AS pe
        FROM r3
    )
    SELECT nb.symbol, nb.bar_ts,
           {sql_portable_round("tr.e", 6)} AS ema3,
           CASE WHEN tr.pe IS NULL OR tr.pe = 0 THEN NULL
                ELSE {sql_portable_round("100.0 * (tr.e / tr.pe - 1.0)", 6)} END AS trix
    FROM nb JOIN tr ON tr.symbol = nb.symbol AND tr.rn = nb.rn
    ORDER BY nb.symbol, nb.bar_ts
    """,
)
def q_trix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIX(15): 1-bar % rate of change of the TRIPLE 0.125-smoothed
    EMA of hourly closes (alpha = 2/(15+1)) — the triple smoothing kills
    sub-cycle noise, the rate-of-change restores momentum sign. Like
    q_ewma this recurrence is inherently sequential, so it's the
    documented (b)-path custom operator: one Arrow-batched
    ``applyInPandas`` per symbol runs all three EMA passes in a single
    vectorized visit (no 3x shuffle); the oracle chains three
    packed-list recursive CTEs with the identical 0.875*e + 0.125*x
    multiply-add order, so float64 results agree bit-for-bit. Scale:
    per-symbol state is one float per pass; partition count = symbols
    (the q_ewma posture — time-range chunking with carried seed is the
    giant-series escape hatch)."""
    import pandas as pd

    bars = ohlcv_bars(

        load_table(spark, sf_dir, "events"), "hour", *OHLCV

    ).select("symbol", "bar_ts", "close")

    def trix_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bar_ts").reset_index(drop=True)
        series = list(pdf["close"])
        for _ in range(3):
            out, prev = [], None
            for x in series:
                prev = x if prev is None else 0.875 * prev + 0.125 * x
                out.append(prev)
            series = out
        pdf["ema3"] = series
        return pdf

    long = bars.groupBy("symbol").applyInPandas(
        trix_group, "symbol string, bar_ts timestamp, close double, ema3 double"
    )
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    pe = F.lag("ema3").over(w)
    return (
        long.select(
            "symbol",
            "bar_ts",
            portable_round("ema3", 6).alias("ema3_r"),
            F.when(pe.isNull() | (pe == 0), F.lit(None).cast("double"))
            .otherwise(
                portable_round(F.lit(100.0) * (F.col("ema3") / pe - 1.0), 6)
            )
            .alias("trix"),
        )
        .withColumnRenamed("ema3_r", "ema3")
        .orderBy("symbol", "bar_ts")
    )


@query(
    "q_heikin_ashi",
    oracle=f"""
    WITH RECURSIVE bars AS ({sql_ohlcv_bars("hour", *OHLCV)}),
    nb AS (
        SELECT symbol, bar_ts, open, high, low, close,
               (open + high + low + close) / 4.0 AS hc,
               row_number() OVER (PARTITION BY symbol ORDER BY bar_ts) AS rn
        FROM bars
    ),
    packed AS (
        SELECT symbol,
               list(hc ORDER BY rn) AS hcs,
               first(open ORDER BY rn) AS o1,
               first(close ORDER BY rn) AS c1,
               len(list(hc)) AS n
        FROM nb GROUP BY symbol
    ),
    rec AS (
        SELECT symbol, hcs, n, 1 AS rn, (o1 + c1) / 2.0 AS ho FROM packed
        UNION ALL
        SELECT symbol, hcs, n, rn + 1, 0.5 * ho + 0.5 * hcs[rn]
        FROM rec WHERE rn < n
    )
    SELECT nb.symbol, nb.bar_ts,
           {sql_portable_round("r.ho", 6)} AS ha_open,
           {sql_portable_round("nb.hc", 6)} AS ha_close,
           {sql_portable_round("greatest(nb.high, r.ho, nb.hc)", 6)} AS ha_high,
           {sql_portable_round("least(nb.low, r.ho, nb.hc)", 6)} AS ha_low,
           CAST(CASE WHEN nb.hc > r.ho THEN 1 ELSE 0 END AS INTEGER)
               AS bullish
    FROM nb JOIN rec r ON r.symbol = nb.symbol AND r.rn = nb.rn
    ORDER BY nb.symbol, nb.bar_ts
    """,
)
def q_heikin_ashi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heikin-Ashi candles from hourly OHLC bars: ha_close =
    (O+H+L+C)/4 map-side; ha_open is the sequential recurrence
    ha_open_t = (ha_open_{t-1} + ha_close_{t-1})/2 seeded at
    (O_1+C_1)/2 — the trend-smoothing candle transform charting
    pipelines apply before pattern rules. Same custom-operator path as
    q_ewma/q_trix: one ``applyInPandas`` pass per symbol with the
    identical 0.5*a + 0.5*b multiply-add order as the oracle's
    packed-list recursion (bit-identical float64); ha_high/ha_low are
    pure greatest/least trees. Scale: per-symbol state is one float;
    everything else stays map-side over the bar table."""
    import pandas as pd

    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLCV)
    hc = ((F.col("open") + F.col("high") + F.col("low") + F.col("close")) / 4.0)
    nb = bars.select("symbol", "bar_ts", "open", "high", "low", "close", hc.alias("hc"))

    def ha_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bar_ts").reset_index(drop=True)
        ho, out = None, []
        prev_hc = None
        for i, row in enumerate(zip(pdf["open"], pdf["close"], pdf["hc"])):
            o, c, h = row
            ho = (o + c) / 2.0 if i == 0 else 0.5 * ho + 0.5 * prev_hc
            prev_hc = h
            out.append(ho)
        pdf["ho"] = out
        return pdf

    long = nb.groupBy("symbol").applyInPandas(
        ha_group,
        "symbol string, bar_ts timestamp, open double, high double,"
        " low double, close double, hc double, ho double",
    )
    return (
        long.select(
            "symbol",
            "bar_ts",
            portable_round("ho", 6).alias("ha_open"),
            portable_round("hc", 6).alias("ha_close"),
            portable_round(
                F.greatest(F.col("high"), F.col("ho"), F.col("hc")), 6
            ).alias("ha_high"),
            portable_round(
                F.least(F.col("low"), F.col("ho"), F.col("hc")), 6
            ).alias("ha_low"),
            F.when(F.col("hc") > F.col("ho"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("bullish"),
        )
        .orderBy("symbol", "bar_ts")
    )


@query(
    "q_kalman_filter",
    oracle=f"""
    WITH RECURSIVE bars AS ({sql_ohlcv_bars("hour", *OHLCV)}),
    nb AS (
        SELECT symbol, bar_ts, close,
               row_number() OVER (PARTITION BY symbol ORDER BY bar_ts) AS rn
        FROM bars
    ),
    packed AS (
        SELECT symbol, list(close ORDER BY rn) AS xs,
               len(list(close)) AS n
        FROM nb GROUP BY symbol
    ),
    rec AS (
        SELECT symbol, xs, n, 1 AS rn,
               -- CAST: a bare 1.0 anchors the recursion at DECIMAL(2,1)
               -- and every later p silently rounds to one decimal
               xs[1] AS x, CAST(1.0 AS DOUBLE) AS p
        FROM packed
        UNION ALL
        SELECT symbol, xs, n, rn + 1,
               x + ((p + 0.001) / ((p + 0.001) + 0.1))
                   * (xs[rn + 1] - x),
               (1.0 - ((p + 0.001) / ((p + 0.001) + 0.1))) * (p + 0.001)
        FROM rec WHERE rn < n
    )
    SELECT nb.symbol, nb.bar_ts, nb.close,
           {sql_portable_round("r.x", 6)} AS kalman,
           {sql_portable_round("nb.close - r.x", 6)} AS residual
    FROM nb JOIN rec r ON r.symbol = nb.symbol AND r.rn = nb.rn
    ORDER BY nb.symbol, nb.bar_ts
    """,
)
def q_kalman_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D local-level Kalman filter over hourly closes (process noise
    q = 0.001, measurement noise r = 0.1, seeded at the first close
    with unit variance): the optimal recursive smoother risk systems
    run where an EMA's fixed alpha is too blunt — the gain adapts as
    the state variance converges. Predict/update collapse to
    p⁻ = p + q; k = p⁻/(p⁻ + r); x += k(z − x); p = (1−k)p⁻. Same
    custom-operator path as q_ewma/q_trix: the recurrence is
    inherently sequential, so one Arrow-batched ``applyInPandas`` per
    symbol, with the oracle's packed-list recursion using the
    IDENTICAL float op order (gain computed once per step from
    (p+q)). Scale: O(1) state per symbol; partition count = symbols;
    giant single series would chunk by time range with carried
    (x, p) seed."""
    import pandas as pd

    bars = ohlcv_bars(

        load_table(spark, sf_dir, "events"), "hour", *OHLCV

    ).select("symbol", "bar_ts", "close")

    def kalman_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bar_ts").reset_index(drop=True)
        out = []
        x, p = None, 1.0
        for z in pdf["close"]:
            if x is None:
                x = z
            else:
                pm = p + 0.001
                k = pm / (pm + 0.1)
                x = x + k * (z - x)
                p = (1.0 - k) * pm
            out.append(x)
        pdf["kalman"] = out
        return pdf

    long = bars.groupBy("symbol").applyInPandas(
        kalman_group,
        "symbol string, bar_ts timestamp, close double, kalman double",
    )
    return (
        long.select(
            "symbol",
            "bar_ts",
            "close",
            portable_round("kalman", 6).alias("kalman_r"),
            portable_round(F.col("close") - F.col("kalman"), 6).alias(
                "residual"
            ),
        )
        .withColumnRenamed("kalman_r", "kalman")
        .orderBy("symbol", "bar_ts")
    )


@query(
    "q_treynor",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS ({sql_bar_returns("cbars")}),
    mkt AS ({sql_market_return("rets")}),
    j AS (
        SELECT s.symbol, s.r, m.rm
        FROM rets s JOIN mkt m ON s.bar_ts = m.bar_ts
    ),
    mo AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("r", 12, 8)} AS sr,
               {sql_split_term_sum("rm", 12, 8)} AS sm,
               {sql_split_term_sum("r * rm", 12, 8)} AS srm,
               {sql_split_term_sum("rm * rm", 12, 8)} AS smm
        FROM j GROUP BY 1
    ),
    b AS (
        SELECT symbol, n, sr,
               (n * srm - sr * sm) / (n * smm - sm * sm) AS beta,
               n * smm - sm * sm AS mvar
        FROM mo
    )
    SELECT symbol, n,
           {sql_portable_round("beta", 6)} AS beta,
           CASE WHEN mvar = 0 OR abs(beta) < 1e-9 THEN NULL
                ELSE {sql_portable_round("(sr / n) * 8760.0 / beta", 6)} END AS treynor_ann
    FROM b ORDER BY symbol
    """,
)
def q_treynor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treynor ratio per symbol against the equal-weight market:
    annualized mean return over CAPM beta — reward per unit of
    SYSTEMATIC risk, the market-risk twin of q_sharpe (total risk) and
    q_information_ratio (active risk). Beta from exact DECIMAL joint
    moments (the q_beta_capm construction); annualization is linear
    (·8760), never pow. Near-zero beta → NULL (ratio undefined).
    Scale: one returns window + broadcast-joined market + one moments
    hash-agg."""
    rets = bar_returns(
        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    )
    mkt = market_return(rets)
    j = rets.join(F.broadcast(mkt), "bar_ts").select("symbol", "r", "rm")
    mo = j.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        split_term_sum(F.col("r"), 12, 8).alias("sr"),
        split_term_sum(F.col("rm"), 12, 8).alias("sm"),
        split_term_sum(F.col("r") * F.col("rm"), 12, 8).alias("srm"),
        split_term_sum(F.col("rm") * F.col("rm"), 12, 8).alias("smm"),
    )
    mvar = F.col("n") * F.col("smm") - F.col("sm") * F.col("sm")
    beta = (F.col("n") * F.col("srm") - F.col("sr") * F.col("sm")) / mvar
    return (
        mo.select(
            "symbol",
            "n",
            portable_round(beta, 6).cast("double").alias("beta"),
            F.when(
                (mvar == 0) | (F.abs(beta) < 1e-9), F.lit(None).cast("double")
            )
            .otherwise(
                portable_round(
                    (F.col("sr") / F.col("n")) * F.lit(8760.0) / beta, 6
                )
            )
            .cast("double")
            .alias("treynor_ann"),
        )
        .orderBy("symbol")
    )


@query(
    "q_kelly_criterion",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS ({sql_bar_returns("cbars")}),
    mo AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("r", 12, 8)} AS sr,
               {sql_split_term_sum("r * r", 12, 8)} AS srr,
               CAST(SUM(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_up,
               {sql_split_term_sum("CASE WHEN r > 0 THEN r ELSE 0 END", 12, 8)}
                   AS s_win,
               CAST(SUM(CASE WHEN r < 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dn,
               {sql_split_term_sum("CASE WHEN r < 0 THEN -r ELSE 0 END", 12, 8)}
                   AS s_loss
        FROM rets GROUP BY symbol
    )
    SELECT symbol, n, n_up, n_dn,
           CASE WHEN srr / n - (sr / n) * (sr / n) <= 0 THEN NULL
                ELSE {sql_portable_round(
                    "(sr / n) / (srr / n - (sr / n) * (sr / n))", 6)} END
               AS kelly_continuous,
           CASE WHEN n_up = 0 OR n_dn = 0 OR s_loss = 0 OR s_win = 0
                     OR n = 0 THEN NULL
                ELSE {sql_portable_round(
                    "CAST(n_up AS DOUBLE) / n"
                    " - (1.0 - CAST(n_up AS DOUBLE) / n)"
                    "   / ((s_win / n_up) / (s_loss / n_dn))", 6)} END
               AS kelly_binary
    FROM mo ORDER BY symbol
    """,
)
def q_kelly_criterion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kelly optimal-fraction sizing per symbol from hourly returns,
    both standard forms: continuous f* = mu/sigma^2 (the
    log-wealth-maximizing stake under small-edge approximation) and the
    discrete win/loss form f* = p - (1-p)/b with p = up-bar frequency
    and b = mean win / mean loss. Up/down counts are exact integers;
    win/loss mass and power sums accumulate in DECIMAL; degenerate
    one-sided histories emit NULL. Scale: one returns window + one
    moments hash-agg (O(1) group state)."""
    rets = bar_returns(
        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    )
    zero = F.lit(0.0)
    mo = rets.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        split_term_sum(F.col("r"), 12, 8).alias("sr"),
        split_term_sum(F.col("r") * F.col("r"), 12, 8).alias("srr"),
        F.sum(F.when(F.col("r") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_up"),
        split_term_sum(
            F.when(F.col("r") > 0, F.col("r")).otherwise(zero), 12, 8
        ).alias("s_win"),
        F.sum(F.when(F.col("r") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dn"),
        split_term_sum(
            F.when(F.col("r") < 0, -F.col("r")).otherwise(zero), 12, 8
        ).alias("s_loss"),
    )
    mu = F.col("sr") / F.col("n")
    var = F.col("srr") / F.col("n") - mu * mu
    p = F.col("n_up").cast("double") / F.col("n")
    b = (F.col("s_win") / F.col("n_up")) / (F.col("s_loss") / F.col("n_dn"))
    return (
        mo.select(
            "symbol",
            "n",
            "n_up",
            "n_dn",
            F.when(var <= 0, F.lit(None).cast("double"))
            .otherwise(portable_round(mu / var, 6))
            .cast("double")
            .alias("kelly_continuous"),
            F.when(
                (F.col("n_up") == 0)
                | (F.col("n_dn") == 0)
                | (F.col("s_loss") == 0)
                | (F.col("s_win") == 0)
                | (F.col("n") == 0),
                F.lit(None).cast("double"),
            )
            .otherwise(portable_round(p - (F.lit(1.0) - p) / b, 6))
            .cast("double")
            .alias("kelly_binary"),
        )
        .orderBy("symbol")
    )
