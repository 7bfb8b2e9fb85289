"""Market-indicator battery, part 7: Parkinson volatility, Ultimate
Oscillator, Force Index, Chaikin Accumulation/Distribution, and the
Detrended Price Oscillator.

Same warehouse surface as finance.py — indicator queries over the
deterministic OHLCV bars derived from ``events`` (event_type = symbol,
value = price, tick count = volume), the analytics tier the reference
delegates to BigQuery over its daily bar table
(``/root/reference/dump_bigq.py:47-56``).

Determinism policy (finance.py / functions/exact.py): per-row terms run
in double through IDENTICAL expression trees on both engines, are rounded
with the portable floor round at a digit count that keeps |term|·10^n
under the int64 floor bound, and accumulate in exact DECIMAL so every sum
is partition-order independent; presentation rounds are floor-form too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.bars import (
    OHLCV,
    ohlcv_bars,
    sql_ohlcv_bars,
)
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    sql_portable_round,
    sql_term,
    term,
)
from stockmarketdata_dwb_etl_spark.registry import query


# 1/(4·ln 2) as a LITERAL on both engines — engine-computed ln(2) would
# route through two different libms (Java Math vs DuckDB), a 1-ulp
# divergence risk on every row (round-4 lesson).
_INV_4LN2 = 0.3606737602222409


@query(
    "q_parkinson_vol",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("day", *OHLCV)}),
    terms AS (
        SELECT symbol,
               {sql_term(
                   "ln(high / low) * ln(high / low)", 10)} AS hl2
        FROM bars WHERE low > 0
    )
    SELECT symbol,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST({sql_portable_round(
               f"{_INV_4LN2} * CAST(SUM(hl2) AS DOUBLE) / COUNT(*)", 6)}
               AS DOUBLE) AS park_var,
           CAST({sql_portable_round(
               f"sqrt({_INV_4LN2} * CAST(SUM(hl2) AS DOUBLE) / COUNT(*))",
               6)} AS DOUBLE) AS park_vol
    FROM terms GROUP BY symbol ORDER BY symbol
    """,
)
def q_parkinson_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parkinson range-based volatility per symbol over daily OHLC bars:
    σ² = (1/(4·ln2))·mean(ln(H/L)²) — the high-low estimator that is
    ~5× more efficient than close-to-close variance and the natural
    sibling of q_volatility_gk / q_yang_zhang_vol (Parkinson 1980).
    Bars with low ≤ 0 are excluded (log-range estimators are defined on
    positive prices — the q_volatility_gk sf0.1 lesson). ln(H/L)² runs
    in double through the identical tree, is 10dp-rounded (|term| ≲ 1e2
    → safe under the int64 floor bound) and summed in exact DECIMAL;
    1/(4ln2) is an embedded literal on both engines, never an
    engine-evaluated ln. Scales: tick→daily-bar hash-agg then a
    per-symbol agg — one shuffle, partial-agg collapses the exchange."""
    bars = ohlcv_bars(
        load_table(spark, sf_dir, "events"), "day", *OHLCV
    ).filter(F.col("low") > 0)
    lhl = F.log(F.col("high") / F.col("low"))
    terms = bars.select(
        "symbol", term(lhl * lhl, 10).alias("hl2")
    )
    agg = terms.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("hl2").cast("double").alias("__s"),
    )
    var = F.lit(_INV_4LN2) * F.col("__s") / F.col("n_days")
    return agg.select(
        "symbol",
        "n_days",
        portable_round(var, 6).cast("double").alias("park_var"),
        portable_round(F.sqrt(var), 6).cast("double").alias("park_vol"),
    ).orderBy("symbol")


@query(
    "q_ultimate_oscillator",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", *OHLCV)}),
    base AS (
        SELECT symbol, bar_ts, high, low, close,
               lag(close) OVER w AS prev_c,
               row_number() OVER w AS rn
        FROM bars
        WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts)
    ),
    bp AS (
        SELECT symbol, bar_ts, rn,
               {sql_term(
                   "close - least(low, prev_c)", 8)} AS bp,
               {sql_term(
                   "greatest(high, prev_c) - least(low, prev_c)", 8)} AS tr
        FROM base WHERE prev_c IS NOT NULL
    ),
    sums AS (
        SELECT symbol, bar_ts, rn,
               CAST(SUM(bp) OVER f7 AS DOUBLE) AS bp7,
               CAST(SUM(tr) OVER f7 AS DOUBLE) AS tr7,
               CAST(SUM(bp) OVER f14 AS DOUBLE) AS bp14,
               CAST(SUM(tr) OVER f14 AS DOUBLE) AS tr14,
               CAST(SUM(bp) OVER f28 AS DOUBLE) AS bp28,
               CAST(SUM(tr) OVER f28 AS DOUBLE) AS tr28
        FROM bp
        WINDOW f7 AS (PARTITION BY symbol ORDER BY bar_ts
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
               f14 AS (PARTITION BY symbol ORDER BY bar_ts
                       ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
               f28 AS (PARTITION BY symbol ORDER BY bar_ts
                       ROWS BETWEEN 27 PRECEDING AND CURRENT ROW)
    )
    SELECT symbol, bar_ts,
           CAST({sql_portable_round(
               "100.0 * (4.0 * (bp7 / nullif(tr7, 0.0))"
               " + 2.0 * (bp14 / nullif(tr14, 0.0))"
               " + (bp28 / nullif(tr28, 0.0))) / 7.0", 4)}
               AS DOUBLE) AS uo
    FROM sums
    WHERE rn >= 29 AND tr7 <> 0 AND tr14 <> 0 AND tr28 <> 0
    ORDER BY symbol, bar_ts
    """,
)
def q_ultimate_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Williams' Ultimate Oscillator (7/14/28) per symbol over hourly
    bars: buying pressure BP = C − min(L, prevC), true range
    TR = max(H, prevC) − min(L, prevC), UO = 100·(4·Σ₇BP/Σ₇TR +
    2·Σ₁₄BP/Σ₁₄TR + Σ₂₈BP/Σ₂₈TR)/7 — the multi-horizon momentum
    blend that de-noises single-window %R/RSI whipsaws. BP/TR terms are
    8dp-rounded doubles summed in exact DECIMAL over three stacked
    frames on ONE window partition (single shuffle); zero-TR windows
    (flat 7/14/28-bar stretches) are excluded on both engines. Rows
    emit from rn ≥ 29 so the 28-bar frame is fully formed past the
    prev-close seed. Scales: bar hash-agg + one window shuffle on
    symbol."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLCV)
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    base = bars.select(
        "symbol",
        "bar_ts",
        "high",
        "low",
        "close",
        F.lag("close").over(w).alias("prev_c"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("prev_c").isNotNull())
    bp = base.select(
        "symbol",
        "bar_ts",
        "rn",
        term(F.col("close") - F.least(F.col("low"), F.col("prev_c")), 8)
        .alias("bp"),
        term(F.greatest(F.col("high"), F.col("prev_c"))
            - F.least(F.col("low"), F.col("prev_c")), 8)
        .alias("tr"),
    )
    def frame(n: int):
        return (
            Window.partitionBy("symbol").orderBy("bar_ts").rowsBetween(-(n - 1), 0)
        )
    sums = bp.select(
        "symbol",
        "bar_ts",
        "rn",
        F.sum("bp").over(frame(7)).cast("double").alias("bp7"),
        F.sum("tr").over(frame(7)).cast("double").alias("tr7"),
        F.sum("bp").over(frame(14)).cast("double").alias("bp14"),
        F.sum("tr").over(frame(14)).cast("double").alias("tr14"),
        F.sum("bp").over(frame(28)).cast("double").alias("bp28"),
        F.sum("tr").over(frame(28)).cast("double").alias("tr28"),
    )
    uo = (
        F.lit(100.0)
        * (
            F.lit(4.0) * (F.col("bp7") / F.nullif(F.col("tr7"), F.lit(0.0)))
            + F.lit(2.0) * (F.col("bp14") / F.nullif(F.col("tr14"), F.lit(0.0)))
            + (F.col("bp28") / F.nullif(F.col("tr28"), F.lit(0.0)))
        )
        / F.lit(7.0)
    )
    return (
        sums.filter(
            (F.col("rn") >= 29)
            & (F.col("tr7") != 0)
            & (F.col("tr14") != 0)
            & (F.col("tr28") != 0)
        )
        .select(
            "symbol",
            "bar_ts",
            portable_round(uo, 4).cast("double").alias("uo"),
        )
        .orderBy("symbol", "bar_ts")
    )


@query(
    "q_force_index",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", *OHLCV)}),
    fi AS (
        SELECT symbol, bar_ts,
               row_number() OVER w AS rn,
               {sql_term(
                   "(close - lag(close) OVER w) * volume", 6)} AS fi
        FROM bars
        WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts)
    )
    SELECT symbol, bar_ts,
           CAST({sql_portable_round("CAST(fi AS DOUBLE)", 4)} AS DOUBLE)
               AS force_index,
           CAST({sql_portable_round(
               "CAST(SUM(fi) OVER (PARTITION BY symbol ORDER BY bar_ts"
               " ROWS BETWEEN 12 PRECEDING AND CURRENT ROW)"
               " AS DOUBLE) / 13.0", 4)} AS DOUBLE) AS fi13
    FROM fi
    QUALIFY rn >= 14
    ORDER BY symbol, bar_ts
    """,
)
def q_force_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elder's Force Index per symbol over hourly bars: FI = (C −
    prevC)·volume — price change weighted by participation — plus its
    13-bar SMA smoothing (the SMA variant, like q_rsi/q_atr take
    Cutler's form; Elder's original EMA is the documented sequential
    (b)-path family). FI terms are 6dp-rounded (|ΔC·V| ≲ 1e7 at any
    plausible bar → well under the int64 floor bound) and the 13-bar
    sum accumulates them in exact DECIMAL. Rows emit from rn ≥ 14 so
    the prev-close seed and the full 13-bar frame both exist. Scales:
    bar hash-agg + one window shuffle on symbol."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLCV)
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    fi = bars.select(
        "symbol",
        "bar_ts",
        F.row_number().over(w).alias("rn"),
        term((F.col("close") - F.lag("close").over(w)) * F.col("volume"), 6)
        .alias("fi"),
    )
    f13 = Window.partitionBy("symbol").orderBy("bar_ts").rowsBetween(-12, 0)
    return (
        fi.select(
            "symbol",
            "bar_ts",
            "rn",
            portable_round(F.col("fi").cast("double"), 4)
            .cast("double")
            .alias("force_index"),
            portable_round(
                F.sum("fi").over(f13).cast("double") / F.lit(13.0), 4
            )
            .cast("double")
            .alias("fi13"),
        )
        .filter(F.col("rn") >= 14)
        .drop("rn")
        .orderBy("symbol", "bar_ts")
    )


@query(
    "q_chaikin_ad",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", *OHLCV)}),
    mf AS (
        SELECT symbol, bar_ts,
               {sql_term(
                   "CASE WHEN high = low THEN 0.0"
                   " ELSE ((close - low) - (high - close)) / (high - low)"
                   " END * volume", 8)} AS mfv
        FROM bars
    )
    SELECT symbol, bar_ts,
           CAST({sql_portable_round("CAST(mfv AS DOUBLE)", 4)} AS DOUBLE)
               AS money_flow_vol,
           CAST({sql_portable_round(
               "CAST(SUM(mfv) OVER (PARTITION BY symbol ORDER BY bar_ts"
               " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
               " AS DOUBLE)", 4)} AS DOUBLE) AS ad_line
    FROM mf
    ORDER BY symbol, bar_ts
    """,
)
def q_chaikin_ad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chaikin Accumulation/Distribution line per symbol over hourly
    bars: money-flow multiplier MFM = ((C−L) − (H−C))/(H−L) (0 on flat
    bars by convention), money-flow volume MFV = MFM·V, A/D = running
    ΣMFV — the volume-flow confirmation line under q_cmf/q_obv. MFV is
    8dp-rounded (|MFM| ≤ 1 so |MFV| ≤ volume ≲ 1e6 → safe bound) and
    the cumulative sum runs in exact DECIMAL, so the running line is
    partition-order independent and bit-identical cross-engine.
    Scales: bar hash-agg + one running-sum window on symbol — the same
    single-shuffle shape as q_obv."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLCV)
    mfm = F.when(F.col("high") == F.col("low"), F.lit(0.0)).otherwise(
        ((F.col("close") - F.col("low")) - (F.col("high") - F.col("close")))
        / (F.col("high") - F.col("low"))
    )
    mf = bars.select(
        "symbol",
        "bar_ts",
        term(mfm * F.col("volume"), 8).alias("mfv"),
    )
    run = (
        Window.partitionBy("symbol")
        .orderBy("bar_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return mf.select(
        "symbol",
        "bar_ts",
        portable_round(F.col("mfv").cast("double"), 4)
        .cast("double")
        .alias("money_flow_vol"),
        portable_round(F.sum("mfv").over(run).cast("double"), 4)
        .cast("double")
        .alias("ad_line"),
    ).orderBy("symbol", "bar_ts")


@query(
    "q_dpo",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("day", *OHLCV)}),
    base AS (
        SELECT symbol, bar_ts, close,
               row_number() OVER w AS rn,
               lag(close, 11) OVER w AS displaced,
               CAST(SUM({sql_term("close", 8)})
                    OVER (PARTITION BY symbol ORDER BY bar_ts
                          ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
                    AS DOUBLE) / 20.0 AS sma20
        FROM bars
        WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts)
    )
    SELECT symbol, bar_ts,
           CAST({sql_portable_round("displaced - sma20", 4)} AS DOUBLE)
               AS dpo
    FROM base
    WHERE rn >= 20
    ORDER BY symbol, bar_ts
    """,
)
def q_dpo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detrended Price Oscillator (n=20) per symbol over daily bars:
    DPO = close displaced back n/2+1 bars − SMA₂₀ — the cycle isolator
    that removes the trend a moving average encodes (price vs its own
    centered average). Close terms are 8dp-rounded into the exact
    DECIMAL frame sum; the displaced close is a plain lag(11) over the
    same window partition, so the whole query is one shuffle. Rows emit
    from rn ≥ 20 (full SMA window; the lag-11 value exists from rn=12).
    """
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "day", *OHLCV)
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    f20 = Window.partitionBy("symbol").orderBy("bar_ts").rowsBetween(-19, 0)
    base = bars.select(
        "symbol",
        "bar_ts",
        F.row_number().over(w).alias("rn"),
        F.lag("close", 11).over(w).alias("displaced"),
        (
            F.sum(term(F.col("close"), 8))
            .over(f20)
            .cast("double")
            / F.lit(20.0)
        ).alias("sma20"),
    )
    return (
        base.filter(F.col("rn") >= 20)
        .select(
            "symbol",
            "bar_ts",
            portable_round(F.col("displaced") - F.col("sma20"), 4)
            .cast("double")
            .alias("dpo"),
        )
        .orderBy("symbol", "bar_ts")
    )
