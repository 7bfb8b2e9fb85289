"""Market-indicator battery, part 8: Coppock curve, Know Sure Thing,
Elder-Ray power, log NVI/PVI volume indices, and cross-sectional market
breadth.

Same warehouse surface as finance.py (reference analytics tier:
``/root/reference/dump_bigq.py:47-56``), extended to the multi-horizon
rate-of-change family and the first CROSS-SECTIONAL indicator (breadth
aggregates across symbols per bar instead of along time per symbol).

Determinism policy (finance.py): frame sums accumulate term-rounded
exact DECIMAL; lag/WMA arithmetic is pure double through identical
trees; ln terms are 12dp-rounded before the DECIMAL Σ so cross-libm ulp
noise is absorbed (the q_volatility_gk / q_parkinson_vol convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.bars import (
    OHLCV,
    bar_returns,
    ohlcv_bars,
    sql_bar_returns,
    sql_ohlcv_bars,
)
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    sql_portable_round,
    sql_term,
    sql_term_sum,
    term,
    term_sum,
)
from stockmarketdata_dwb_etl_spark.registry import query



@query(
    "q_coppock",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", *OHLCV)}),
    roc AS (
        SELECT symbol, bar_ts,
               row_number() OVER w AS rn,
               100.0 * (close / lag(close, 14) OVER w - 1.0)
                 + 100.0 * (close / lag(close, 11) OVER w - 1.0) AS x
        FROM bars
        WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts)
    )
    SELECT symbol, bar_ts,
           CAST({sql_portable_round(
               "(10.0 * x + 9.0 * lag(x, 1) OVER w + 8.0 * lag(x, 2) OVER w"
               " + 7.0 * lag(x, 3) OVER w + 6.0 * lag(x, 4) OVER w"
               " + 5.0 * lag(x, 5) OVER w + 4.0 * lag(x, 6) OVER w"
               " + 3.0 * lag(x, 7) OVER w + 2.0 * lag(x, 8) OVER w"
               " + lag(x, 9) OVER w) / 55.0", 4)} AS DOUBLE) AS coppock
    FROM roc
    WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts)
    QUALIFY rn >= 24
    ORDER BY symbol, bar_ts
    """,
)
def q_coppock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coppock curve per symbol over hourly bars (the classic monthly
    10/14/11 parameters at bar grain): x = ROC₁₄ + ROC₁₁ (in percent),
    Coppock = 10-bar front-weighted WMA of x (weights 10..1, divisor
    55). The WMA is an EXPLICIT 10-lag linear combination over one
    window partition — pure double arithmetic through the identical
    tree on both engines (no unordered sum, so no DECIMAL needed), and
    ten lag() functions over the SAME window spec collapse into a
    single window pass (the q_acf_correlogram lesson). Rows emit from
    rn ≥ 24 (ROC₁₄ defined from rn=15, plus 9 WMA lags). Scales: bar
    hash-agg + one window shuffle on symbol."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLCV)
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    roc = bars.select(
        "symbol",
        "bar_ts",
        F.row_number().over(w).alias("rn"),
        (
            F.lit(100.0) * (F.col("close") / F.lag("close", 14).over(w) - 1.0)
            + F.lit(100.0)
            * (F.col("close") / F.lag("close", 11).over(w) - 1.0)
        ).alias("x"),
    )
    wma = (
        F.lit(10.0) * F.col("x")
        + F.lit(9.0) * F.lag("x", 1).over(w)
        + F.lit(8.0) * F.lag("x", 2).over(w)
        + F.lit(7.0) * F.lag("x", 3).over(w)
        + F.lit(6.0) * F.lag("x", 4).over(w)
        + F.lit(5.0) * F.lag("x", 5).over(w)
        + F.lit(4.0) * F.lag("x", 6).over(w)
        + F.lit(3.0) * F.lag("x", 7).over(w)
        + F.lit(2.0) * F.lag("x", 8).over(w)
        + F.lag("x", 9).over(w)
    ) / F.lit(55.0)
    return (
        roc.select(
            "symbol",
            "bar_ts",
            "rn",
            portable_round(wma, 4).cast("double").alias("coppock"),
        )
        .filter(F.col("rn") >= 24)
        .drop("rn")
        .orderBy("symbol", "bar_ts")
    )


@query(
    "q_kst",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", *OHLCV)}),
    roc AS (
        SELECT symbol, bar_ts,
               row_number() OVER w AS rn,
               {sql_term(
                   "100.0 * (close / lag(close, 10) OVER w - 1.0)", 8)} AS r10,
               {sql_term(
                   "100.0 * (close / lag(close, 15) OVER w - 1.0)", 8)} AS r15,
               {sql_term(
                   "100.0 * (close / lag(close, 20) OVER w - 1.0)", 8)} AS r20,
               {sql_term(
                   "100.0 * (close / lag(close, 30) OVER w - 1.0)", 8)} AS r30
        FROM bars
        WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts)
    )
    SELECT symbol, bar_ts,
           CAST({sql_portable_round(
               "1.0 * (CAST(SUM(r10) OVER f10 AS DOUBLE) / 10.0)"
               " + 2.0 * (CAST(SUM(r15) OVER f10 AS DOUBLE) / 10.0)"
               " + 3.0 * (CAST(SUM(r20) OVER f10 AS DOUBLE) / 10.0)"
               " + 4.0 * (CAST(SUM(r30) OVER f15 AS DOUBLE) / 15.0)",
               4)} AS DOUBLE) AS kst
    FROM roc
    WINDOW f10 AS (PARTITION BY symbol ORDER BY bar_ts
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
           f15 AS (PARTITION BY symbol ORDER BY bar_ts
                   ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)
    QUALIFY rn >= 45
    ORDER BY symbol, bar_ts
    """,
)
def q_kst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pring's Know Sure Thing per symbol over hourly bars:
    KST = 1·SMA₁₀(ROC₁₀) + 2·SMA₁₀(ROC₁₅) + 3·SMA₁₀(ROC₂₀) +
    4·SMA₁₅(ROC₃₀) — four rate-of-change horizons smoothed and blended
    with increasing weight on the slowest. Each ROC is an 8dp-rounded
    double summed in exact DECIMAL frames; all four ROCs and all four
    SMAs ride ONE window partition on symbol (one shuffle, one window
    pass — same-spec window functions coalesce). Rows emit from rn ≥ 45
    (ROC₃₀ from rn=31 plus the 15-bar smoothing). Scales: bar hash-agg
    + one window shuffle."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLCV)
    w = Window.partitionBy("symbol").orderBy("bar_ts")

    def roc(n: int):
        return term(
            F.lit(100.0) * (F.col("close") / F.lag("close", n).over(w) - 1.0), 8
        )

    seq = bars.select(
        "symbol",
        "bar_ts",
        F.row_number().over(w).alias("rn"),
        roc(10).alias("r10"),
        roc(15).alias("r15"),
        roc(20).alias("r20"),
        roc(30).alias("r30"),
    )
    f10 = Window.partitionBy("symbol").orderBy("bar_ts").rowsBetween(-9, 0)
    f15 = Window.partitionBy("symbol").orderBy("bar_ts").rowsBetween(-14, 0)
    kst = (
        F.lit(1.0) * (F.sum("r10").over(f10).cast("double") / F.lit(10.0))
        + F.lit(2.0) * (F.sum("r15").over(f10).cast("double") / F.lit(10.0))
        + F.lit(3.0) * (F.sum("r20").over(f10).cast("double") / F.lit(10.0))
        + F.lit(4.0) * (F.sum("r30").over(f15).cast("double") / F.lit(15.0))
    )
    return (
        seq.select(
            "symbol",
            "bar_ts",
            "rn",
            portable_round(kst, 4).cast("double").alias("kst"),
        )
        .filter(F.col("rn") >= 45)
        .drop("rn")
        .orderBy("symbol", "bar_ts")
    )


@query(
    "q_elder_ray",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", *OHLCV)}),
    base AS (
        SELECT symbol, bar_ts, high, low,
               row_number() OVER (PARTITION BY symbol ORDER BY bar_ts)
                   AS rn,
               CAST(SUM({sql_term("close", 8)})
                    OVER (PARTITION BY symbol ORDER BY bar_ts
                          ROWS BETWEEN 12 PRECEDING AND CURRENT ROW)
                    AS DOUBLE) / 13.0 AS sma13
        FROM bars
    )
    SELECT symbol, bar_ts,
           CAST({sql_portable_round("high - sma13", 4)} AS DOUBLE)
               AS bull_power,
           CAST({sql_portable_round("low - sma13", 4)} AS DOUBLE)
               AS bear_power
    FROM base
    WHERE rn >= 13
    ORDER BY symbol, bar_ts
    """,
)
def q_elder_ray(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elder-Ray index per symbol over hourly bars: bull power = high −
    MA₁₃(close), bear power = low − MA₁₃(close) — how far the extremes
    stretch above/below consensus value (the SMA variant, consistent
    with q_rsi/q_atr/q_force_index taking the SMA form of classically
    EMA-smoothed indicators; the EMA form is the documented sequential
    (b)-path family). Close terms are 8dp-rounded into the exact
    DECIMAL frame sum. Rows emit from rn ≥ 13 (full MA window).
    Scales: bar hash-agg + one window shuffle on symbol."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLCV)
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    f13 = Window.partitionBy("symbol").orderBy("bar_ts").rowsBetween(-12, 0)
    base = bars.select(
        "symbol",
        "bar_ts",
        "high",
        "low",
        F.row_number().over(w).alias("rn"),
        (
            F.sum(term(F.col("close"), 8))
            .over(f13)
            .cast("double")
            / F.lit(13.0)
        ).alias("sma13"),
    )
    return (
        base.filter(F.col("rn") >= 13)
        .select(
            "symbol",
            "bar_ts",
            portable_round(F.col("high") - F.col("sma13"), 4)
            .cast("double")
            .alias("bull_power"),
            portable_round(F.col("low") - F.col("sma13"), 4)
            .cast("double")
            .alias("bear_power"),
        )
        .orderBy("symbol", "bar_ts")
    )


@query(
    "q_nvi_pvi",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", *OHLCV)}),
    base AS (
        SELECT symbol, bar_ts, close, volume,
               lag(close) OVER w AS prev_c,
               lag(volume) OVER w AS prev_v
        FROM bars
        WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts)
    ),
    terms AS (
        SELECT symbol, bar_ts,
               {sql_term(
                   "CASE WHEN volume < prev_v AND close > 0 AND prev_c > 0"
                   " THEN ln(close / prev_c) ELSE 0.0 END", 12)} AS nvi_t,
               {sql_term(
                   "CASE WHEN volume > prev_v AND close > 0 AND prev_c > 0"
                   " THEN ln(close / prev_c) ELSE 0.0 END", 12)} AS pvi_t
        FROM base WHERE prev_c IS NOT NULL
    )
    SELECT symbol, bar_ts,
           CAST({sql_portable_round(
               "CAST(SUM(nvi_t) OVER cum AS DOUBLE)", 6)} AS DOUBLE)
               AS nvi_log,
           CAST({sql_portable_round(
               "CAST(SUM(pvi_t) OVER cum AS DOUBLE)", 6)} AS DOUBLE)
               AS pvi_log
    FROM terms
    WINDOW cum AS (PARTITION BY symbol ORDER BY bar_ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY symbol, bar_ts
    """,
)
def q_nvi_pvi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative/Positive Volume Index per symbol over hourly bars, in
    LOG form: the classic NVI multiplies an index by (1 + r) only on
    falling-volume bars (smart-money days) and PVI on rising-volume
    bars — a multiplicative recursion that becomes a plain cumulative
    sum in log space: nvi_log = Σ ln(C/prevC)·[V < prevV] (and the
    dual for PVI), so the level index is exp(nvi_log)·base for anyone
    who wants it. The log form is what makes the operator DISTRIBUTED:
    a cumulative product needs sequential state, a cumulative sum of
    12dp-rounded DECIMAL terms is an ordinary window (the
    ln-term-rounding convention of q_volatility_gk absorbs cross-libm
    ulp noise). Scales: bar hash-agg + one running-sum window on
    symbol."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLCV)
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    base = bars.select(
        "symbol",
        "bar_ts",
        "close",
        "volume",
        F.lag("close").over(w).alias("prev_c"),
        F.lag("volume").over(w).alias("prev_v"),
    ).filter(F.col("prev_c").isNotNull())
    lr = F.log(F.col("close") / F.col("prev_c"))
    ok = (F.col("close") > 0) & (F.col("prev_c") > 0)

    def log_move(cond):
        return term(F.when(cond & ok, lr).otherwise(F.lit(0.0)), 12)

    terms = base.select(
        "symbol",
        "bar_ts",
        log_move(F.col("volume") < F.col("prev_v")).alias("nvi_t"),
        log_move(F.col("volume") > F.col("prev_v")).alias("pvi_t"),
    )
    cum = (
        Window.partitionBy("symbol")
        .orderBy("bar_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return terms.select(
        "symbol",
        "bar_ts",
        portable_round(F.sum("nvi_t").over(cum).cast("double"), 6)
        .cast("double")
        .alias("nvi_log"),
        portable_round(F.sum("pvi_t").over(cum).cast("double"), 6)
        .cast("double")
        .alias("pvi_log"),
    ).orderBy("symbol", "bar_ts")


@query(
    "q_market_breadth",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", *OHLCV)}),
    rets AS (
        SELECT symbol, bar_ts,
               close - lag(close) OVER (PARTITION BY symbol
                                        ORDER BY bar_ts) AS chg
        FROM bars
        QUALIFY chg IS NOT NULL
    ),
    cross_section AS (
        SELECT bar_ts,
               CAST(COUNT(*) FILTER (WHERE chg > 0) AS BIGINT) AS n_adv,
               CAST(COUNT(*) FILTER (WHERE chg < 0) AS BIGINT) AS n_dec,
               CAST(COUNT(*) FILTER (WHERE chg = 0) AS BIGINT) AS n_flat
        FROM rets GROUP BY bar_ts
    )
    SELECT bar_ts, n_adv, n_dec, n_flat,
           CAST(SUM(n_adv - n_dec)
                OVER (ORDER BY bar_ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS ad_line
    FROM cross_section ORDER BY bar_ts
    """,
)
def q_market_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market breadth: per bar, how many symbols advanced / declined /
    held across the whole universe, plus the cumulative advance-decline
    line — the CROSS-SECTIONAL health indicator (every other indicator
    here runs along time within a symbol; breadth aggregates across
    symbols within a bar). All-integer arithmetic — exact on any
    engine. The final running sum is a global window over the BAR-TS
    GRAIN table (one row per hour — time-bounded, ~9e4 rows/decade —
    not data-sized; the same dimension-bounded-global-window class as
    q_lsh_tuning_curve, documented per the SCALE.md audit). Scales:
    bar hash-agg, one lag window on symbol, one hash-agg on bar_ts."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLCV)
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    rets = bars.select(
        "bar_ts",
        (F.col("close") - F.lag("close").over(w)).alias("chg"),
    ).filter(F.col("chg").isNotNull())
    cs = rets.groupBy("bar_ts").agg(
        F.sum(F.when(F.col("chg") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_adv"),
        F.sum(F.when(F.col("chg") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dec"),
        F.sum(F.when(F.col("chg") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_flat"),
    )
    cum = Window.orderBy("bar_ts").rowsBetween(Window.unboundedPreceding, 0)
    return cs.select(
        "bar_ts",
        "n_adv",
        "n_dec",
        "n_flat",
        F.sum(F.col("n_adv") - F.col("n_dec"))
        .over(cum)
        .cast("bigint")
        .alias("ad_line"),
    ).orderBy("bar_ts")


# chi-square(5) critical value at alpha=0.01, embedded as a LITERAL on
# both engines (never engine-computed — the cross-libm rule)
_CHI2_5_01 = 15.086272469388987


@query(
    "q_ljung_box",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS ({sql_bar_returns("cbars")}),
    mom AS (
        SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
               {sql_term_sum("r", 12)} AS sr
        FROM rets GROUP BY symbol
    ),
    e AS (
        SELECT r.symbol, r.bar_ts, m.n,
               r.r - m.sr / m.n AS e
        FROM rets r JOIN mom m ON m.symbol = r.symbol
    ),
    sse AS (
        SELECT symbol, n,
               {sql_term_sum("e * e", 6)} AS sse
        FROM e GROUP BY symbol, n
    ),
    pairs AS (
        SELECT * FROM (
            SELECT symbol, 1 AS lag, e AS y, lag(e, 1) OVER
                (PARTITION BY symbol ORDER BY bar_ts) AS x FROM e
            UNION ALL
            SELECT symbol, 2, e, lag(e, 2) OVER
                (PARTITION BY symbol ORDER BY bar_ts) FROM e
            UNION ALL
            SELECT symbol, 3, e, lag(e, 3) OVER
                (PARTITION BY symbol ORDER BY bar_ts) FROM e
            UNION ALL
            SELECT symbol, 4, e, lag(e, 4) OVER
                (PARTITION BY symbol ORDER BY bar_ts) FROM e
            UNION ALL
            SELECT symbol, 5, e, lag(e, 5) OVER
                (PARTITION BY symbol ORDER BY bar_ts) FROM e
        ) WHERE x IS NOT NULL
    ),
    rho AS (
        SELECT p.symbol, p.lag, s.n,
               {sql_term_sum("p.x * p.y", 6)} / s.sse AS rho
        FROM pairs p JOIN sse s ON s.symbol = p.symbol
        GROUP BY p.symbol, p.lag, s.n, s.sse
    )
    SELECT symbol, n,
           CAST({sql_portable_round(
               "n * (n + 2.0) * SUM(rho * rho / (n - lag))", 4)}
               AS DOUBLE) AS q_stat,
           CAST(n * (n + 2.0) * SUM(rho * rho / (n - lag))
                > {_CHI2_5_01} AS BOOLEAN) AS reject_01
    FROM rho GROUP BY symbol, n ORDER BY symbol
    """,
)
def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test (h=5) per symbol on hourly returns:
    Q = n(n+2)·Σ_{{k=1..5}} ρ̂_k²/(n−k) with the standard sample ACF
    (global demeaning, global Σe² denominator) — the "is there ANY
    serial correlation in the first h lags" gate run before fitting any
    ARMA structure (the multi-lag complement of q_durbin_watson's
    lag-1 diagnostic). ρ̂ numerators/denominator are 6dp-rounded (the fixture's synthetic 'returns' reach |e| ~1e4, so e²·10^12 would saturate Spark's int64 floor — that bound picks 6dp: |e²| < 9.2e12 holds to |e| ~3e6)
    demeaned products in exact DECIMAL sums; the mean enters through
    ONE double division so e is bit-identical cross-engine; the
    chi-square(5) 1% critical value 15.0863 is an embedded literal.
    All five lags ride one window pass (the q_acf_correlogram explode
    pattern); Q's Σ over 5 rho rows is a tiny per-symbol agg. Scale:
    bar hash-agg, moment agg + broadcast join-back, one lag window —
    the audited returns-pipeline shape."""

    rets = bar_returns(

        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")

    )
    mom = rets.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        term_sum(F.col("r"), 12)
        .alias("sr"),
    )
    e = rets.join(F.broadcast(mom), "symbol").select(
        "symbol",
        "bar_ts",
        "n",
        (F.col("r") - F.col("sr") / F.col("n")).alias("e"),
    )
    sse = e.groupBy("symbol", "n").agg(
        term_sum(F.col("e") * F.col("e"), 6)
        .alias("sse")
    )
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    lagged = e.select(
        "symbol",
        F.col("e").alias("y"),
        *[F.lag("e", k).over(w).alias(f"__x{k}") for k in range(1, 6)],
    )
    pairs = (
        lagged.select(
            "symbol",
            "y",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("lag"),
                            F.col(f"__x{k}").alias("x"),
                        )
                        for k in range(1, 6)
                    ]
                )
            ).alias("__lx"),
        )
        .select(
            "symbol", F.col("__lx.lag").alias("lag"), F.col("__lx.x").alias("x"), "y"
        )
        .filter(F.col("x").isNotNull())
    )
    rho = (
        pairs.groupBy("symbol", "lag")
        .agg(
            term_sum(F.col("x") * F.col("y"), 6)
            .alias("cross")
        )
        .join(F.broadcast(sse), "symbol")
        .select(
            "symbol",
            "lag",
            "n",
            (F.col("cross") / F.col("sse")).alias("rho"),
        )
    )
    q = F.col("n") * (F.col("n") + F.lit(2.0)) * F.sum(
        F.col("rho") * F.col("rho") / (F.col("n") - F.col("lag"))
    )
    return (
        rho.groupBy("symbol", "n")
        .agg(
            portable_round(q, 4).cast("double").alias("q_stat"),
            (q > F.lit(_CHI2_5_01)).alias("reject_01"),
        )
        .orderBy("symbol")
    )


@query(
    "q_half_life",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS ({sql_bar_returns("cbars")}),
    mom AS (
        SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
               {sql_term_sum("r", 12)} AS sr
        FROM rets GROUP BY symbol
    ),
    e AS (
        SELECT r.symbol, r.bar_ts, m.n, r.r - m.sr / m.n AS e
        FROM rets r JOIN mom m ON m.symbol = r.symbol
    ),
    lagged AS (
        SELECT symbol, n, e AS y,
               lag(e) OVER (PARTITION BY symbol ORDER BY bar_ts) AS x
        FROM e QUALIFY x IS NOT NULL
    ),
    fit AS (
        SELECT symbol, n,
               {sql_term_sum("x * y", 6)}
               / nullif({sql_term_sum("x * x", 6)}, 0.0) AS phi
        FROM lagged GROUP BY symbol, n
    )
    SELECT symbol, n,
           CAST({sql_portable_round("phi", 6)} AS DOUBLE) AS phi,
           CAST(CASE WHEN phi > 0 AND phi < 1 THEN
               {sql_portable_round("-0.6931471805599453 / ln(phi)", 4)}
               ELSE NULL END AS DOUBLE) AS half_life_bars
    FROM fit ORDER BY symbol
    """,
)
def q_half_life(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-reversion half-life per symbol: fit the AR(1) e_t = φ·e_{{t−1}}
    on demeaned hourly returns (no-intercept OLS: φ = Σxy/Σx²), then
    half-life = ln(½)/ln(φ) bars when 0 < φ < 1 (no mean reversion to
    time when φ ≤ 0 or a unit root when φ ≥ 1 — NULL) — the
    position-sizing horizon the Ornstein-Uhlenbeck playbook reads off
    a pairs/spread series (complements q_hurst_exponent's regime
    classification and q_adf_lite's stationarity gate). Moment sums are
    6dp-rounded DECIMAL (demeaned products reach ~1e8 on the synthetic
    series — 12dp would saturate the int64 floor); φ comes through one double division; ln(½)
    is an embedded literal and ln(φ) runs on identical input bits with
    the 4dp presentation round absorbing libm ulp (the hurst-class
    exp/ln posture). Scale: moment agg + broadcast join-back + one lag
    window on symbol."""

    rets = bar_returns(

        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")

    )
    mom = rets.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        term_sum(F.col("r"), 12)
        .alias("sr"),
    )
    e = rets.join(F.broadcast(mom), "symbol").select(
        "symbol",
        "bar_ts",
        "n",
        (F.col("r") - F.col("sr") / F.col("n")).alias("e"),
    )
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    lagged = e.select(
        "symbol",
        "n",
        F.col("e").alias("y"),
        F.lag("e").over(w).alias("x"),
    ).filter(F.col("x").isNotNull())
    fit = lagged.groupBy("symbol", "n").agg(
        (
            term_sum(F.col("x") * F.col("y"), 6)
            / F.nullif(
                term_sum(F.col("x") * F.col("x"), 6),
                F.lit(0.0),
            )
        ).alias("phi")
    )
    return fit.select(
        "symbol",
        "n",
        portable_round("phi", 6).cast("double").alias("phi"),
        F.when(
            (F.col("phi") > 0) & (F.col("phi") < 1),
            portable_round(
                F.lit(-0.6931471805599453) / F.log(F.col("phi")), 4
            ),
        )
        .otherwise(F.lit(None))
        .cast("double")
        .alias("half_life_bars"),
    ).orderBy("symbol")


@query(
    "q_supertrend",
    oracle=f"""
    WITH RECURSIVE bars AS ({sql_ohlcv_bars("hour", *OHLCV)}),
    tr AS (
        SELECT symbol, bar_ts, high, low, close,
               row_number() OVER w AS rn,
               {sql_term(
                   "greatest(high - low,"
                   " abs(high - lag(close) OVER w),"
                   " abs(low - lag(close) OVER w))", 8)} AS trv
        FROM bars
        WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts)
    ),
    banded AS (
        SELECT symbol, bar_ts, close, rn,
               CAST({sql_portable_round(
                   "(high + low) / 2.0 + 3.0 *"
                   " (CAST(SUM(trv) OVER f AS DOUBLE) / 10.0)", 6)}
                   AS DOUBLE) AS ub,
               CAST({sql_portable_round(
                   "(high + low) / 2.0 - 3.0 *"
                   " (CAST(SUM(trv) OVER f AS DOUBLE) / 10.0)", 6)}
                   AS DOUBLE) AS lb
        FROM tr
        WINDOW f AS (PARTITION BY symbol ORDER BY bar_ts
                     ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    ),
    packed AS (
        SELECT symbol,
               list(bar_ts ORDER BY rn) AS tss,
               list(ub ORDER BY rn) AS ubs,
               list(lb ORDER BY rn) AS lbs,
               list(close ORDER BY rn) AS cs,
               len(list(rn)) AS n
        FROM banded WHERE rn >= 11 GROUP BY symbol
    ),
    r AS (
        SELECT symbol, tss, ubs, lbs, cs, n, 1 AS i,
               ubs[1] AS fub, lbs[1] AS flb, TRUE AS up
        FROM packed
        UNION ALL
        SELECT symbol, tss, ubs, lbs, cs, n, i + 1,
               CASE WHEN ubs[i + 1] < fub OR cs[i] > fub
                    THEN ubs[i + 1] ELSE fub END,
               CASE WHEN lbs[i + 1] > flb OR cs[i] < flb
                    THEN lbs[i + 1] ELSE flb END,
               CASE WHEN up THEN
                        cs[i + 1] >= CASE WHEN lbs[i + 1] > flb
                                          OR cs[i] < flb
                                     THEN lbs[i + 1] ELSE flb END
                    ELSE
                        cs[i + 1] > CASE WHEN ubs[i + 1] < fub
                                         OR cs[i] > fub
                                    THEN ubs[i + 1] ELSE fub END
               END
        FROM r WHERE i < n
    )
    SELECT symbol, tss[i] AS bar_ts,
           CAST(CASE WHEN up THEN flb ELSE fub END AS DOUBLE)
               AS supertrend,
           CASE WHEN up THEN 'up' ELSE 'down' END AS trend
    FROM r ORDER BY symbol, bar_ts
    """,
)
def q_supertrend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supertrend (10, 3) per symbol over hourly bars: bands
    (H+L)/2 ± 3·ATR₁₀ (Cutler SMA-ATR, the house q_atr convention),
    then the classic band-ratchet recursion — the final upper band only
    ratchets DOWN while closes stay below it (and dually for the lower
    band), and the trend flips when the close crosses the active band;
    the indicator line is the active band. The recursion carries ONLY
    comparisons and selections of PRE-ROUNDED band values (bands are
    6dp-rounded DECIMAL-frame outputs BEFORE the carry), so the
    sequential pass is drift-free by construction: Spark runs it as one
    applyInPandas visit per symbol (the documented (b)-path, like
    q_adx), the oracle as a packed-list recursive CTE with the
    identical CASE order. Rows emit from rn ≥ 11 (full ATR frame past
    the prev-close seed). Scale: bar hash-agg + one window pass +
    one Arrow pass per symbol partition."""
    import pandas as pd

    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLCV)
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    trv = term(F.greatest(
            F.col("high") - F.col("low"),
            F.abs(F.col("high") - F.lag("close").over(w)),
            F.abs(F.col("low") - F.lag("close").over(w)),
        ), 8)
    tr = bars.select(
        "symbol",
        "bar_ts",
        "high",
        "low",
        "close",
        F.row_number().over(w).alias("rn"),
        trv.alias("trv"),
    )
    f10 = Window.partitionBy("symbol").orderBy("bar_ts").rowsBetween(-9, 0)
    atr = F.sum("trv").over(f10).cast("double") / F.lit(10.0)
    mid = (F.col("high") + F.col("low")) / F.lit(2.0)
    banded = (
        tr.select(
            "symbol",
            "bar_ts",
            "close",
            "rn",
            portable_round(mid + F.lit(3.0) * atr, 6).alias("ub"),
            portable_round(mid - F.lit(3.0) * atr, 6).alias("lb"),
        )
        .filter(F.col("rn") >= 11)
    )

    def carry(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn").reset_index(drop=True)
        out = []
        fub = flb = None
        up = True
        prev_c = None
        for row in pdf.itertuples(index=False):
            if fub is None:
                fub, flb = row.ub, row.lb
            else:
                if row.ub < fub or prev_c > fub:
                    fub = row.ub
                if row.lb > flb or prev_c < flb:
                    flb = row.lb
                up = (row.close >= flb) if up else (row.close > fub)
            out.append(
                (
                    row.symbol,
                    row.bar_ts,
                    flb if up else fub,
                    "up" if up else "down",
                )
            )
            prev_c = row.close
        return pd.DataFrame(
            out, columns=["symbol", "bar_ts", "supertrend", "trend"]
        )

    return (
        banded.groupBy("symbol")
        .applyInPandas(
            carry,
            "symbol string, bar_ts timestamp, supertrend double,"
            " trend string",
        )
        .orderBy("symbol", "bar_ts")
    )


@query(
    "q_zigzag",
    oracle=f"""
    WITH RECURSIVE bars AS ({sql_ohlcv_bars("hour", *OHLCV)}),
    c AS (
        SELECT symbol, bar_ts,
               CAST({sql_portable_round("close", 6)} AS DOUBLE) AS c,
               row_number() OVER (PARTITION BY symbol ORDER BY bar_ts)
                   AS rn
        FROM bars
    ),
    packed AS (
        SELECT symbol,
               list(bar_ts ORDER BY rn) AS tss,
               list(c ORDER BY rn) AS cs,
               len(list(rn)) AS n
        FROM c GROUP BY symbol
    ),
    r AS (
        SELECT symbol, tss, cs, n, 1 AS i,
               1 AS dir, cs[1] AS ext, 1 AS ext_i,
               CAST(NULL AS BIGINT) AS piv_i,
               CAST(NULL AS VARCHAR) AS kind
        FROM packed
        UNION ALL
        SELECT symbol, tss, cs, n, i + 1,
               CASE WHEN dir = 1 AND cs[i + 1] <= ext * 0.97 THEN -1
                    WHEN dir = -1 AND cs[i + 1] >= ext * 1.03 THEN 1
                    ELSE dir END,
               CASE WHEN dir = 1 AND cs[i + 1] > ext THEN cs[i + 1]
                    WHEN dir = 1 AND cs[i + 1] <= ext * 0.97
                         THEN cs[i + 1]
                    WHEN dir = -1 AND cs[i + 1] < ext THEN cs[i + 1]
                    WHEN dir = -1 AND cs[i + 1] >= ext * 1.03
                         THEN cs[i + 1]
                    ELSE ext END,
               CASE WHEN dir = 1 AND (cs[i + 1] > ext
                                      OR cs[i + 1] <= ext * 0.97)
                         THEN CAST(i + 1 AS BIGINT)
                    WHEN dir = -1 AND (cs[i + 1] < ext
                                       OR cs[i + 1] >= ext * 1.03)
                         THEN CAST(i + 1 AS BIGINT)
                    ELSE ext_i END,
               CASE WHEN dir = 1 AND cs[i + 1] <= ext * 0.97
                         THEN CAST(ext_i AS BIGINT)
                    WHEN dir = -1 AND cs[i + 1] >= ext * 1.03
                         THEN CAST(ext_i AS BIGINT)
                    ELSE NULL END,
               CASE WHEN dir = 1 AND cs[i + 1] <= ext * 0.97 THEN 'high'
                    WHEN dir = -1 AND cs[i + 1] >= ext * 1.03 THEN 'low'
                    ELSE NULL END
        FROM r WHERE i < n
    )
    SELECT symbol, tss[piv_i] AS pivot_ts,
           CAST(cs[piv_i] AS DOUBLE) AS pivot_price,
           kind
    FROM r WHERE piv_i IS NOT NULL
    ORDER BY symbol, pivot_ts
    """,
)
def q_zigzag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZigZag swing pivots (3% reversal) per symbol over hourly closes:
    track the running extreme in the current direction; when price
    reverses ≥ 3% off the extreme, the extreme is CONFIRMED as a swing
    high/low pivot and the direction flips — the swing-structure
    primitive under support/resistance and Elliott-style analysis
    (seeded long at the first bar; the first pivot's direction is
    therefore convention, identical on both engines). Like
    q_supertrend the recursion carries ONLY comparisons and selections
    of pre-rounded closes (6dp) plus one multiply by the literal
    0.97/1.03 threshold — drift-free by construction; Spark runs it as
    one applyInPandas visit per symbol, the oracle as a packed-list
    recursive CTE emitting the pivot index at each confirmation step.
    Scale: bar hash-agg + one Arrow pass per symbol partition."""
    import pandas as pd

    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLCV)
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    c = bars.select(
        "symbol",
        "bar_ts",
        portable_round("close", 6).cast("double").alias("c"),
        F.row_number().over(w).alias("rn"),
    )

    def pivots(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn").reset_index(drop=True)
        out = []
        direction = 1
        ext = pdf["c"].iloc[0]
        ext_i = 0
        for i in range(1, len(pdf)):
            ci = pdf["c"].iloc[i]
            if direction == 1:
                if ci > ext:
                    ext, ext_i = ci, i
                elif ci <= ext * 0.97:
                    out.append(
                        (
                            pdf["symbol"].iloc[0],
                            pdf["bar_ts"].iloc[ext_i],
                            ext,
                            "high",
                        )
                    )
                    direction, ext, ext_i = -1, ci, i
            else:
                if ci < ext:
                    ext, ext_i = ci, i
                elif ci >= ext * 1.03:
                    out.append(
                        (
                            pdf["symbol"].iloc[0],
                            pdf["bar_ts"].iloc[ext_i],
                            ext,
                            "low",
                        )
                    )
                    direction, ext, ext_i = 1, ci, i
        return pd.DataFrame(
            out, columns=["symbol", "pivot_ts", "pivot_price", "kind"]
        )

    return (
        c.groupBy("symbol")
        .applyInPandas(
            pivots,
            "symbol string, pivot_ts timestamp, pivot_price double,"
            " kind string",
        )
        .orderBy("symbol", "pivot_ts")
    )


@query(
    "q_anchored_vwap",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", *OHLCV)}),
    terms AS (
        SELECT symbol, bar_ts,
               date_trunc('day', bar_ts) AS anchor,
               CAST(floor(((high + low + close) / 3.0) * volume
                          * 1000000.0 + 0.5) AS BIGINT) AS pv_u,
               volume
        FROM bars
    ),
    sums AS (
        SELECT symbol, bar_ts,
               SUM(pv_u) OVER cum AS num_u,
               SUM(volume) OVER cum AS den
        FROM terms
        WINDOW cum AS (PARTITION BY symbol, anchor ORDER BY bar_ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT symbol, bar_ts,
           CAST(CAST((2 * 10000 * num_u + 1000000 * den)
                     // (2 * 1000000 * den) AS BIGINT) / 10000.0
               AS DOUBLE) AS avwap
    FROM sums ORDER BY symbol, bar_ts
    """,
)
def q_anchored_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchored VWAP per symbol, anchor = session (day) start: running
    Σ(typical·volume)/Σvolume from the anchor forward — the
    institutional execution benchmark (q_vwap reports the FINAL
    per-bucket VWAP; anchored VWAP is the LIVE line every bar is judged
    against intraday). Typical price = (H+L+C)/3; pv terms are
    micro-unit INTEGERS (floor(pv·10⁶ + ½) — exact per-anchor running
    sums at ≤24 bars/anchor), and the 4dp output comes from PURE
    INTEGER half-up division ((2·10⁴·num + den) div (2·den)) — the
    round-3 rule, because a decimal→double cast can differ by 1 ulp
    between engines exactly at a half boundary (observed on this query:
    81.05625 flipped 81.0563 vs 81.0562). ONE window partitioned by
    (symbol, day) — resetting at each anchor without a join; per-anchor
    integer sums are bounded (≤24·10⁹) at ANY corpus scale because the
    anchor resets daily. Scale: bar hash-agg + one running-sum window
    keyed (symbol, anchor)."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLCV)
    terms = bars.select(
        "symbol",
        "bar_ts",
        F.date_trunc("day", F.col("bar_ts")).alias("anchor"),
        F.floor(
            (F.col("high") + F.col("low") + F.col("close"))
            / F.lit(3.0)
            * F.col("volume")
            * F.lit(1000000.0)
            + F.lit(0.5)
        ).alias("pv_u"),
        "volume",
    )
    cum = (
        Window.partitionBy("symbol", "anchor")
        .orderBy("bar_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sums = terms.select(
        "symbol",
        "bar_ts",
        F.sum("pv_u").over(cum).alias("num_u"),
        F.sum("volume").over(cum).alias("den"),
    )
    return sums.select(
        "symbol",
        "bar_ts",
        (
            F.expr(
                "(2 * 10000 * num_u + 1000000 * den)"
                " div (2 * 1000000 * den)"
            )
            / F.lit(10000.0)
        )
        .cast("double")
        .alias("avwap"),
    ).orderBy("symbol", "bar_ts")
