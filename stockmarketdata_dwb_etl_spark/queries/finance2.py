"""Market-indicator battery, part 2: ATR, stochastic oscillator,
on-balance volume, CAPM beta/alpha, annualized Sharpe, and lag-1 return
autocorrelation.

Same warehouse surface as finance.py — indicator queries over the bar
series the reference's BigQuery table serves (daily OHLCV per index,
``/root/reference/dump_bigq.py:47-56``) — extended to the risk/benchmark
family: every query here reduces to windows + aggregations over the
deterministic hourly/daily bars derived from ``events`` (event_type =
symbol, value = price, tick count = volume).

Determinism policy (same as finance.py / timeseries.py): frame and group
sums accumulate in exact DECIMAL so results are partition-order
independent; all double math (divisions, sqrt, the beta/corr moment
formulas) uses the IDENTICAL expression tree on both engines so float64
agrees bit-for-bit before the output round.
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
    simple_return,
    sql_bar_returns,
    sql_market_return,
    sql_ohlcv_bars,
    sql_simple_return,
)
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    split_term_sum,
    sql_split_term_sum,
    term_sum,
)
from stockmarketdata_dwb_etl_spark.registry import query

_DEC = "decimal(38,6)"

# Return-moment sums here route through the two-bucket split sum
# (functions/exact.py::split_term_sum, 2^53 rule in its module docstring): hourly
# simple returns spike to |r| ~1.5e3 when a close lands near 0, so the
# legacy raw double->DECIMAL(38,18) cast breached the 2^53 round-trip
# bound (|x|*10^18 >= 2^53 for any |x| >= 9e-3) and relied on downstream
# rounds to absorb the cross-engine conversion drift. Bucket scales per
# power: r/products<=r^2 at (12,8) (bound 9e7), r^3 at (12,5) (observed
# max ~3.2e9, bound 9e10), r^4 at (12,2) (observed ~4.7e12, bound 9e13).


@query(
    "q_atr",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("day", *OHLCV)}),
    tr AS (
        SELECT symbol, bar_ts, high, low, close,
               lag(close) OVER w AS prev_c,
               row_number() OVER w AS rn
        FROM bars
        WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts)
    ),
    ranged AS (
        SELECT symbol, bar_ts, rn,
               CASE WHEN prev_c IS NULL THEN high - low
                    ELSE greatest(high - low, abs(high - prev_c),
                                  abs(low - prev_c)) END AS true_range
        FROM tr
    )
    SELECT symbol, bar_ts,
           CAST((CAST(floor(CAST((true_range) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS true_range,
           CAST((CAST(floor(CAST((CAST(
               SUM(CAST(true_range AS DECIMAL(38,6)))
                   OVER (PARTITION BY symbol ORDER BY bar_ts
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
               AS DOUBLE) / 14.0) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS atr14
    FROM ranged
    QUALIFY rn >= 14
    ORDER BY symbol, bar_ts
    """,
)
def q_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average True Range 14 (Cutler's SMA variant, like q_rsi) per
    symbol over daily OHLC bars: true range = max(H−L, |H−prevC|,
    |L−prevC|) (first bar falls back to H−L — the textbook seed), then a
    14-bar frame average with the sum in exact DECIMAL. All comparisons
    are engine-exact double; only the quotient runs in float. Scales:
    tick→bar hash-agg then two stacked windows keyed by symbol — one
    shuffle."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "day", *OHLCV)
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    prev_c = F.lag("close").over(w)
    seq = bars.select(
        "symbol",
        "bar_ts",
        "high",
        "low",
        prev_c.alias("prev_c"),
        F.row_number().over(w).alias("rn"),
    )
    tr = (
        F.when(
            F.col("prev_c").isNull(), F.col("high") - F.col("low")
        ).otherwise(
            F.greatest(
                F.col("high") - F.col("low"),
                F.abs(F.col("high") - F.col("prev_c")),
                F.abs(F.col("low") - F.col("prev_c")),
            )
        )
    ).alias("true_range")
    ranged = seq.select("symbol", "bar_ts", "rn", tr)
    f = Window.partitionBy("symbol").orderBy("bar_ts").rowsBetween(-13, 0)
    return (
        ranged.select(
            "symbol",
            "bar_ts",
            "rn",
            portable_round("true_range", 4).cast("double").alias("true_range"),
            portable_round(
                F.sum(F.col("true_range").cast(_DEC)).over(f).cast("double")
                / F.lit(14.0),
                4,
            )
            .cast("double")
            .alias("atr14"),
        )
        .filter(F.col("rn") >= 14)
        .drop("rn")
        .orderBy("symbol", "bar_ts")
    )


@query(
    "q_stochastic",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", *OHLCV)}),
    ranged AS (
        SELECT symbol, bar_ts, close,
               MAX(high) OVER f AS h14,
               MIN(low) OVER f AS l14,
               row_number() OVER (PARTITION BY symbol ORDER BY bar_ts) AS rn
        FROM bars
        WINDOW f AS (PARTITION BY symbol ORDER BY bar_ts
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ),
    k AS (
        SELECT symbol, bar_ts, rn,
               CAST(floor(CAST(CASE WHEN h14 = l14 THEN 50.0
                          ELSE 100.0 * (close - l14) / (h14 - l14) END
                    AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0
                   AS k6
        FROM ranged
    )
    SELECT symbol, bar_ts,
           CAST(CAST(floor(k6 * 10000.0 + 0.5) AS DOUBLE) / 10000.0
                AS DOUBLE) AS pct_k,
           CAST(CAST(floor(CAST(
               SUM(CAST(k6 AS DECIMAL(38,6)))
                   OVER (PARTITION BY symbol ORDER BY bar_ts
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
               AS DOUBLE) / 3.0 * 10000.0 + 0.5) AS DOUBLE) / 10000.0
               AS DOUBLE) AS pct_d
    FROM k
    QUALIFY rn >= 16
    ORDER BY symbol, bar_ts
    """,
)
def q_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator (14, 3) per symbol over hourly bars:
    %K = 100·(C−L14)/(H14−L14) (flat 14-bar range pins to 50 by
    convention), %D = 3-bar SMA of %K. %K rounds to 6dp BEFORE the %D
    average so the smoothed input is identical on both engines; the %D
    sum accumulates that 6dp value in exact DECIMAL. All rounds use the
    floor-form portable (CAST(floor(CAST((functions/exact.py::portable_round) AS DOUBLE) * 1.0 + 0.5) AS DOUBLE) / 1.0) —
    engine-native ROUND(double, n) flipped a 4dp half boundary at sf0.1
    (35.74135 → 35.7414 Spark vs 35.7413 DuckDB). Rows emit from
    rn≥16 so both the 14-bar range and the 3-bar smoothing are fully
    formed. Scales: one bar hash-agg + stacked frames on symbol — one
    shuffle."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLCV)
    f = Window.partitionBy("symbol").orderBy("bar_ts").rowsBetween(-13, 0)
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    ranged = bars.select(
        "symbol",
        "bar_ts",
        "close",
        F.max("high").over(f).alias("h14"),
        F.min("low").over(f).alias("l14"),
        F.row_number().over(w).alias("rn"),
    )
    k6 = portable_round(
        F.when(F.col("h14") == F.col("l14"), F.lit(50.0)).otherwise(
            F.lit(100.0)
            * (F.col("close") - F.col("l14"))
            / (F.col("h14") - F.col("l14"))
        ),
        6,
    )
    kdf = ranged.select("symbol", "bar_ts", "rn", k6.alias("k6"))
    d = Window.partitionBy("symbol").orderBy("bar_ts").rowsBetween(-2, 0)
    return (
        kdf.select(
            "symbol",
            "bar_ts",
            "rn",
            portable_round(F.col("k6"), 4).cast("double").alias("pct_k"),
            portable_round(
                # k6 is already 6dp-portable-rounded, so the 6-scale cast
                # is EXACT (k*1e6 <= 1e8 << 2^53) on both engines
                F.sum(F.col("k6").cast("decimal(38,6)")).over(d).cast("double")
                / F.lit(3.0),
                4,
            )
            .cast("double")
            .alias("pct_d"),
        )
        .filter(F.col("rn") >= 16)
        .drop("rn")
        .orderBy("symbol", "bar_ts")
    )


@query(
    "q_obv",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", *OHLCV)}),
    signed AS (
        SELECT symbol, bar_ts, close,
               CASE WHEN lag(close) OVER w IS NULL THEN CAST(0 AS BIGINT)
                    WHEN close > lag(close) OVER w THEN volume
                    WHEN close < lag(close) OVER w THEN -volume
                    ELSE CAST(0 AS BIGINT) END AS signed_vol
        FROM bars
        WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts)
    )
    SELECT symbol, bar_ts,
           CAST((CAST(floor(CAST((close) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS close,
           CAST(SUM(signed_vol)
                    OVER (PARTITION BY symbol ORDER BY bar_ts
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS obv
    FROM signed
    ORDER BY symbol, bar_ts
    """,
)
def q_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume per symbol over hourly bars: volume flows with
    the close-to-close direction (+vol on up bars, −vol on down bars, 0
    on flat/first), accumulated as a running BIGINT sum — exact integer
    arithmetic end to end, no float accumulation anywhere. Scales: bar
    hash-agg + one lag window + one running-sum window on symbol, O(1)
    state per row."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLCV)
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    prev_c = F.lag("close").over(w)
    signed = bars.select(
        "symbol",
        "bar_ts",
        "close",
        F.when(prev_c.isNull(), F.lit(0).cast("bigint"))
        .when(F.col("close") > prev_c, F.col("volume"))
        .when(F.col("close") < prev_c, -F.col("volume"))
        .otherwise(F.lit(0).cast("bigint"))
        .alias("signed_vol"),
    )
    run = (
        Window.partitionBy("symbol")
        .orderBy("bar_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return signed.select(
        "symbol",
        "bar_ts",
        portable_round("close", 4).cast("double").alias("close"),
        F.sum("signed_vol").over(run).cast("bigint").alias("obv"),
    ).orderBy("symbol", "bar_ts")


@query(
    "q_beta_capm",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS ({sql_bar_returns("cbars")}),
    mkt AS ({sql_market_return("rets")}),
    moments AS (
        SELECT s.symbol,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("m.rm", 12, 8)} AS sx,
               {sql_split_term_sum("s.r", 12, 8)} AS sy,
               {sql_split_term_sum("s.r * m.rm", 12, 8)} AS sxy,
               {sql_split_term_sum("m.rm * m.rm", 12, 8)} AS sxx
        FROM rets s JOIN mkt m ON s.bar_ts = m.bar_ts
        GROUP BY s.symbol
    )
    SELECT symbol, n,
           CAST((CAST(floor(CAST(((n * sxy - sx * sy) / (n * sxx - sx * sx)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                AS DOUBLE) AS beta,
           CAST((CAST(floor(CAST((sy / n - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                               * (sx / n)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS alpha
    FROM moments ORDER BY symbol
    """,
)
def q_beta_capm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPM beta/alpha per symbol against the equal-weight market
    return: r_m(t) = mean of available symbol returns at t (decimal sum
    / count), beta = cov(r_i, r_m)/var(r_m) via the moment formula
    (n·Σxy − Σx·Σy)/(n·Σxx − Σx²) with every Σ a two-bucket split sum
    (per-row products computed in double first — identical bits both
    engines), alpha = ȳ − β·x̄ with the identical
    double tree. Scales: the market table is calendar-bounded (one row
    per bar) so the returns⨝market join broadcasts; moments are one
    partial+final hash-agg per symbol."""
    rets = bar_returns(
        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    )
    mkt = market_return(rets)
    joined = rets.join(F.broadcast(mkt), "bar_ts")
    m = joined.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        split_term_sum(F.col("rm"), 12, 8).alias("sx"),
        split_term_sum(F.col("r"), 12, 8).alias("sy"),
        split_term_sum(F.col("r") * F.col("rm"), 12, 8).alias("sxy"),
        split_term_sum(F.col("rm") * F.col("rm"), 12, 8).alias("sxx"),
    )
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    alpha = F.col("sy") / F.col("n") - beta * (F.col("sx") / F.col("n"))
    return m.select(
        "symbol",
        "n",
        portable_round(beta, 6).cast("double").alias("beta"),
        portable_round(alpha, 6).cast("double").alias("alpha"),
    ).orderBy("symbol")


@query(
    "q_sharpe",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS ({sql_bar_returns("cbars")}),
    moments AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("r", 12, 8)} AS s,
               {sql_split_term_sum("r * r", 12, 8)} AS ss
        FROM rets GROUP BY symbol
    )
    SELECT symbol, n,
           CAST((CAST(floor(CAST((s / n) AS DOUBLE) * 100000000.0 + 0.5) AS DOUBLE) / 100000000.0) AS DOUBLE) AS mean_r,
           CAST((CAST(floor(CAST((sqrt(greatest(ss / n - (s / n) * (s / n), 0.0))) AS DOUBLE) * 100000000.0 + 0.5) AS DOUBLE) / 100000000.0)
                AS DOUBLE) AS vol,
           CAST(CASE WHEN ss / n - (s / n) * (s / n) <= 0 THEN NULL
                ELSE (CAST(floor(CAST(((s / n)
                           / sqrt(greatest(ss / n - (s / n) * (s / n), 0.0))
                           * sqrt(8760.0)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) END AS DOUBLE)
               AS sharpe_ann
    FROM moments ORDER BY symbol
    """,
)
def q_sharpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized Sharpe ratio per symbol over hourly simple returns
    (rf = 0): mean/σ_pop·√8760. Moment sums in exact DECIMAL, the
    mean/variance/sqrt chain in double with the identical tree (variance
    clamped at 0 — the two-pass formula can go ~−ulp on near-constant
    series; an exactly-zero variance yields NULL). Scales: one
    partial+final hash-agg per symbol after the per-symbol lag window —
    one shuffle each."""
    rets = bar_returns(
        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    )
    m = rets.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        split_term_sum(F.col("r"), 12, 8).alias("s"),
        split_term_sum(F.col("r") * F.col("r"), 12, 8).alias("ss"),
    )
    mean = F.col("s") / F.col("n")
    var = F.col("ss") / F.col("n") - mean * mean
    vol = F.sqrt(F.greatest(var, F.lit(0.0)))
    return m.select(
        "symbol",
        "n",
        portable_round(mean, 8).cast("double").alias("mean_r"),
        portable_round(vol, 8).cast("double").alias("vol"),
        F.when(var <= 0, F.lit(None).cast("double"))
        .otherwise(portable_round(mean / vol * F.sqrt(F.lit(8760.0)), 6))
        .cast("double")
        .alias("sharpe_ann"),
    ).orderBy("symbol")


@query(
    "q_autocorr",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS ({sql_bar_returns("cbars")}),
    pairs AS (
        SELECT symbol, r AS y,
               lag(r) OVER (PARTITION BY symbol ORDER BY bar_ts) AS x
        FROM rets
        QUALIFY x IS NOT NULL
    ),
    moments AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("x", 12, 8)} AS sx,
               {sql_split_term_sum("y", 12, 8)} AS sy,
               {sql_split_term_sum("x * y", 12, 8)} AS sxy,
               {sql_split_term_sum("x * x", 12, 8)} AS sxx,
               {sql_split_term_sum("y * y", 12, 8)} AS syy
        FROM pairs GROUP BY symbol
    )
    SELECT symbol, n,
           CAST(CASE WHEN (n * sxx - sx * sx) <= 0
                       OR (n * syy - sy * sy) <= 0 THEN NULL
                ELSE (CAST(floor(CAST(((n * sxy - sx * sy)
                           / (sqrt(n * sxx - sx * sx)
                              * sqrt(n * syy - sy * sy))) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) END
                AS DOUBLE) AS acf1
    FROM moments ORDER BY symbol
    """,
)
def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of hourly returns per symbol — the
    mean-reversion / momentum diagnostic: Pearson correlation between
    (r_t, r_{t−1}) via the moment formula, all five Σ in exact DECIMAL,
    the quotient chain in double with the identical tree (degenerate
    variance yields NULL). Scales: lag window + one hash-agg, both keyed
    by symbol."""
    rets = bar_returns(
        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    )
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    pairs = rets.select(
        "symbol",
        F.col("r").alias("y"),
        F.lag("r").over(w).alias("x"),
    ).filter(F.col("x").isNotNull())
    m = pairs.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        split_term_sum(F.col("x"), 12, 8).alias("sx"),
        split_term_sum(F.col("y"), 12, 8).alias("sy"),
        split_term_sum(F.col("x") * F.col("y"), 12, 8).alias("sxy"),
        split_term_sum(F.col("x") * F.col("x"), 12, 8).alias("sxx"),
        split_term_sum(F.col("y") * F.col("y"), 12, 8).alias("syy"),
    )
    cxx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    cyy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cxy = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return m.select(
        "symbol",
        "n",
        F.when((cxx <= 0) | (cyy <= 0), F.lit(None).cast("double"))
        .otherwise(portable_round(cxy / (F.sqrt(cxx) * F.sqrt(cyy)), 6))
        .cast("double")
        .alias("acf1"),
    ).orderBy("symbol")


@query(
    "q_rank_ic",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS ({sql_bar_returns("cbars")}),
    sig AS (
        SELECT symbol, bar_ts, r,
               lead(r) OVER (PARTITION BY symbol ORDER BY bar_ts) AS fwd_r
        FROM rets
        QUALIFY fwd_r IS NOT NULL
    ),
    ranked AS (
        SELECT bar_ts,
               CAST(rank() OVER (PARTITION BY bar_ts
                                 ORDER BY r, symbol) AS DOUBLE) AS rs,
               CAST(rank() OVER (PARTITION BY bar_ts
                                 ORDER BY fwd_r, symbol) AS DOUBLE) AS rf,
               CAST(COUNT(*) OVER (PARTITION BY bar_ts) AS BIGINT) AS k
        FROM sig
    ),
    per_date AS (
        SELECT bar_ts,
               (CAST(floor(CAST((1.0 - 6.0 * SUM((rs - rf) * (rs - rf))
                            / (k * (CAST(k AS DOUBLE) * k - 1.0))) AS DOUBLE) * 100000000.0 + 0.5) AS DOUBLE) / 100000000.0)
                   AS ic
        FROM ranked WHERE k >= 3
        GROUP BY bar_ts, k
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_dates,
           CAST((CAST(floor(CAST((CAST(SUM(CAST(ic AS DECIMAL(38,8))) AS DOUBLE)
                      / COUNT(*)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS mean_ic,
           CAST(COUNT(*) FILTER (WHERE ic > 0) AS BIGINT) AS n_positive
    FROM per_date
    """,
)
def q_rank_ic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sectional rank information coefficient — the quant-research
    signal-quality metric: per bar, Spearman correlation between the
    momentum signal (this bar's return) and the NEXT bar's realized
    return across symbols, averaged over bars. Spearman computes via
    the classic 1 − 6Σd²/(k(k²−1)) on exact integer ranks (symbol
    tie-break makes rank assignment engine-deterministic; d² sums are
    small exact integers in double), per-date ICs round to 8dp and
    average through exact DECIMAL. Scale: two per-symbol windows + one
    per-bar window whose partition width is the symbol universe
    (catalog-bounded), then a calendar-bounded agg."""
    rets = bar_returns(
        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    )
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    sig = rets.select(
        "symbol", "bar_ts", "r", F.lead("r").over(w).alias("fwd_r")
    ).filter(F.col("fwd_r").isNotNull())
    wb_r = Window.partitionBy("bar_ts").orderBy("r", "symbol")
    wb_f = Window.partitionBy("bar_ts").orderBy("fwd_r", "symbol")
    wb = Window.partitionBy("bar_ts")
    ranked = sig.select(
        "bar_ts",
        F.rank().over(wb_r).cast("double").alias("rs"),
        F.rank().over(wb_f).cast("double").alias("rf"),
        F.count(F.lit(1)).over(wb).cast("bigint").alias("k"),
    )
    d2 = (F.col("rs") - F.col("rf")) * (F.col("rs") - F.col("rf"))
    per_date = (
        ranked.filter(F.col("k") >= 3)
        .groupBy("bar_ts", "k")
        .agg(F.sum(d2).alias("sd2"))
        .select(
            "bar_ts",
            portable_round(
                F.lit(1.0)
                - F.lit(6.0)
                * F.col("sd2")
                / (
                    F.col("k")
                    * (F.col("k").cast("double") * F.col("k") - F.lit(1.0))
                ),
                8,
            ).alias("ic"),
        )
    )
    return per_date.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dates"),
        portable_round(
            # ic is already 8dp-portable-rounded and |ic| <= 1, so the
            # 8-scale cast is EXACT (k <= 1e8 << 2^53) on both engines
            F.sum(F.col("ic").cast("decimal(38,8)")).cast("double")
            / F.count(F.lit(1)),
            6,
        )
        .cast("double")
        .alias("mean_ic"),
        F.count(F.when(F.col("ic") > 0, 1)).cast("bigint").alias("n_positive"),
    )


@query(
    "q_jarque_bera",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS ({sql_bar_returns("cbars")}),
    m AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("r", 12, 8)} AS s1,
               {sql_split_term_sum("r * r", 12, 8)} AS s2,
               {sql_split_term_sum("r * r * r", 12, 5)} AS s3,
               {sql_split_term_sum("r * r * r * r", 12, 2)} AS s4
        FROM rets GROUP BY symbol
    ),
    cm AS (
        SELECT symbol, n,
               s2 / n - (s1 / n) * (s1 / n) AS m2,
               s3 / n - 3.0 * (s1 / n) * (s2 / n)
                      + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
               s4 / n - 4.0 * (s1 / n) * (s3 / n)
                      + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
                      - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
        FROM m
    )
    SELECT symbol, n,
           CAST((CAST(floor(CAST((m3 / pow(m2, 1.5)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS skewness,
           CAST((CAST(floor(CAST((m4 / (m2 * m2) - 3.0) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS excess_kurtosis,
           CAST((CAST(floor(CAST((n / 6.0 * ((m3 / pow(m2, 1.5)) * (m3 / pow(m2, 1.5))
                      + 0.25 * (m4 / (m2 * m2) - 3.0)
                             * (m4 / (m2 * m2) - 3.0))) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS jb_stat
    FROM cm ORDER BY symbol
    """,
)
def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque–Bera normality diagnostics per symbol over hourly returns:
    skewness m₃/m₂^1.5, excess kurtosis m₄/m₂²−3, and the JB statistic
    n/6·(S² + K²/4) — the fat-tails test every return model starts
    with. Raw power sums Σr..Σr⁴ accumulate in exact DECIMAL (the only
    cross-row float reduction); central moments and the statistic
    compute from those scalars in identical-tree double (deliberately
    NOT Spark's built-in skewness/kurtosis, whose bias corrections
    differ across engines). One hash-agg per symbol."""
    rets = bar_returns(
        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    )
    r = F.col("r")
    m = rets.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        split_term_sum(r, 12, 8).alias("s1"),
        split_term_sum(r * r, 12, 8).alias("s2"),
        split_term_sum(r * r * r, 12, 5).alias("s3"),
        split_term_sum(r * r * r * r, 12, 2).alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - F.lit(3.0) * mu * (F.col("s2") / n) + F.lit(
        2.0
    ) * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - F.lit(4.0) * mu * (F.col("s3") / n)
        + F.lit(6.0) * mu * mu * (F.col("s2") / n)
        - F.lit(3.0) * mu * mu * mu * mu
    )
    skew = m3 / F.pow(m2, 1.5)
    exk = m4 / (m2 * m2) - F.lit(3.0)
    jb = n / F.lit(6.0) * (skew * skew + F.lit(0.25) * exk * exk)
    return m.select(
        "symbol",
        "n",
        portable_round(skew, 6).cast("double").alias("skewness"),
        portable_round(exk, 6).cast("double").alias("excess_kurtosis"),
        portable_round(jb, 4).cast("double").alias("jb_stat"),
    ).orderBy("symbol")


@query(
    "q_amihud_illiquidity",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", *OHLCV)}),
    seq AS (
        SELECT symbol, bar_ts, volume,
               abs({sql_simple_return("(PARTITION BY symbol ORDER BY bar_ts)")})
                   AS abs_r
        FROM bars
        QUALIFY abs_r IS NOT NULL
    )
    SELECT symbol,
           CAST(COUNT(*) AS BIGINT) AS n_bars,
           CAST((CAST(floor(CAST(({sql_split_term_sum("abs_r / volume", 12, 8)})
                           / COUNT(*) * 1e6 AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE)
               AS amihud_x1e6
    FROM seq GROUP BY symbol ORDER BY symbol
    """,
)
def q_amihud_illiquidity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amihud illiquidity per symbol: mean(|return| / volume), scaled
    ×1e6 — the standard price-impact proxy when no order-book depth
    exists (volume = bar tick count here). Per-bar ratios compute in
    identical-tree double, accumulate in exact DECIMAL, and average at
    the end. One bar hash-agg + one lag window + one per-symbol agg."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLCV)
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    seq = bars.select(
        "symbol",
        "bar_ts",
        "volume",
        F.abs(simple_return(w)).alias("abs_r"),
    ).filter(F.col("abs_r").isNotNull())
    return (
        seq.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bars"),
            portable_round(
                split_term_sum(F.col("abs_r") / F.col("volume"), 12, 8)
                / F.count(F.lit(1))
                * F.lit(1e6),
                6,
            )
            .cast("double")
            .alias("amihud_x1e6"),
        )
        .orderBy("symbol")
    )


@query(
    "q_twap",
    oracle=f"""
    WITH seq AS (
        SELECT event_type AS symbol, ts, value,
               lead(ts) OVER (PARTITION BY event_type
                              ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    seg AS (
        SELECT symbol, value,
               epoch_us(nxt) - epoch_us(ts) AS dt_us
        FROM seq WHERE nxt IS NOT NULL
    )
    SELECT symbol,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(dt_us) AS BIGINT) AS total_us,
           CAST((CAST(floor(CAST(({sql_split_term_sum("value * dt_us", 6, 0)})
                      / CAST(SUM(dt_us) AS DOUBLE) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS twap
    FROM seg GROUP BY symbol ORDER BY symbol
    """,
)
def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price per symbol over the irregular tick
    stream: each tick's price holds until the next tick, so TWAP =
    Σ(price·Δt)/ΣΔt with Δt in exact epoch microseconds (lead over the
    (ts, event_id) total order — the benchmark price for execution
    quality when volume weights are unavailable, complementing q_vwap.
    The price·Δt products compute in double (identical bits both
    engines — Δt is an exact integer) and accumulate in DECIMAL; the
    final quotient is one double division. One lag-window shuffle on
    symbol + one hash-agg."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("symbol"),
        "ts",
        "value",
        F.lead("ts").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    dt_us = F.expr("timestampdiff(MICROSECOND, ts, nxt)")
    seg = seq.select("symbol", "value", dt_us.alias("dt_us"))
    return (
        seg.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.sum("dt_us").cast("bigint").alias("total_us"),
            portable_round(
                # price*microsecond products reach ~5e13, so the legacy
                # 6-scale cast breached 2^53; (6,0) keeps sub-1 products
                # at 6dp and big ones under the integer-scale bound
                split_term_sum(F.col("value") * F.col("dt_us"), 6, 0)
                / F.sum("dt_us").cast("double"),
                6,
            )
            .cast("double")
            .alias("twap"),
        )
        .orderBy("symbol")
    )


@query(
    "q_target_encoding",
    oracle="""
    WITH g AS (
        SELECT c.c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS s
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_mktsegment
    ),
    prior AS (
        SELECT CAST(SUM(s) AS DOUBLE) / SUM(n) AS mu FROM g
    )
    SELECT g.c_mktsegment, g.n,
           CAST((CAST(floor(CAST((CAST(g.s AS DOUBLE) / g.n) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS raw_mean,
           CAST((CAST(floor(CAST(((CAST(g.s AS DOUBLE) + 100.0 * p.mu)
                      / (g.n + 100.0)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS encoded
    FROM g CROSS JOIN prior p ORDER BY g.c_mktsegment
    """,
)
def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding (m-estimate, m=100) of the market
    segment against order value — the categorical-feature encoder ML
    pipelines fit warehouse-side: encoded = (Σy + m·μ)/(n + m), pulling
    small categories toward the global prior μ. Sums are exact DECIMAL
    (so μ and every category mean are partition-order independent); the
    smoothing arithmetic runs on those scalars in identical-tree
    double. Scale: one fact⨝dim join (dim broadcasts), one hash-agg to
    category grain, 1-row prior broadcast back — the fitted encoder
    table then broadcasts into training jobs."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    g = (
        o.join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("o_totalprice").cast(_DEC)).alias("s"),
        )
    )
    prior = g.agg(
        (F.sum("s").cast("double") / F.sum("n")).alias("mu")
    )
    return (
        g.crossJoin(F.broadcast(prior))
        .select(
            "c_mktsegment",
            "n",
            portable_round(F.col("s").cast("double") / F.col("n"), 4)
            .cast("double")
            .alias("raw_mean"),
            portable_round(
                (F.col("s").cast("double") + F.lit(100.0) * F.col("mu"))
                / (F.col("n") + F.lit(100.0)),
                4,
            )
            .cast("double")
            .alias("encoded"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q_forecast_holt",
    oracle=f"""
    WITH RECURSIVE bars AS ({sql_ohlcv_bars("day", "close")}),
    seq AS (
        SELECT symbol, close,
               row_number() OVER (PARTITION BY symbol ORDER BY bar_ts) AS rn
        FROM bars
    ),
    packed AS (
        SELECT symbol, list(close ORDER BY rn) AS xs,
               len(list(close)) AS n
        FROM seq GROUP BY symbol
        HAVING len(list(close)) >= 2
    ),
    rec AS (
        SELECT symbol, xs, n, 2 AS rn,
               0.5 * xs[2] + 0.5 * (xs[1] + (xs[2] - xs[1])) AS l,
               0.3 * ((0.5 * xs[2] + 0.5 * (xs[1] + (xs[2] - xs[1])))
                      - xs[1])
               + 0.7 * (xs[2] - xs[1]) AS b
        FROM packed
        UNION ALL
        SELECT symbol, xs, n, rn + 1,
               0.5 * xs[rn + 1] + 0.5 * (l + b),
               0.3 * ((0.5 * xs[rn + 1] + 0.5 * (l + b)) - l) + 0.7 * b
        FROM rec WHERE rn < n
    ),
    final AS (
        SELECT symbol, l, b FROM rec WHERE rn = n
    )
    SELECT f.symbol, h.h,
           CAST((CAST(floor(CAST((f.l + h.h * f.b) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS forecast
    FROM final f
    CROSS JOIN (SELECT UNNEST(generate_series(1, 6)) AS h) h
    ORDER BY symbol, h
    """,
)
def q_forecast_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential-smoothing forecast (α=0.5, β=0.3) per
    symbol over daily closes: level/trend recurrences seeded at
    (l₁=x₁, b₁=x₂−x₁), rolled forward through the series, then a
    6-step-ahead linear extrapolation l_T + h·b_T — the trend-aware
    upgrade of q_forecast_linear. The recurrence is the documented
    (b)-path custom operator (same shape as q_macd / q_ewma): one
    Arrow-batched applyInPandas pass per symbol with the EXACT
    multiply-add order the oracle's recursive CTE replays, so float64
    states match bit-for-bit before the 4dp round. Scale: per-symbol
    series are calendar-bounded; the tick→bar hash-agg is the only
    full-data shuffle."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    bars = ohlcv_bars(ev, "day", "close")
    a, bb = 0.5, 0.3

    def holt_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bar_ts").reset_index(drop=True)
        if len(pdf) < 2:
            return pd.DataFrame(
                {"symbol": [], "h": [], "forecast": []}
            ).astype({"symbol": "string", "h": "int64", "forecast": "float64"})
        xs = pdf["close"].tolist()
        l, b = xs[0], xs[1] - xs[0]
        for x in xs[1:]:
            l_new = a * x + (1 - a) * (l + b)
            b = bb * (l_new - l) + (1 - bb) * b
            l = l_new
        sym = pdf["symbol"].iloc[0]
        return pd.DataFrame(
            {
                "symbol": [sym] * 6,
                "h": list(range(1, 7)),
                "forecast": [l + h * b for h in range(1, 7)],
            }
        )

    out = bars.groupBy("symbol").applyInPandas(
        holt_group, "symbol string, h long, forecast double"
    )
    return out.select(
        "symbol",
        F.col("h").cast("bigint").alias("h"),
        portable_round("forecast", 4).cast("double").alias("forecast"),
    ).orderBy("symbol", "h")


@query(
    "q_lead_lag_xcorr",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS ({sql_bar_returns("cbars")}),
    two AS (
        SELECT MIN(symbol) AS sa,
               MIN(CASE WHEN symbol > (SELECT MIN(symbol) FROM rets)
                        THEN symbol END) AS sb
        FROM rets
    ),
    lags AS (SELECT UNNEST(generate_series(-3, 3)) AS lag),
    joined AS (
        SELECT l.lag, a.r AS ra, b.r AS rb
        FROM rets a
        CROSS JOIN two t
        CROSS JOIN lags l
        JOIN rets b
          ON b.symbol = t.sb
         AND b.bar_ts = a.bar_ts + l.lag * INTERVAL 1 HOUR
        WHERE a.symbol = t.sa
    ),
    m AS (
        SELECT lag,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("ra", 12, 8)} AS sx,
               {sql_split_term_sum("rb", 12, 8)} AS sy,
               {sql_split_term_sum("ra * rb", 12, 8)} AS sxy,
               {sql_split_term_sum("ra * ra", 12, 8)} AS sxx,
               {sql_split_term_sum("rb * rb", 12, 8)} AS syy
        FROM joined GROUP BY lag
    )
    SELECT lag, n,
           CAST(CASE WHEN (n * sxx - sx * sx) <= 0
                       OR (n * syy - sy * sy) <= 0 THEN NULL
                ELSE (CAST(floor(CAST(((n * sxy - sx * sy)
                           / (sqrt(n * sxx - sx * sx)
                              * sqrt(n * syy - sy * sy))) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) END
                AS DOUBLE) AS xcorr
    FROM m ORDER BY lag
    """,
)
def q_lead_lag_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead–lag cross-correlation between the two lead symbols — the
    price-discovery diagnostic (which series moves first): corr(r_A(t),
    r_B(t+lag)) for lag ∈ [−3, +3] hours, aligned by exact bar-time
    shift. Symbol choice is deterministic (the two smallest), the lag
    alignment is an equi-join on shifted bar_ts (no window), and every
    correlation runs the repo's decimal moment formula with the
    identical double tree (degenerate variance → NULL). Scale: the
    lag×returns fanout is 7× one symbol's calendar-bounded series;
    joins key on bar_ts."""
    # deterministic two-symbol pick without collect: rank distinct
    # symbols straight off the events catalog (column-pruned scan — no
    # need to run the bars+returns pipeline just to list symbols)
    from pyspark.sql.window import Window as _W

    ev = load_table(spark, sf_dir, "events")
    syms = ev.select(F.col("event_type").alias("symbol")).distinct()
    ranked = syms.select(
        "symbol",
        F.row_number().over(_W.orderBy("symbol")).alias("rk"),
    ).filter(F.col("rk") <= 2)
    # ONE execution of the returns pipeline, restricted to the two lead
    # symbols and materialized — ra and rb both read the checkpointed
    # 2-symbol series instead of re-running bars+window per side
    r2 = (
        bar_returns(
            ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
        )
        .join(F.broadcast(ranked), "symbol")
        .localCheckpoint(eager=True)
    )
    lags = spark.range(-3, 4).select(F.col("id").cast("int").alias("lag"))
    ra = r2.filter(F.col("rk") == 1).select(
        F.col("bar_ts"), F.col("r").alias("ra")
    )
    rb = r2.filter(F.col("rk") == 2).select(
        F.col("bar_ts").alias("b_ts"), F.col("r").alias("rb")
    )
    joined = (
        ra.crossJoin(F.broadcast(lags))
        .join(
            rb,
            F.col("b_ts")
            == F.col("bar_ts") + F.make_interval(hours=F.col("lag")),
        )
    )
    m = joined.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        split_term_sum(F.col("ra"), 12, 8).alias("sx"),
        split_term_sum(F.col("rb"), 12, 8).alias("sy"),
        split_term_sum(F.col("ra") * F.col("rb"), 12, 8).alias("sxy"),
        split_term_sum(F.col("ra") * F.col("ra"), 12, 8).alias("sxx"),
        split_term_sum(F.col("rb") * F.col("rb"), 12, 8).alias("syy"),
    )
    cxx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    cyy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cxy = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return m.select(
        "lag",
        "n",
        F.when((cxx <= 0) | (cyy <= 0), F.lit(None).cast("double"))
        .otherwise(portable_round(cxy / (F.sqrt(cxx) * F.sqrt(cyy)), 6))
        .cast("double")
        .alias("xcorr"),
    ).orderBy("lag")


@query(
    "q_volume_profile",
    oracle="""
    WITH hourly AS (
        SELECT event_type AS symbol,
               CAST(hour(ts) AS BIGINT) AS hod,
               CAST(COUNT(*) AS BIGINT) AS vol
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT symbol, CAST(SUM(vol) AS BIGINT) AS total
        FROM hourly GROUP BY symbol
    )
    SELECT h.symbol, h.hod, h.vol,
           CAST((2 * 10000 * h.vol + t.total) // (2 * t.total) AS BIGINT)
               AS share_x10000
    FROM hourly h JOIN tot t ON t.symbol = h.symbol
    ORDER BY h.symbol, h.hod
    """,
)
def q_volume_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intraday volume profile per symbol: tick volume by hour-of-day
    and its share of the symbol's total — the U-curve every VWAP/TWAP
    execution scheduler slices its orders by. Exact integer counts;
    shares emit integer-scaled 1e-4 with integer half-up rounding.
    Scale: one (symbol, hour-of-day) hash-agg — 24 rows per symbol —
    plus a broadcast per-symbol total."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("event_type").alias("symbol"),
        F.hour("ts").cast("bigint").alias("hod"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("vol"))
    tot = hourly.groupBy("symbol").agg(
        F.sum("vol").cast("bigint").alias("total")
    )
    return (
        hourly.join(F.broadcast(tot), "symbol")
        .select(
            "symbol",
            "hod",
            "vol",
            F.expr("(2 * 10000 * vol + total) div (2 * total)")
            .cast("bigint")
            .alias("share_x10000"),
        )
        .orderBy("symbol", "hod")
    )


@query(
    "q_overnight_gaps",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("day", *OHLCV)}),
    seq AS (
        SELECT symbol, bar_ts, open, high, low, close,
               lag(close) OVER (PARTITION BY symbol ORDER BY bar_ts)
                   AS prev_close
        FROM bars
        QUALIFY prev_close IS NOT NULL
    )
    SELECT symbol,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(COUNT(*) FILTER (WHERE open > prev_close) AS BIGINT)
               AS n_gap_up,
           CAST(COUNT(*) FILTER (WHERE open < prev_close) AS BIGINT)
               AS n_gap_down,
           CAST(COUNT(*) FILTER (WHERE (open > prev_close
                                        AND low <= prev_close)
                                    OR (open < prev_close
                                        AND high >= prev_close))
                AS BIGINT) AS n_gaps_filled,
           CAST((CAST(floor(CAST(({sql_split_term_sum("abs(open / prev_close - 1.0)", 12, 8)})
                      / COUNT(*) * 10000 AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS avg_gap_bps
    FROM seq GROUP BY symbol ORDER BY symbol
    """,
)
def q_overnight_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overnight-gap analysis per symbol over daily bars: gap direction
    counts (open vs prior close — engine-exact double comparisons), the
    gap-FILL rate (did the day's range touch back to the prior close —
    the mean-reversion stat gap traders live on), and the mean absolute
    gap in basis points (per-day ratios in identical-tree double,
    decimal accumulation). One bar hash-agg + one lag window + one
    per-symbol agg."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "day", *OHLCV)
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    seq = bars.select(
        "symbol",
        "open",
        "high",
        "low",
        F.lag("close").over(w).alias("prev_close"),
    ).filter(F.col("prev_close").isNotNull())
    up = F.col("open") > F.col("prev_close")
    down = F.col("open") < F.col("prev_close")
    filled = (up & (F.col("low") <= F.col("prev_close"))) | (
        down & (F.col("high") >= F.col("prev_close"))
    )
    gap = F.abs(F.col("open") / F.col("prev_close") - F.lit(1.0))
    return (
        seq.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.count(F.when(up, 1)).cast("bigint").alias("n_gap_up"),
            F.count(F.when(down, 1)).cast("bigint").alias("n_gap_down"),
            F.count(F.when(filled, 1)).cast("bigint").alias("n_gaps_filled"),
            portable_round(
                split_term_sum(gap, 12, 8) / F.count(F.lit(1)) * F.lit(10000.0),
                4,
            )
            .cast("double")
            .alias("avg_gap_bps"),
        )
        .orderBy("symbol")
    )


@query(
    "q_price_clustering",
    oracle="""
    WITH scaled AS (
        SELECT event_type AS symbol,
               CAST((CAST(floor(CAST((value * 100) AS DOUBLE) * 1.0 + 0.5) AS DOUBLE) / 1.0) AS BIGINT) AS cents
        FROM events
    )
    SELECT symbol,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           CAST(COUNT(*) FILTER (WHERE cents % 100 = 0) AS BIGINT)
               AS n_whole,
           CAST(COUNT(*) FILTER (WHERE cents % 50 = 0) AS BIGINT)
               AS n_half,
           CAST(COUNT(*) FILTER (WHERE cents % 10 = 0) AS BIGINT)
               AS n_dime,
           CAST((2 * 10000 * COUNT(*) FILTER (WHERE cents % 10 = 0)
                 + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
               AS dime_share_x10000
    FROM scaled GROUP BY symbol ORDER BY symbol
    """,
)
def q_price_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-number price clustering per symbol — the behavioral
    microstructure audit (humans quote at wholes, halves, and dimes;
    uniform prices put ~1/10 of ticks on dimes, so an excess flags
    human-quoted vs model-quoted flow): 2dp prices scale to exact
    integer cents (round-then-cast — no float modulo), divisibility
    counts by 100/50/10, and the dime share integer-scaled. All
    integer arithmetic after the one scaling step. One hash-agg."""
    ev = load_table(spark, sf_dir, "events")
    cents = portable_round(F.col("value") * 100).cast("bigint")
    scaled = ev.select(
        F.col("event_type").alias("symbol"), cents.alias("cents")
    )
    return (
        scaled.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
            F.count(F.when(F.col("cents") % 100 == 0, 1))
            .cast("bigint")
            .alias("n_whole"),
            F.count(F.when(F.col("cents") % 50 == 0, 1))
            .cast("bigint")
            .alias("n_half"),
            F.count(F.when(F.col("cents") % 10 == 0, 1))
            .cast("bigint")
            .alias("n_dime"),
            F.expr(
                "(2 * 10000 * count(CASE WHEN cents % 10 = 0 THEN 1 END)"
                " + count(1)) div (2 * count(1))"
            )
            .cast("bigint")
            .alias("dime_share_x10000"),
        )
        .orderBy("symbol")
    )


@query(
    "q_var_cvar",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS ({sql_bar_returns("cbars")}),
    var_t AS (
        SELECT symbol,
               percentile_disc(0.05) WITHIN GROUP (ORDER BY r) AS var95
        FROM rets GROUP BY symbol
    )
    SELECT r.symbol,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST((CAST(floor(CAST((v.var95) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS var95,
           CAST(COUNT(*) FILTER (WHERE r.r <= v.var95) AS BIGINT)
               AS n_tail,
           CAST((CAST(floor(CAST(({sql_split_term_sum("CASE WHEN r.r <= v.var95 THEN r.r END", 12, 8)})
                      / COUNT(*) FILTER (WHERE r.r <= v.var95) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                AS DOUBLE) AS cvar95
    FROM rets r JOIN var_t v ON v.symbol = r.symbol
    GROUP BY r.symbol, v.var95
    ORDER BY r.symbol
    """,
)
def q_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical VaR95 and CVaR95 (expected shortfall) per symbol over
    hourly returns — the risk numbers every desk reports: VaR is the
    DISCRETE 5th-percentile return (an actual observed value — engine-
    exact pick, no interpolation float), CVaR the decimal-accumulated
    mean of the tail at or below it. The tail filter compares raw
    doubles against the picked value — exact on both engines. Scale:
    per-group sort for the exact percentile (the honest cost; the
    sketch path is q_approx_percentile) + one broadcast join back +
    one agg."""
    rets = bar_returns(
        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    )
    var_t = rets.groupBy("symbol").agg(
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY r)").alias(
            "var95"
        )
    )
    j = rets.join(F.broadcast(var_t), "symbol")
    in_tail = F.col("r") <= F.col("var95")
    return (
        j.groupBy("symbol", "var95")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.count(F.when(in_tail, 1)).cast("bigint").alias("n_tail"),
            portable_round(
                # NULL off-tail terms contribute 0 to both split-sum
                # buckets on both engines, matching the FILTER semantics
                split_term_sum(F.when(in_tail, F.col("r")), 12, 8)
                / F.count(F.when(in_tail, 1)),
                6,
            )
            .cast("double")
            .alias("cvar95"),
        )
        .select(
            "symbol",
            "n",
            portable_round("var95", 6).cast("double").alias("var95"),
            "n_tail",
            "cvar95",
        )
        .orderBy("symbol")
    )


@query(
    "q_drawdown_duration",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", *OHLCV)}),
    uw AS (
        SELECT symbol, bar_ts,
               CASE WHEN close < MAX(close) OVER (PARTITION BY symbol
                                                  ORDER BY bar_ts
                                                  ROWS UNBOUNDED PRECEDING)
                    THEN 1 ELSE 0 END AS under,
               row_number() OVER (PARTITION BY symbol ORDER BY bar_ts) AS rn
        FROM bars
    ),
    runs AS (
        SELECT symbol, under,
               rn - row_number() OVER (PARTITION BY symbol, under
                                       ORDER BY rn) AS grp
        FROM uw
    ),
    spells AS (
        SELECT symbol, CAST(COUNT(*) AS BIGINT) AS len
        FROM runs WHERE under = 1
        GROUP BY symbol, grp
    )
    SELECT symbol,
           CAST(COUNT(*) AS BIGINT) AS n_spells,
           CAST(MAX(len) AS BIGINT) AS longest_underwater_bars,
           CAST(SUM(len) AS BIGINT) AS total_underwater_bars
    FROM spells GROUP BY symbol ORDER BY symbol
    """,
)
def q_drawdown_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drawdown DURATION per symbol — the time dimension q_drawdown's
    magnitude misses: bars below the running peak form underwater
    spells via the gaps-and-islands rn-difference trick (pure integer
    arithmetic — rn minus per-state rank is constant within a run);
    reports spell count, the longest spell, and total time underwater.
    A strict < against the running max is engine-exact on raw doubles.
    Scale: three stacked windows all keyed by symbol + one hash-agg —
    one shuffle."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLCV)
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    uw = bars.select(
        "symbol",
        "bar_ts",
        F.when(
            F.col("close") < F.max("close").over(wrun), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("under"),
        F.row_number().over(w).alias("rn"),
    )
    wg = Window.partitionBy("symbol", "under").orderBy("rn")
    runs = uw.select(
        "symbol",
        "under",
        (F.col("rn") - F.row_number().over(wg)).alias("grp"),
    )
    spells = (
        runs.filter(F.col("under") == 1)
        .groupBy("symbol", "grp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("len"))
    )
    return (
        spells.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spells"),
            F.max("len").cast("bigint").alias("longest_underwater_bars"),
            F.sum("len").cast("bigint").alias("total_underwater_bars"),
        )
        .orderBy("symbol")
    )


@query(
    "q_kyle_lambda",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", *OHLCV)}),
    seq AS (
        SELECT symbol, bar_ts, volume,
               {sql_simple_return("w")} AS r,
               CASE WHEN close > lag(close) OVER w THEN CAST(volume AS DOUBLE)
                    WHEN close < lag(close) OVER w THEN -CAST(volume AS DOUBLE)
                    ELSE 0.0 END AS sv
        FROM bars
        WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts)
        QUALIFY r IS NOT NULL
    ),
    m AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("sv", 12, 8)} AS sx,
               {sql_split_term_sum("r", 12, 8)} AS sy,
               {sql_split_term_sum("sv * r", 12, 8)} AS sxy,
               {sql_split_term_sum("sv * sv", 12, 8)} AS sxx
        FROM seq GROUP BY symbol
    )
    SELECT symbol, n,
           CAST(CASE WHEN (n * sxx - sx * sx) <= 0 THEN NULL
                ELSE (CAST(floor(CAST(((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) END AS DOUBLE) AS lambda_x1e6
    FROM m ORDER BY symbol
    """,
)
def q_kyle_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kyle's lambda per symbol — the price-impact slope from
    regressing bar returns on tick-rule-signed volume (λ·10⁶; the
    structural cousin of q_amihud_illiquidity's ratio proxy): signed
    volume uses the close-direction rule (q_obv's convention), the
    slope comes from the repo's decimal moment formula with the
    identical double tree, degenerate variance → NULL. One bar
    hash-agg + one lag window + one per-symbol agg."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLCV)
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    prev_c = F.lag("close").over(w)
    seq = bars.select(
        "symbol",
        (F.col("close") / prev_c - F.lit(1.0)).alias("r"),
        F.when(F.col("close") > prev_c, F.col("volume").cast("double"))
        .when(F.col("close") < prev_c, -F.col("volume").cast("double"))
        .otherwise(F.lit(0.0))
        .alias("sv"),
    ).filter(F.col("r").isNotNull())
    m = seq.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        split_term_sum(F.col("sv"), 12, 8).alias("sx"),
        split_term_sum(F.col("r"), 12, 8).alias("sy"),
        split_term_sum(F.col("sv") * F.col("r"), 12, 8).alias("sxy"),
        split_term_sum(F.col("sv") * F.col("sv"), 12, 8).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return m.select(
        "symbol",
        "n",
        F.when(den <= 0, F.lit(None).cast("double"))
        .otherwise(portable_round(num / den * F.lit(1e6), 6))
        .cast("double")
        .alias("lambda_x1e6"),
    ).orderBy("symbol")


@query(
    "q_event_study_jumps",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS ({sql_bar_returns("cbars")}),
    sigma AS (
        SELECT symbol,
               sqrt(greatest(
                   {sql_split_term_sum("r * r", 12, 8)}
                       / COUNT(*)
                   - ({sql_split_term_sum("r", 12, 8)}
                      / COUNT(*))
                     * ({sql_split_term_sum("r", 12, 8)}
                        / COUNT(*)), 0.0)) AS sd
        FROM rets GROUP BY symbol
    ),
    flagged AS (
        SELECT r.symbol, r.bar_ts, r.r,
               abs(r.r) > 3.0 * s.sd AS is_jump,
               CASE WHEN r.r > 0 THEN 1 ELSE -1 END AS jump_sign
        FROM rets r JOIN sigma s ON s.symbol = r.symbol
    ),
    post AS (
        SELECT symbol, bar_ts, is_jump, jump_sign,
               lead(r, 1) OVER w AS r1,
               lead(r, 2) OVER w AS r2,
               lead(r, 3) OVER w AS r3
        FROM flagged
        WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts)
    )
    SELECT is_jump,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST((CAST(floor(CAST(({sql_split_term_sum(
                          "jump_sign * (COALESCE(r1, 0) + COALESCE(r2, 0)"
                          " + COALESCE(r3, 0))", 12, 8)})
                      / COUNT(*) * 10000 AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE)
               AS avg_signed_drift_bps
    FROM post GROUP BY is_jump ORDER BY is_jump
    """,
)
def q_event_study_jumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event study on return jumps: bars with |r| > 3σ are events, and
    the 3-bar post-event cumulative return — SIGNED by the jump
    direction, so continuation reads positive and reversal negative —
    averages against the non-event baseline (the momentum-vs-reversal
    question every jump paper asks). σ is the population sd from
    decimal moment sums; post-event returns stack via lead(1..3); the
    signed drift accumulates in decimal and reads in basis points.
    Scale: per-symbol σ broadcast back, one lead window, one 2-row
    agg."""
    rets = bar_returns(
        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    )
    sigma = rets.groupBy("symbol").agg(
        F.sqrt(
            F.greatest(
                split_term_sum(F.col("r") * F.col("r"), 12, 8) / F.count(F.lit(1))
                - (split_term_sum(F.col("r"), 12, 8) / F.count(F.lit(1)))
                * (split_term_sum(F.col("r"), 12, 8) / F.count(F.lit(1))),
                F.lit(0.0),
            )
        ).alias("sd")
    )
    flagged = rets.join(F.broadcast(sigma), "symbol").select(
        "symbol",
        "bar_ts",
        "r",
        (F.abs(F.col("r")) > F.lit(3.0) * F.col("sd")).alias("is_jump"),
        F.when(F.col("r") > 0, F.lit(1)).otherwise(F.lit(-1)).alias(
            "jump_sign"
        ),
    )
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    post = flagged.select(
        "is_jump",
        "jump_sign",
        F.lead("r", 1).over(w).alias("r1"),
        F.lead("r", 2).over(w).alias("r2"),
        F.lead("r", 3).over(w).alias("r3"),
    )
    drift = F.col("jump_sign") * (
        F.coalesce("r1", F.lit(0.0))
        + F.coalesce("r2", F.lit(0.0))
        + F.coalesce("r3", F.lit(0.0))
    )
    return (
        post.groupBy("is_jump")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            portable_round(
                split_term_sum(drift, 12, 8) / F.count(F.lit(1)) * F.lit(10000.0),
                4,
            )
            .cast("double")
            .alias("avg_signed_drift_bps"),
        )
        .orderBy("is_jump")
    )


@query(
    "q_arch_effect",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS ({sql_bar_returns("cbars")}),
    pairs AS (
        SELECT symbol, r * r AS y,
               lag(r * r) OVER (PARTITION BY symbol ORDER BY bar_ts) AS x
        FROM rets
        QUALIFY x IS NOT NULL
    ),
    m AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("x", 12, 8)} AS sx,
               {sql_split_term_sum("y", 12, 8)} AS sy,
               {sql_split_term_sum("x * y", 12, 2)} AS sxy,
               {sql_split_term_sum("x * x", 12, 2)} AS sxx,
               {sql_split_term_sum("y * y", 12, 2)} AS syy
        FROM pairs GROUP BY symbol
    )
    SELECT symbol, n,
           CAST(CASE WHEN (n * sxx - sx * sx) <= 0
                       OR (n * syy - sy * sy) <= 0 THEN NULL
                ELSE (CAST(floor(CAST(((n * sxy - sx * sy)
                           / (sqrt(n * sxx - sx * sx)
                              * sqrt(n * syy - sy * sy))) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) END
                AS DOUBLE) AS acf1_sq,
           CAST(CASE WHEN (n * sxx - sx * sx) <= 0
                       OR (n * syy - sy * sy) <= 0 THEN NULL
                ELSE (CAST(floor(CAST((n * pow((n * sxy - sx * sy)
                                   / (sqrt(n * sxx - sx * sx)
                                      * sqrt(n * syy - sy * sy)), 2)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) END
                AS DOUBLE) AS lm_stat
    FROM m ORDER BY symbol
    """,
)
def q_arch_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle ARCH-effect test (one lag) per symbol — the volatility-
    clustering diagnostic that decides whether a GARCH model is even
    warranted: lag-1 autocorrelation of SQUARED returns (q_autocorr's
    machinery on r²) and the LM statistic n·R² = n·ρ² (∼χ²₁ under the
    no-ARCH null; > 3.84 rejects at 5%). All five moment sums in exact
    DECIMAL, statistic in identical-tree double. One lag window + one
    hash-agg per symbol."""
    rets = bar_returns(
        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    )
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    r2 = F.col("r") * F.col("r")
    pairs = rets.select(
        "symbol",
        r2.alias("y"),
        F.lag(r2).over(w).alias("x"),
    ).filter(F.col("x").isNotNull())
    m = pairs.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        split_term_sum(F.col("x"), 12, 8).alias("sx"),
        split_term_sum(F.col("y"), 12, 8).alias("sy"),
        split_term_sum(F.col("x") * F.col("y"), 12, 2).alias("sxy"),
        split_term_sum(F.col("x") * F.col("x"), 12, 2).alias("sxx"),
        split_term_sum(F.col("y") * F.col("y"), 12, 2).alias("syy"),
    )
    cxx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    cyy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cxy = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    rho = cxy / (F.sqrt(cxx) * F.sqrt(cyy))
    bad = (cxx <= 0) | (cyy <= 0)
    return m.select(
        "symbol",
        "n",
        F.when(bad, F.lit(None).cast("double"))
        .otherwise(portable_round(rho, 6))
        .cast("double")
        .alias("acf1_sq"),
        F.when(bad, F.lit(None).cast("double"))
        .otherwise(portable_round(F.col("n") * F.pow(rho, 2), 4))
        .cast("double")
        .alias("lm_stat"),
    ).orderBy("symbol")


@query(
    "q_sortino",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS ({sql_bar_returns("cbars")}),
    m AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("r", 12, 8)} AS s,
               {sql_split_term_sum("CASE WHEN r < 0 THEN r * r ELSE 0 END", 12, 8)}
                   AS ssd,
               CAST(COUNT(*) FILTER (WHERE r < 0) AS BIGINT) AS n_down
        FROM rets GROUP BY symbol
    )
    SELECT symbol, n, n_down,
           CAST((CAST(floor(CAST((sqrt(ssd / n)) AS DOUBLE) * 100000000.0 + 0.5) AS DOUBLE) / 100000000.0) AS DOUBLE) AS downside_dev,
           CAST(CASE WHEN ssd <= 0 THEN NULL
                ELSE (CAST(floor(CAST(((s / n) / sqrt(ssd / n) * sqrt(8760.0)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) END
                AS DOUBLE) AS sortino_ann
    FROM m ORDER BY symbol
    """,
)
def q_sortino(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized Sortino ratio per symbol (target = 0): mean return
    over the DOWNSIDE deviation √(Σ_{r<0} r²/n) — the risk ratio that
    stops punishing upside volatility, completing q_sharpe. Downside
    squared sums accumulate in exact DECIMAL; the ratio chain is
    identical-tree double; a loss-free series yields NULL. One
    hash-agg per symbol after the returns window."""
    rets = bar_returns(
        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    )
    m = rets.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        split_term_sum(F.col("r"), 12, 8).alias("s"),
        split_term_sum(
            F.when(F.col("r") < 0, F.col("r") * F.col("r")).otherwise(
                F.lit(0.0)
            ),
            12,
            8,
        ).alias("ssd"),
        F.count(F.when(F.col("r") < 0, 1)).cast("bigint").alias("n_down"),
    )
    dd = F.sqrt(F.col("ssd") / F.col("n"))
    return m.select(
        "symbol",
        "n",
        "n_down",
        portable_round(dd, 8).cast("double").alias("downside_dev"),
        F.when(F.col("ssd") <= 0, F.lit(None).cast("double"))
        .otherwise(
            portable_round(
                (F.col("s") / F.col("n")) / dd * F.sqrt(F.lit(8760.0)), 6
            )
        )
        .cast("double")
        .alias("sortino_ann"),
    ).orderBy("symbol")


@query(
    "q_hhi_concentration",
    oracle="""
    WITH vols AS (
        SELECT event_type AS symbol, CAST(COUNT(*) AS BIGINT) AS vol
        FROM events GROUP BY event_type
    ),
    agg AS (
        SELECT CAST(SUM(vol) AS BIGINT) AS total,
               CAST(SUM(vol * vol) AS BIGINT) AS sum_sq,
               CAST(COUNT(*) AS BIGINT) AS n_symbols,
               CAST(MAX(vol) AS BIGINT) AS max_vol
        FROM vols
    )
    SELECT n_symbols, total,
           CAST((2 * 10000 * sum_sq + total * total)
                // (2 * total * total) AS BIGINT) AS hhi_x10000,
           CAST((2 * 10000 * max_vol + total) // (2 * total) AS BIGINT)
               AS top_share_x10000
    FROM agg
    """,
)
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of trading volume across
    symbols — the market-structure scalar regulators and exchanges
    track (HHI = Σ share², 1/n for even flow, 1 for a monopoly), plus
    the top symbol's share. Both emit EXACT: HHI = Σv²/T² is a ratio
    of integers, so the 1e-4-scaled output is pure integer half-up
    arithmetic — no float anywhere. Complements q_gini (inequality)
    and q_abc_analysis (Pareto classes) with the squared-share lens.
    One symbol hash-agg + one 1-row agg."""
    ev = load_table(spark, sf_dir, "events")
    vols = ev.groupBy(F.col("event_type").alias("symbol")).agg(
        F.count(F.lit(1)).cast("bigint").alias("vol")
    )
    agg = vols.agg(
        F.sum("vol").cast("bigint").alias("total"),
        F.sum(F.col("vol") * F.col("vol")).cast("bigint").alias("sum_sq"),
        F.count(F.lit(1)).cast("bigint").alias("n_symbols"),
        F.max("vol").cast("bigint").alias("max_vol"),
    )
    return agg.select(
        "n_symbols",
        "total",
        F.expr(
            "(2 * 10000 * sum_sq + total * total) div (2 * total * total)"
        )
        .cast("bigint")
        .alias("hhi_x10000"),
        F.expr("(2 * 10000 * max_vol + total) div (2 * total)")
        .cast("bigint")
        .alias("top_share_x10000"),
    )


@query(
    "q_roll_spread",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS ({sql_bar_returns("cbars")}),
    dp AS (
        SELECT c.symbol, c.bar_ts,
               c.close - lag(c.close) OVER (PARTITION BY c.symbol
                                            ORDER BY c.bar_ts) AS d
        FROM cbars c
        QUALIFY d IS NOT NULL
    ),
    pairs AS (
        SELECT symbol, d AS y,
               lag(d) OVER (PARTITION BY symbol ORDER BY bar_ts) AS x
        FROM dp
        QUALIFY x IS NOT NULL
    ),
    m AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("x", 12, 8)} AS sx,
               {sql_split_term_sum("y", 12, 8)} AS sy,
               {sql_split_term_sum("x * y", 12, 8)} AS sxy
        FROM pairs GROUP BY symbol
    )
    SELECT symbol, n,
           CAST((CAST(floor(CAST(((sxy / n) - (sx / n) * (sy / n)) AS DOUBLE) * 100000000.0 + 0.5) AS DOUBLE) / 100000000.0) AS DOUBLE)
               AS serial_cov,
           CAST(CASE WHEN (sxy / n) - (sx / n) * (sy / n) >= 0 THEN NULL
                ELSE (CAST(floor(CAST((2.0 * sqrt(-((sxy / n) - (sx / n) * (sy / n)))) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) END AS DOUBLE) AS roll_spread
    FROM m ORDER BY symbol
    """,
)
def q_roll_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll's implied bid–ask spread per symbol: s = 2√(−cov(Δp_t,
    Δp_{t−1})) — the classic estimator that reads the effective spread
    out of price-change serial covariance alone (bid-ask bounce makes
    consecutive changes negatively correlated; a non-negative
    covariance means the model doesn't apply and yields NULL, the
    honest convention). Price changes via lag over hourly closes,
    covariance from decimal moment sums, identical double tree. One
    bar hash-agg + two stacked lag windows + one agg per symbol."""
    ev = load_table(spark, sf_dir, "events")
    bars = ohlcv_bars(ev, "hour", "close")
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    dp = bars.select(
        "symbol",
        "bar_ts",
        (F.col("close") - F.lag("close").over(w)).alias("d"),
    ).filter(F.col("d").isNotNull())
    pairs = dp.select(
        "symbol",
        F.col("d").alias("y"),
        F.lag("d").over(w.orderBy("bar_ts")).alias("x"),
    ).filter(F.col("x").isNotNull())
    m = pairs.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        split_term_sum(F.col("x"), 12, 8).alias("sx"),
        split_term_sum(F.col("y"), 12, 8).alias("sy"),
        split_term_sum(F.col("x") * F.col("y"), 12, 8).alias("sxy"),
    )
    cov = (F.col("sxy") / F.col("n")) - (F.col("sx") / F.col("n")) * (
        F.col("sy") / F.col("n")
    )
    return m.select(
        "symbol",
        "n",
        portable_round(cov, 8).cast("double").alias("serial_cov"),
        F.when(cov >= 0, F.lit(None).cast("double"))
        .otherwise(portable_round(F.lit(2.0) * F.sqrt(-cov), 6))
        .cast("double")
        .alias("roll_spread"),
    ).orderBy("symbol")


@query(
    "q_rolling_beta",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS ({sql_bar_returns("cbars")}),
    mkt AS ({sql_market_return("rets")}),
    j AS (
        SELECT s.symbol, s.bar_ts, s.r, m.rm,
               row_number() OVER (PARTITION BY s.symbol
                                  ORDER BY s.bar_ts) AS rn
        FROM rets s JOIN mkt m ON m.bar_ts = s.bar_ts
    ),
    framed AS (
        SELECT symbol, bar_ts, rn,
               CAST(COUNT(*) OVER f AS BIGINT) AS k,
               {sql_split_term_sum("rm", 12, 8, "OVER f")} AS sx,
               {sql_split_term_sum("r", 12, 8, "OVER f")} AS sy,
               {sql_split_term_sum("r * rm", 12, 8, "OVER f")} AS sxy,
               {sql_split_term_sum("rm * rm", 12, 8, "OVER f")} AS sxx
        FROM j
        WINDOW f AS (PARTITION BY symbol ORDER BY rn
                     ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
    )
    SELECT symbol, bar_ts,
           CAST(CASE WHEN (k * sxx - sx * sx) <= 0 THEN NULL
                ELSE (CAST(floor(CAST(((k * sxy - sx * sy) / (k * sxx - sx * sx)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                END AS DOUBLE) AS beta100
    FROM framed
    WHERE rn >= 100
    ORDER BY symbol, bar_ts
    """,
)
def q_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 100-bar CAPM beta per symbol — the time-varying risk
    monitor (is this asset getting more market-sensitive?): the same
    equal-weight market construction and moment formula as
    q_beta_capm, but with all four Σ as 100-bar FRAME sums in exact
    DECIMAL (the q_rsi window pattern), emitted once the frame is
    full. Degenerate frame variance yields NULL. Scale: the market
    table broadcasts, then four stacked frame sums in ONE window pass
    keyed by symbol."""
    rets = bar_returns(
        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    )
    mkt = market_return(rets)
    j = rets.join(F.broadcast(mkt), "bar_ts")
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    jn = j.select(
        "symbol", "bar_ts", "r", "rm", F.row_number().over(w).alias("rn")
    )
    f = Window.partitionBy("symbol").orderBy("rn").rowsBetween(-99, 0)
    framed = jn.select(
        "symbol",
        "bar_ts",
        "rn",
        F.count(F.lit(1)).over(f).cast("bigint").alias("k"),
        split_term_sum(F.col("rm"), 12, 8, f).alias("sx"),
        split_term_sum(F.col("r"), 12, 8, f).alias("sy"),
        split_term_sum(F.col("r") * F.col("rm"), 12, 8, f).alias("sxy"),
        split_term_sum(F.col("rm") * F.col("rm"), 12, 8, f).alias("sxx"),
    ).filter(F.col("rn") >= 100)
    den = F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    return framed.select(
        "symbol",
        "bar_ts",
        F.when(den <= 0, F.lit(None).cast("double"))
        .otherwise(portable_round(num / den, 6))
        .cast("double")
        .alias("beta100"),
    ).orderBy("symbol", "bar_ts")


@query(
    "q_hill_tail_index",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS ({sql_bar_returns("cbars")}),
    ranked AS (
        SELECT symbol, abs(r) AS ar,
               row_number() OVER (PARTITION BY symbol
                                  ORDER BY abs(r) DESC, bar_ts) AS rk
        FROM rets WHERE r <> 0
    ),
    topk AS (
        SELECT symbol, ar,
               MIN(ar) OVER (PARTITION BY symbol) AS x_min
        FROM ranked WHERE rk <= 50
    ),
    m AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST((CAST(floor(CAST((ln(ar / x_min)) AS DOUBLE) * 1000000000000.0 + 0.5) AS DOUBLE) / 1000000000000.0) AS DECIMAL(38,12)))
                    AS DOUBLE) AS sum_log
        FROM topk GROUP BY symbol
    )
    SELECT symbol, k,
           CAST(CASE WHEN sum_log <= 0 THEN NULL
                ELSE (CAST(floor(CAST((k / sum_log) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) END AS DOUBLE) AS hill_alpha
    FROM m ORDER BY symbol
    """,
)
def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimator per symbol over the top-50 absolute
    returns: α̂ = k / Σ ln(x_i/x_min) — the power-law exponent that
    says whether return tails are fat enough to break variance-based
    risk models (α < 2 ⇒ infinite variance; equities classically ~3).
    The top-k picks via a per-symbol rank with bar_ts tie-break
    (deterministic), x_min is the k-th order statistic, each log term
    12dp-rounds then decimal-accumulates (partition-order
    independent). Scale: per-symbol rank window + a 50-row agg — at
    production scale the top-k pre-filters through TakeOrdered per
    symbol."""
    rets = bar_returns(
        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    )
    w = Window.partitionBy("symbol").orderBy(
        F.abs(F.col("r")).desc(), "bar_ts"
    )
    ranked = (
        rets.filter(F.col("r") != 0)
        .select("symbol", F.abs("r").alias("ar"), F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 50)
    )
    wmin = Window.partitionBy("symbol")
    topk = ranked.select(
        "symbol", "ar", F.min("ar").over(wmin).alias("x_min")
    )
    # 12dp-pre-rounded log ratios cast at their OWN scale (matching the
    # oracle's DECIMAL(38,12)): k = term*1e12 <= ~4.5e13 << 2^53, exact
    m = topk.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        term_sum(F.log(F.col("ar") / F.col("x_min")), 12).alias("sum_log"),
    )
    return m.select(
        "symbol",
        "k",
        F.when(F.col("sum_log") <= 0, F.lit(None).cast("double"))
        .otherwise(portable_round(F.col("k") / F.col("sum_log"), 4))
        .cast("double")
        .alias("hill_alpha"),
    ).orderBy("symbol")


@query(
    "q_market_profile",
    oracle="""
    WITH buckets AS (
        SELECT event_type AS symbol,
               CAST(floor(value) AS BIGINT) AS price_level,
               CAST(COUNT(*) AS BIGINT) AS n_ticks
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT symbol, price_level, n_ticks,
               row_number() OVER (PARTITION BY symbol
                                  ORDER BY n_ticks DESC, price_level)
                   AS rk,
               CAST(SUM(n_ticks) OVER (PARTITION BY symbol) AS BIGINT)
                   AS total
        FROM buckets
    )
    SELECT symbol, rk, price_level, n_ticks,
           CAST((2 * 10000 * n_ticks + total) // (2 * total) AS BIGINT)
               AS share_x10000
    FROM ranked WHERE rk <= 5
    ORDER BY symbol, rk
    """,
)
def q_market_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market profile per symbol: the five most-traded whole-number
    price levels (TPO-style value area — where the auction spent its
    time), with tick counts and integer-scaled share of total. Price
    levels bucket by floor(value) — engine-exact on doubles; the top-5
    pick uses a per-symbol rank with price tie-break. Scale: one
    (symbol, level) hash-agg — levels are price-range-bounded — then a
    symbol-keyed rank window over the bucket table, never over
    ticks."""
    ev = load_table(spark, sf_dir, "events")
    buckets = ev.groupBy(
        F.col("event_type").alias("symbol"),
        F.floor("value").cast("bigint").alias("price_level"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_ticks"))
    w = Window.partitionBy("symbol").orderBy(
        F.col("n_ticks").desc(), "price_level"
    )
    wt = Window.partitionBy("symbol")
    ranked = buckets.select(
        "symbol",
        "price_level",
        "n_ticks",
        F.row_number().over(w).alias("rk"),
        F.sum("n_ticks").over(wt).cast("bigint").alias("total"),
    ).filter(F.col("rk") <= 5)
    return ranked.select(
        "symbol",
        "rk",
        "price_level",
        "n_ticks",
        F.expr("(2 * 10000 * n_ticks + total) div (2 * total)")
        .cast("bigint")
        .alias("share_x10000"),
    ).orderBy("symbol", "rk")


@query(
    "q_acf_correlogram",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS ({sql_bar_returns("cbars")}),
    pairs AS (
        SELECT * FROM (
        SELECT symbol, 1 AS lag, r AS y,
               lag(r, 1) OVER (PARTITION BY symbol ORDER BY bar_ts) AS x
        FROM rets
        UNION ALL
        SELECT symbol, 2 AS lag, r AS y,
               lag(r, 2) OVER (PARTITION BY symbol ORDER BY bar_ts) AS x
        FROM rets
        UNION ALL
        SELECT symbol, 3 AS lag, r AS y,
               lag(r, 3) OVER (PARTITION BY symbol ORDER BY bar_ts) AS x
        FROM rets
        UNION ALL
        SELECT symbol, 4 AS lag, r AS y,
               lag(r, 4) OVER (PARTITION BY symbol ORDER BY bar_ts) AS x
        FROM rets
        UNION ALL
        SELECT symbol, 5 AS lag, r AS y,
               lag(r, 5) OVER (PARTITION BY symbol ORDER BY bar_ts) AS x
        FROM rets
        ) WHERE x IS NOT NULL
    ),
    m AS (
        SELECT symbol, lag,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("x", 12, 8)} AS sx,
               {sql_split_term_sum("y", 12, 8)} AS sy,
               {sql_split_term_sum("x * y", 12, 8)} AS sxy,
               {sql_split_term_sum("x * x", 12, 8)} AS sxx,
               {sql_split_term_sum("y * y", 12, 8)} AS syy
        FROM pairs GROUP BY symbol, lag
    )
    SELECT symbol, CAST(lag AS BIGINT) AS lag, n,
           CAST(CASE WHEN (n * sxx - sx * sx) <= 0
                       OR (n * syy - sy * sy) <= 0 THEN NULL
                ELSE (CAST(floor(CAST(((n * sxy - sx * sy)
                           / (sqrt(n * sxx - sx * sx)
                              * sqrt(n * syy - sy * sy))) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) END
                AS DOUBLE) AS acf
    FROM m ORDER BY symbol, lag
    """,
)
def q_acf_correlogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF correlogram at lags 1-5 per symbol — the autocorrelation
    table every time-series model identification starts with
    (generalizing q_autocorr's single lag): per lag, Pearson over
    (r_t, r_t-k) via the repo's decimal moment formula with the
    identical double tree; degenerate variance NULL. All five lags come
    from ONE window pass (five lag() functions over the same spec — a
    single partition sort), stacked map-side by an inline explode of
    (lag, x) structs, then one (symbol, lag) hash-agg: 2 shuffles total
    where a union-of-5-branches plan pays ~11 and rescans the bars 5x.
    Scale: explode fan-out is a fixed 5x row multiplier BEFORE the
    partial agg, so the shuffle carries only (symbol, lag) partials."""
    rets = bar_returns(
        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    )
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    lagged = rets.select(
        "symbol",
        F.col("r").alias("y"),
        *[F.lag("r", k).over(w).alias(f"__x{k}") for k in range(1, 6)],
    )
    pairs = (
        lagged.select(
            "symbol",
            "y",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("lag"), F.col(f"__x{k}").alias("x")
                        )
                        for k in range(1, 6)
                    ]
                )
            ).alias("__lx"),
        )
        .select(
            "symbol",
            F.col("__lx.lag").alias("lag"),
            F.col("__lx.x").alias("x"),
            "y",
        )
        .filter(F.col("x").isNotNull())
    )
    m = pairs.groupBy("symbol", "lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        split_term_sum(F.col("x"), 12, 8).alias("sx"),
        split_term_sum(F.col("y"), 12, 8).alias("sy"),
        split_term_sum(F.col("x") * F.col("y"), 12, 8).alias("sxy"),
        split_term_sum(F.col("x") * F.col("x"), 12, 8).alias("sxx"),
        split_term_sum(F.col("y") * F.col("y"), 12, 8).alias("syy"),
    )
    cxx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    cyy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cxy = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return m.select(
        "symbol",
        F.col("lag").cast("bigint").alias("lag"),
        "n",
        F.when((cxx <= 0) | (cyy <= 0), F.lit(None).cast("double"))
        .otherwise(portable_round(cxy / (F.sqrt(cxx) * F.sqrt(cyy)), 6))
        .cast("double")
        .alias("acf"),
    ).orderBy("symbol", "lag")


@query(
    "q_pacf",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS ({sql_bar_returns("cbars")}),
    p1 AS (
        SELECT symbol, r AS y,
               lag(r, 1) OVER (PARTITION BY symbol ORDER BY bar_ts) AS x
        FROM rets QUALIFY x IS NOT NULL
    ),
    p2 AS (
        SELECT symbol, r AS y,
               lag(r, 2) OVER (PARTITION BY symbol ORDER BY bar_ts) AS x
        FROM rets QUALIFY x IS NOT NULL
    ),
    rho AS (
        SELECT m1.symbol, m1.rho AS rho1, m2.rho AS rho2, m1.n
        FROM (
            SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
                   (CAST(floor(CAST(((COUNT(*) * {sql_split_term_sum("x * y", 12, 8)}
                          - {sql_split_term_sum("x", 12, 8)}
                            * {sql_split_term_sum("y", 12, 8)})
                         / (sqrt(COUNT(*) * {sql_split_term_sum("x * x", 12, 8)}
                                 - pow({sql_split_term_sum("x", 12, 8)}, 2))
                            * sqrt(COUNT(*) * {sql_split_term_sum("y * y", 12, 8)}
                                   - pow({sql_split_term_sum("y", 12, 8)}, 2)))) AS DOUBLE) * 10000000000.0 + 0.5) AS DOUBLE) / 10000000000.0) AS rho
            FROM p1 GROUP BY symbol) m1
        JOIN (
            SELECT symbol,
                   (CAST(floor(CAST(((COUNT(*) * {sql_split_term_sum("x * y", 12, 8)}
                          - {sql_split_term_sum("x", 12, 8)}
                            * {sql_split_term_sum("y", 12, 8)})
                         / (sqrt(COUNT(*) * {sql_split_term_sum("x * x", 12, 8)}
                                 - pow({sql_split_term_sum("x", 12, 8)}, 2))
                            * sqrt(COUNT(*) * {sql_split_term_sum("y * y", 12, 8)}
                                   - pow({sql_split_term_sum("y", 12, 8)}, 2)))) AS DOUBLE) * 10000000000.0 + 0.5) AS DOUBLE) / 10000000000.0) AS rho
            FROM p2 GROUP BY symbol) m2
          ON m2.symbol = m1.symbol
    )
    SELECT symbol, n,
           CAST((CAST(floor(CAST((rho1) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS pacf1,
           CAST(CASE WHEN abs(1.0 - rho1 * rho1) < 1e-12 THEN NULL
                ELSE (CAST(floor(CAST(((rho2 - rho1 * rho1)
                           / (1.0 - rho1 * rho1)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) END AS DOUBLE)
               AS pacf2
    FROM rho ORDER BY symbol
    """,
)
def q_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation at lags 1–2 per symbol via
    Durbin–Levinson (φ₁₁ = ρ₁, φ₂₂ = (ρ₂−ρ₁²)/(1−ρ₁²)) — the PACF
    column of the Box–Jenkins identification table beside
    q_acf_correlogram (AR order cuts off in PACF, MA order in ACF).
    Both ρ values come from the repo's decimal moment formula, round
    to 10dp BEFORE the Durbin–Levinson arithmetic so the φ₂₂ quotient
    sees identical inputs; a near-unit ρ₁ yields NULL. Two lag
    windows + two hash-aggs keyed by symbol."""
    rets = bar_returns(
        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    )
    w = Window.partitionBy("symbol").orderBy("bar_ts")

    def rho_at(k):
        pairs = rets.select(
            "symbol",
            F.col("r").alias("y"),
            F.lag("r", k).over(w).alias("x"),
        ).filter(F.col("x").isNotNull())
        m = pairs.groupBy("symbol").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            split_term_sum(F.col("x"), 12, 8).alias("sx"),
            split_term_sum(F.col("y"), 12, 8).alias("sy"),
            split_term_sum(F.col("x") * F.col("y"), 12, 8).alias("sxy"),
            split_term_sum(F.col("x") * F.col("x"), 12, 8).alias("sxx"),
            split_term_sum(F.col("y") * F.col("y"), 12, 8).alias("syy"),
        )
        num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
        den = F.sqrt(
            F.col("n") * F.col("sxx") - F.pow(F.col("sx"), 2)
        ) * F.sqrt(F.col("n") * F.col("syy") - F.pow(F.col("sy"), 2))
        return m.select(
            "symbol", "n", portable_round(num / den, 10).alias(f"rho{k}")
        )

    r1 = rho_at(1)
    r2 = rho_at(2).drop("n")
    j = r1.join(r2, "symbol")
    phi22 = (F.col("rho2") - F.col("rho1") * F.col("rho1")) / (
        F.lit(1.0) - F.col("rho1") * F.col("rho1")
    )
    return j.select(
        "symbol",
        "n",
        portable_round("rho1", 6).cast("double").alias("pacf1"),
        F.when(
            F.abs(F.lit(1.0) - F.col("rho1") * F.col("rho1")) < 1e-12,
            F.lit(None).cast("double"),
        )
        .otherwise(portable_round(phi22, 6))
        .cast("double")
        .alias("pacf2"),
    ).orderBy("symbol")
