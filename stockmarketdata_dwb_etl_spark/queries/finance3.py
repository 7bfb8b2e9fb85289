"""Portfolio-risk battery: ulcer index, information ratio, up/down
capture, Kendall rank correlation, and the Hurst exponent.

These extend the indicator surface (finance.py / finance2.py) with the
portfolio-level risk diagnostics a market-data warehouse serves after
load (the reference's BigQuery sink exists for exactly this analysis
tier — /root/reference/dump_bigq.py:135-149): path-dependent drawdown
risk (ulcer/Martin), benchmark-relative skill (IR, capture ratios),
robust cross-asset dependence (Kendall tau-b), and long-memory
diagnostics (rescaled-range Hurst).

Determinism policy (same as finance2.py): bar/return bases reuse the
padded (ts,event_id) ordering key; every cross-row accumulation runs in
exact DECIMAL; double math uses the identical expression tree on both
engines; all reported doubles go through the portable floor-form round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.bars import (
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
    sql_split_term_sum,
    term_sum,
)
from stockmarketdata_dwb_etl_spark.registry import query

# Cross-row double sums route through the two-bucket split sum
# (stats_q, 2^53 rule in tests/test_split_sum.py): hourly simple
# returns spike to |r| ~1.5e3, active returns to ~3e3, and percentage
# drawdowns to 100, so raw DECIMAL(38,18) casts breached the 2^53
# round-trip bound; every unrounded sum here uses (12,8) and
# pre-rounded summands cast at their own exact scale.


# shared fragment for q_ulcer_index: the squared-drawdown split sum
DD_SUM = sql_split_term_sum("dd_pct * dd_pct", 12, 8)


@query(
    "q_ulcer_index",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", "close")}),
    dd AS (
        SELECT symbol, bar_ts, close,
               (close / max(close) OVER (PARTITION BY symbol ORDER BY bar_ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - 1.0) * 100.0 AS dd_pct
        FROM bars
    )
    SELECT symbol,
           CAST(COUNT(*) AS BIGINT) AS n_bars,
           CAST((CAST(floor(CAST((min(dd_pct)) AS DOUBLE) * 1000000.0 + 0.5)
                 AS DOUBLE) / 1000000.0) AS DOUBLE) AS max_dd_pct,
           CAST((CAST(floor(CAST((sqrt(
                    ({DD_SUM})
                    / COUNT(*))) AS DOUBLE) * 1000000.0 + 0.5)
                 AS DOUBLE) / 1000000.0) AS DOUBLE) AS ulcer,
           CAST(CASE WHEN sqrt(
                    ({DD_SUM})
                    / COUNT(*)) = 0 THEN NULL
                ELSE (CAST(floor(CAST((
                    (arg_max(close, bar_ts) / arg_min(close, bar_ts) - 1.0)
                    * 100.0
                    / sqrt(({DD_SUM}) / COUNT(*))) AS DOUBLE)
                    * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) END AS DOUBLE)
               AS martin_ratio
    FROM dd GROUP BY symbol ORDER BY symbol
    """,
)
def q_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ulcer index per symbol — RMS of percentage drawdowns from the
    running peak (Peter Martin's path-aware risk measure; unlike σ it
    punishes only downside and remembers how LONG the price stayed
    underwater) — plus the Martin ratio (period return / ulcer).
    Complements q_drawdown (depth of the single worst trough) and
    q_drawdown_duration (length of underwater spells) with the
    root-mean-square form. dd² accumulates in exact DECIMAL; the
    sqrt/divide chain is the identical double tree on both engines.
    Scale: one window pass for the running max (shuffles once on
    symbol), then one partial+final hash-agg — no self-join, state
    O(1) per row."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    w = (
        Window.partitionBy("symbol")
        .orderBy("bar_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = bars.select(
        "symbol",
        "bar_ts",
        "close",
        ((F.col("close") / F.max("close").over(w) - F.lit(1.0)) * 100.0).alias(
            "dd_pct"
        ),
    )
    g = dd.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bars"),
        F.min("dd_pct").alias("__mindd"),
        split_term_sum(F.col("dd_pct") * F.col("dd_pct"), 12, 8).alias("__ssdd"),
        F.max_by("close", F.col("bar_ts")).alias("__last"),
        F.min_by("close", F.col("bar_ts")).alias("__first"),
    )
    ulcer = F.sqrt(F.col("__ssdd") / F.col("n_bars"))
    ret_pct = (F.col("__last") / F.col("__first") - F.lit(1.0)) * 100.0
    return g.select(
        "symbol",
        "n_bars",
        portable_round(F.col("__mindd"), 6).cast("double").alias("max_dd_pct"),
        portable_round(ulcer, 6).cast("double").alias("ulcer"),
        F.when(ulcer == 0, F.lit(None).cast("double"))
        .otherwise(portable_round(ret_pct / ulcer, 6))
        .cast("double")
        .alias("martin_ratio"),
    ).orderBy("symbol")


@query(
    "q_information_ratio",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS ({sql_bar_returns("cbars")}),
    mkt AS ({sql_market_return("rets")}),
    act AS (
        SELECT s.symbol, s.r - m.rm AS ra
        FROM rets s JOIN mkt m ON s.bar_ts = m.bar_ts
    ),
    moments AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("ra", 12, 8)} AS s,
               {sql_split_term_sum("ra * ra", 12, 8)} AS ss
        FROM act GROUP BY symbol
    )
    SELECT symbol, n,
           CAST((CAST(floor(CAST((s / n) AS DOUBLE) * 100000000.0 + 0.5)
                 AS DOUBLE) / 100000000.0) AS DOUBLE) AS mean_active,
           CAST((CAST(floor(CAST((sqrt(greatest(ss / n - (s / n) * (s / n), 0.0)))
                 AS DOUBLE) * 100000000.0 + 0.5) AS DOUBLE) / 100000000.0)
               AS DOUBLE) AS tracking_error,
           CAST(CASE WHEN ss / n - (s / n) * (s / n) <= 0 THEN NULL
                ELSE (CAST(floor(CAST(((s / n)
                        / sqrt(greatest(ss / n - (s / n) * (s / n), 0.0))
                        * sqrt(8760.0)) AS DOUBLE) * 1000000.0 + 0.5)
                      AS DOUBLE) / 1000000.0) END AS DOUBLE) AS ir_ann
    FROM moments ORDER BY symbol
    """,
)
def q_information_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized information ratio per symbol against the equal-weight
    market benchmark: active return rₐ = r − r_m, IR = mean(rₐ)/σ(rₐ)
    ·√8760 — the benchmark-relative twin of q_sharpe (absolute) and
    q_beta_capm (systematic loading). Moment sums in exact DECIMAL;
    mean/variance/sqrt chain identical on both engines; σ_pop clamped
    at 0 via greatest(). Scale: the market table is calendar-bounded
    (one row per bar) so the returns⨝market join broadcasts; moments
    are one partial+final hash-agg per symbol."""
    rets = bar_returns(
        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    )
    act = rets.join(F.broadcast(market_return(rets)), "bar_ts").select(
        "symbol", (F.col("r") - F.col("rm")).alias("ra")
    )
    m = act.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        split_term_sum(F.col("ra"), 12, 8).alias("s"),
        split_term_sum(F.col("ra") * F.col("ra"), 12, 8).alias("ss"),
    )
    mean = F.col("s") / F.col("n")
    var = F.col("ss") / F.col("n") - mean * mean
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    return m.select(
        "symbol",
        "n",
        portable_round(mean, 8).cast("double").alias("mean_active"),
        portable_round(sd, 8).cast("double").alias("tracking_error"),
        F.when(var <= 0, F.lit(None).cast("double"))
        .otherwise(portable_round(mean / sd * F.sqrt(F.lit(8760.0)), 6))
        .cast("double")
        .alias("ir_ann"),
    ).orderBy("symbol")


@query(
    "q_updown_capture",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS ({sql_bar_returns("cbars")}),
    mkt AS ({sql_market_return("rets")}),
    j AS (
        SELECT s.symbol, s.r, m.rm
        FROM rets s JOIN mkt m ON s.bar_ts = m.bar_ts
    ),
    agg AS (
        SELECT symbol,
               CAST(SUM(CASE WHEN rm > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
               CAST(SUM(CASE WHEN rm < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
               {sql_split_term_sum("CASE WHEN rm > 0 THEN r END", 12, 8)} AS sr_up,
               {sql_split_term_sum("CASE WHEN rm > 0 THEN rm END", 12, 8)} AS sm_up,
               {sql_split_term_sum("CASE WHEN rm < 0 THEN r END", 12, 8)} AS sr_dn,
               {sql_split_term_sum("CASE WHEN rm < 0 THEN rm END", 12, 8)} AS sm_dn
        FROM j GROUP BY symbol
    )
    SELECT symbol, n_up, n_down,
           CAST(CASE WHEN n_up = 0 OR sm_up = 0 THEN NULL
                ELSE (CAST(floor(CAST(((sr_up / n_up) / (sm_up / n_up))
                      AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                END AS DOUBLE) AS up_capture,
           CAST(CASE WHEN n_down = 0 OR sm_dn = 0 THEN NULL
                ELSE (CAST(floor(CAST(((sr_dn / n_down) / (sm_dn / n_down))
                      AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                END AS DOUBLE) AS down_capture
    FROM agg ORDER BY symbol
    """,
)
def q_updown_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Up/down capture ratios per symbol vs the equal-weight market:
    mean(r | r_m>0)/mean(r_m | r_m>0) and the r_m<0 twin — the
    asymmetric-participation diagnostic (a defensive asset shows
    down-capture < up-capture) that IR and beta average away.
    Conditional sums accumulate in exact DECIMAL via CASE-gated
    aggregation (one pass, no per-regime re-scan); quotient chain
    identical both engines; empty regimes yield NULL. Scale: broadcast
    market join + one hash-agg per symbol."""
    rets = bar_returns(
        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    )
    j = rets.join(F.broadcast(market_return(rets)), "bar_ts")
    up, dn = F.col("rm") > 0, F.col("rm") < 0
    agg = j.groupBy("symbol").agg(
        F.sum(F.when(up, 1).otherwise(0)).cast("bigint").alias("n_up"),
        F.sum(F.when(dn, 1).otherwise(0)).cast("bigint").alias("n_down"),
        split_term_sum(F.when(up, F.col("r")), 12, 8).alias("sr_up"),
        split_term_sum(F.when(up, F.col("rm")), 12, 8).alias("sm_up"),
        split_term_sum(F.when(dn, F.col("r")), 12, 8).alias("sr_dn"),
        split_term_sum(F.when(dn, F.col("rm")), 12, 8).alias("sm_dn"),
    )
    upcap = (F.col("sr_up") / F.col("n_up")) / (F.col("sm_up") / F.col("n_up"))
    dncap = (F.col("sr_dn") / F.col("n_down")) / (
        F.col("sm_dn") / F.col("n_down")
    )
    return agg.select(
        "symbol",
        "n_up",
        "n_down",
        F.when((F.col("n_up") == 0) | (F.col("sm_up") == 0), F.lit(None))
        .otherwise(portable_round(upcap, 6))
        .cast("double")
        .alias("up_capture"),
        F.when((F.col("n_down") == 0) | (F.col("sm_dn") == 0), F.lit(None))
        .otherwise(portable_round(dncap, 6))
        .cast("double")
        .alias("down_capture"),
    ).orderBy("symbol")


@query(
    "q_kendall_tau",
    oracle=f"""
    WITH dbars AS ({sql_ohlcv_bars("day", "close")}),
    drets AS ({sql_bar_returns("dbars")}),
    pairs AS (
        SELECT a.symbol AS symbol_a, b.symbol AS symbol_b,
               a.bar_ts, a.r AS ra, b.r AS rb
        FROM drets a JOIN drets b USING (bar_ts)
        WHERE a.symbol < b.symbol
    ),
    cnt AS (
        SELECT x.symbol_a, x.symbol_b,
               CAST(COUNT(*) AS BIGINT) / 2 AS n_pairs,
               CAST(SUM(CASE WHEN (x.ra - y.ra) * (x.rb - y.rb) > 0
                    THEN 1 ELSE 0 END) AS BIGINT) / 2 AS c,
               CAST(SUM(CASE WHEN (x.ra - y.ra) * (x.rb - y.rb) < 0
                    THEN 1 ELSE 0 END) AS BIGINT) / 2 AS d,
               CAST(SUM(CASE WHEN x.ra = y.ra AND x.rb <> y.rb
                    THEN 1 ELSE 0 END) AS BIGINT) / 2 AS tx,
               CAST(SUM(CASE WHEN x.rb = y.rb AND x.ra <> y.ra
                    THEN 1 ELSE 0 END) AS BIGINT) / 2 AS ty
        FROM pairs x JOIN pairs y
          ON x.symbol_a = y.symbol_a AND x.symbol_b = y.symbol_b
         AND x.bar_ts <> y.bar_ts
        GROUP BY x.symbol_a, x.symbol_b
    ),
    days AS (
        SELECT symbol_a, symbol_b, CAST(COUNT(*) AS BIGINT) AS n_days
        FROM pairs GROUP BY symbol_a, symbol_b
    )
    SELECT c.symbol_a, c.symbol_b, days.n_days,
           CAST(CASE WHEN (c.c + c.d + c.tx) = 0 OR (c.c + c.d + c.ty) = 0
                THEN NULL
                ELSE (CAST(floor(CAST(((c.c - c.d) * 1.0
                        / sqrt((c.c + c.d + c.tx) * 1.0)
                        / sqrt((c.c + c.d + c.ty) * 1.0)) AS DOUBLE)
                      * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                END AS DOUBLE) AS tau_b
    FROM cnt c JOIN days USING (symbol_a, symbol_b)
    ORDER BY symbol_a, symbol_b
    """,
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between every symbol pair's DAILY
    returns — the robust dependence measure quant desks prefer over
    Pearson (q_corr_pairs) and Spearman (q_rank_ic) when outliers and
    ties distort moment-based correlation: exact concordant/discordant
    pair counting with the tie-adjusted tau-b denominator. All counting
    is integer (exact on both engines); only the final normalization is
    double. Scale: the day-pair self-join is CALENDAR-bounded — n_days²
    per symbol pair regardless of corpus size (pick the correlation
    window to bound it; a year of dailies is 66k day-pairs), and it
    shuffles on the (symbol_a, symbol_b) pair key so each pair's
    quadratic work parallelizes across executors."""
    ev = load_table(spark, sf_dir, "events")
    dbars = ohlcv_bars(ev, "day", "close")
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    drets = bar_returns(dbars)
    a, b = drets.alias("a"), drets.alias("b")
    pairs = (
        a.join(b, "bar_ts")
        .filter(F.col("a.symbol") < F.col("b.symbol"))
        .select(
            F.col("a.symbol").alias("symbol_a"),
            F.col("b.symbol").alias("symbol_b"),
            "bar_ts",
            F.col("a.r").alias("ra"),
            F.col("b.r").alias("rb"),
        )
    )
    x, y = pairs.alias("x"), pairs.alias("y")
    prod = (F.col("x.ra") - F.col("y.ra")) * (F.col("x.rb") - F.col("y.rb"))
    cnt = (
        x.join(
            y,
            (F.col("x.symbol_a") == F.col("y.symbol_a"))
            & (F.col("x.symbol_b") == F.col("y.symbol_b"))
            & (F.col("x.bar_ts") != F.col("y.bar_ts")),
        )
        .groupBy(F.col("x.symbol_a").alias("symbol_a"), F.col("x.symbol_b").alias("symbol_b"))
        .agg(
            (F.count(F.lit(1)).cast("bigint") / 2).alias("n_pairs"),
            (F.sum(F.when(prod > 0, 1).otherwise(0)).cast("bigint") / 2).alias("c"),
            (F.sum(F.when(prod < 0, 1).otherwise(0)).cast("bigint") / 2).alias("d"),
            (
                F.sum(
                    F.when(
                        (F.col("x.ra") == F.col("y.ra"))
                        & (F.col("x.rb") != F.col("y.rb")),
                        1,
                    ).otherwise(0)
                ).cast("bigint")
                / 2
            ).alias("tx"),
            (
                F.sum(
                    F.when(
                        (F.col("x.rb") == F.col("y.rb"))
                        & (F.col("x.ra") != F.col("y.ra")),
                        1,
                    ).otherwise(0)
                ).cast("bigint")
                / 2
            ).alias("ty"),
        )
    )
    days = pairs.groupBy("symbol_a", "symbol_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days")
    )
    denom_x = F.col("c") + F.col("d") + F.col("tx")
    denom_y = F.col("c") + F.col("d") + F.col("ty")
    tau = (
        (F.col("c") - F.col("d"))
        * F.lit(1.0)
        / F.sqrt(denom_x * F.lit(1.0))
        / F.sqrt(denom_y * F.lit(1.0))
    )
    return (
        cnt.join(days, ["symbol_a", "symbol_b"])
        .select(
            "symbol_a",
            "symbol_b",
            "n_days",
            F.when((denom_x == 0) | (denom_y == 0), F.lit(None))
            .otherwise(portable_round(tau, 6))
            .cast("double")
            .alias("tau_b"),
        )
        .orderBy("symbol_a", "symbol_b")
    )


@query(
    "q_hurst_exponent",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS ({sql_bar_returns("cbars")}),
    seq AS (
        SELECT symbol, bar_ts, r,
               row_number() OVER (PARTITION BY symbol ORDER BY bar_ts) AS rn
        FROM rets
    ),
    blocks AS (
        SELECT s.symbol, s.r, sc.scale,
               CAST(floor((s.rn - 1) * 1.0 / sc.scale) AS BIGINT) AS blk,
               row_number() OVER (PARTITION BY s.symbol, sc.scale,
                   CAST(floor((s.rn - 1) * 1.0 / sc.scale) AS BIGINT)
                   ORDER BY s.rn) AS j,
               {sql_split_term_sum("s.r", 12, 8, '''OVER (
                   PARTITION BY s.symbol, sc.scale,
                   CAST(floor((s.rn - 1) * 1.0 / sc.scale) AS BIGINT)
                   ORDER BY s.rn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)''')} AS cum
        FROM seq s CROSS JOIN (
            SELECT unnest([16, 32, 64]) AS scale) sc
    ),
    bstats AS (
        SELECT symbol, scale, blk,
               CAST(COUNT(*) AS BIGINT) AS nb,
               {sql_split_term_sum("r", 12, 8)} AS s,
               {sql_split_term_sum("r * r", 12, 8)} AS ss
        FROM blocks GROUP BY 1, 2, 3
    ),
    dev AS (
        SELECT b.symbol, b.scale, b.blk,
               b.cum - b.j * (t.s / t.scale) AS cumdev,
               t.s, t.ss
        FROM blocks b JOIN bstats t
          ON b.symbol = t.symbol AND b.scale = t.scale AND b.blk = t.blk
         AND t.nb = t.scale
    ),
    rs AS (
        SELECT symbol, scale, blk,
               max(cumdev) - min(cumdev) AS rng,
               sqrt(greatest(any_value(ss) / scale
                    - (any_value(s) / scale) * (any_value(s) / scale),
                    0.0)) AS sd
        FROM dev GROUP BY symbol, scale, blk
    ),
    mean_rs AS (
        SELECT symbol, scale,
               CAST(COUNT(*) AS BIGINT) AS n_blocks,
               {sql_split_term_sum("rng / sd", 12, 8)}
                   / COUNT(*) AS avg_rs
        FROM rs WHERE sd > 0 GROUP BY symbol, scale
    ),
    pts AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS k,
               {sql_split_term_sum("ln(scale * 1.0)", 12, 8)} AS sx,
               {sql_split_term_sum("ln(avg_rs)", 12, 8)} AS sy,
               {sql_split_term_sum("ln(scale * 1.0) * ln(avg_rs)", 12, 8)} AS sxy,
               {sql_split_term_sum("ln(scale * 1.0) * ln(scale * 1.0)", 12, 8)} AS sxx
        FROM mean_rs GROUP BY symbol
    )
    SELECT symbol, k AS n_scales,
           CAST((CAST(floor(CAST(((k * sxy - sx * sy) / (k * sxx - sx * sx))
                 AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE)
               AS hurst
    FROM pts WHERE k >= 2 ORDER BY symbol
    """,
)
def q_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent per symbol via rescaled-range (R/S) analysis —
    the long-memory diagnostic (H≈0.5 random walk, >0.5 trending,
    <0.5 mean-reverting) estimated the classical way: split the hourly
    return series into full blocks at scales {16,32,64}, per block take
    R = range of the cumulative demeaned sum and S = population σ,
    average R/S per scale, then fit ln(R/S) against ln(scale) by OLS —
    the slope is H. Running block sums accumulate in exact DECIMAL (the
    running-sum frame is otherwise association-order-dependent across
    engines); every moment sum is DECIMAL; the divide/ln/sqrt chain is
    the identical double tree. Scale: the block id is derived from a
    per-symbol row_number (one window shuffle); everything after is
    hash-aggs keyed by (symbol, scale, block) — no self-joins, state
    bounded by block size 64."""
    rets = bar_returns(
        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    )
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    seq = rets.select("symbol", "bar_ts", "r", F.row_number().over(w).alias("rn"))
    scales = F.explode(F.array(F.lit(16), F.lit(32), F.lit(64))).alias("scale")
    blk = F.floor((F.col("rn") - 1) * F.lit(1.0) / F.col("scale")).cast("bigint")
    wb = Window.partitionBy("symbol", "scale", "blk").orderBy("rn")
    blocks = (
        seq.select("symbol", "r", "rn", scales)
        .withColumn("blk", blk)
        .select(
            "symbol",
            "r",
            "scale",
            "blk",
            F.row_number().over(wb).alias("j"),
            split_term_sum(
                F.col("r"),
                12,
                8,
                wb.rowsBetween(Window.unboundedPreceding, Window.currentRow),
            ).alias("cum"),
        )
    )
    bstats = blocks.groupBy("symbol", "scale", "blk").agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        split_term_sum(F.col("r"), 12, 8).alias("s"),
        split_term_sum(F.col("r") * F.col("r"), 12, 8).alias("ss"),
    )
    dev = blocks.join(
        bstats.filter(F.col("nb") == F.col("scale")),
        ["symbol", "scale", "blk"],
    ).select(
        "symbol",
        "scale",
        "blk",
        (F.col("cum") - F.col("j") * (F.col("s") / F.col("scale"))).alias(
            "cumdev"
        ),
        "s",
        "ss",
    )
    rs = dev.groupBy("symbol", "scale", "blk").agg(
        (F.max("cumdev") - F.min("cumdev")).alias("rng"),
        F.sqrt(
            F.greatest(
                F.any_value("ss") / F.col("scale")
                - (F.any_value("s") / F.col("scale"))
                * (F.any_value("s") / F.col("scale")),
                F.lit(0.0),
            )
        ).alias("sd"),
    )
    mean_rs = (
        rs.filter(F.col("sd") > 0)
        .groupBy("symbol", "scale")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            (
                split_term_sum(F.col("rng") / F.col("sd"), 12, 8)
                / F.count(F.lit(1))
            ).alias("avg_rs"),
        )
    )
    lx = F.log(F.col("scale") * F.lit(1.0))
    ly = F.log(F.col("avg_rs"))
    pts = mean_rs.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        split_term_sum(lx, 12, 8).alias("sx"),
        split_term_sum(ly, 12, 8).alias("sy"),
        split_term_sum(lx * ly, 12, 8).alias("sxy"),
        split_term_sum(lx * lx, 12, 8).alias("sxx"),
    )
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return (
        pts.filter(F.col("k") >= 2)
        .select(
            "symbol",
            F.col("k").alias("n_scales"),
            portable_round(slope, 4).cast("double").alias("hurst"),
        )
        .orderBy("symbol")
    )


# Over a daily close-bar relation ``dbars``.
_DUCK_DAILY_PAIRS = f"""
    drets AS ({sql_bar_returns("dbars")}),
    pairs AS (
        SELECT a.symbol AS symbol_a, b.symbol AS symbol_b,
               a.bar_ts, a.r AS ra, b.r AS rb
        FROM drets a JOIN drets b USING (bar_ts)
        WHERE a.symbol < b.symbol
    )
"""


@query(
    "q_spearman_corr",
    oracle=f"""
    WITH dbars AS ({sql_ohlcv_bars("day", "close")}),
    {_DUCK_DAILY_PAIRS},
    ranked AS (
        SELECT symbol_a, symbol_b,
               2 * rank() OVER (PARTITION BY symbol_a, symbol_b ORDER BY ra)
                 + COUNT(*) OVER (PARTITION BY symbol_a, symbol_b, ra) - 1
                 AS x,
               2 * rank() OVER (PARTITION BY symbol_a, symbol_b ORDER BY rb)
                 + COUNT(*) OVER (PARTITION BY symbol_a, symbol_b, rb) - 1
                 AS y
        FROM pairs
    ),
    mom AS (
        SELECT symbol_a, symbol_b,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM ranked GROUP BY symbol_a, symbol_b
    )
    SELECT symbol_a, symbol_b, n_days,
           CAST(CASE WHEN n_days * sxx - sx * sx = 0
                       OR n_days * syy - sy * sy = 0 THEN NULL
                ELSE (CAST(floor(CAST((
                        (CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                        / sqrt(CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        / sqrt(CAST(n_days AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                      ) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                END AS DOUBLE) AS rho
    FROM mom ORDER BY symbol_a, symbol_b
    """,
)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation per symbol pair on daily returns — the
    midrank (tie-aware) monotone-dependence measure completing the
    correlation triptych (Pearson q_corr_pairs, Kendall q_kendall_tau):
    2·midrank = 2·rank() + tie_count − 1 keeps every rank INTEGER, so
    all five moment sums are exact integers on both engines and only the
    final normalization is double (identical scalar tree, floor-rounded).
    Scale: ranks come from per-pair window sorts — one shuffle keyed on
    the (symbol_a, symbol_b) pair, calendar-bounded rows per pair; no
    quadratic pass (unlike tau's day-pair join), so Spearman is the one
    of the three that stays cheap at long horizons."""
    ev = load_table(spark, sf_dir, "events")
    dbars = ohlcv_bars(ev, "day", "close")
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    drets = bar_returns(dbars)
    a, b = drets.alias("a"), drets.alias("b")
    pairs = (
        a.join(b, "bar_ts")
        .filter(F.col("a.symbol") < F.col("b.symbol"))
        .select(
            F.col("a.symbol").alias("symbol_a"),
            F.col("b.symbol").alias("symbol_b"),
            F.col("a.r").alias("ra"),
            F.col("b.r").alias("rb"),
        )
    )
    pw = Window.partitionBy("symbol_a", "symbol_b")
    x = (
        F.lit(2) * F.rank().over(pw.orderBy("ra"))
        + F.count(F.lit(1)).over(
            Window.partitionBy("symbol_a", "symbol_b", "ra")
        )
        - F.lit(1)
    ).cast("bigint")
    y = (
        F.lit(2) * F.rank().over(pw.orderBy("rb"))
        + F.count(F.lit(1)).over(
            Window.partitionBy("symbol_a", "symbol_b", "rb")
        )
        - F.lit(1)
    ).cast("bigint")
    ranked = pairs.select("symbol_a", "symbol_b", x.alias("x"), y.alias("y"))
    mom = ranked.groupBy("symbol_a", "symbol_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    n, sx, sy = F.col("n_days"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    rho = (
        (n.cast("double") * sxy.cast("double")
         - sx.cast("double") * sy.cast("double"))
        / F.sqrt(n.cast("double") * sxx.cast("double")
                 - sx.cast("double") * sx.cast("double"))
        / F.sqrt(n.cast("double") * syy.cast("double")
                 - sy.cast("double") * sy.cast("double"))
    )
    return mom.select(
        "symbol_a",
        "symbol_b",
        "n_days",
        F.when(
            (n * sxx - sx * sx == 0) | (n * syy - sy * sy == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(portable_round(rho, 6))
        .cast("double")
        .alias("rho"),
    ).orderBy("symbol_a", "symbol_b")


@query(
    "q_theil_sen",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", "close")}),
    idx AS (
        SELECT symbol, close,
               row_number() OVER (PARTITION BY symbol
                                  ORDER BY bar_ts DESC) AS rn
        FROM bars
        QUALIFY rn <= 64
    ),
    slopes AS (
        SELECT a.symbol,
               (b.close - a.close) / CAST(a.rn - b.rn AS DOUBLE) AS slope
        FROM idx a JOIN idx b
          ON a.symbol = b.symbol AND a.rn > b.rn
    ),
    med AS (
        SELECT symbol, CAST(len(arr) AS BIGINT) AS n_slopes,
               CASE WHEN len(arr) % 2 = 1 THEN arr[(len(arr) + 1) // 2]
                    ELSE (arr[len(arr) // 2] + arr[len(arr) // 2 + 1]) / 2.0
               END AS m
        FROM (SELECT symbol, list(slope ORDER BY slope) AS arr
              FROM slopes GROUP BY symbol)
    ),
    nb AS (
        SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_bars FROM idx GROUP BY symbol
    )
    SELECT nb.symbol, nb.n_bars, COALESCE(med.n_slopes, 0) AS n_slopes,
           CAST((CAST(floor(CAST((med.m) AS DOUBLE) * 100000000.0 + 0.5)
                 AS DOUBLE) / 100000000.0) AS DOUBLE) AS ts_slope
    FROM nb LEFT JOIN med USING (symbol)
    ORDER BY symbol
    """,
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend: median of all pairwise slopes over each
    symbol's last 64 hourly closes — the breakdown-resistant slope
    estimator that q_regression's OLS is not (one bad tick moves OLS,
    not the pairwise median). Slopes are identical (close, index)
    division trees on both engines; the median is the EXACT sorted-array
    middle (even count → two-element mean), floor-rounded. Scale: the
    quadratic pair set is WINDOW-bounded (64 bars → 2016 slopes per
    symbol, constant per key regardless of corpus size) and generated
    MAP-SIDE from one collected array per symbol — one shuffle keyed on
    symbol, no self-join, mirroring the basket-pair pattern
    (q_pair_affinity)."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    w = Window.partitionBy("symbol").orderBy(F.col("bar_ts").desc())
    idx = bars.select(
        "symbol", "close", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 64)
    arr = idx.groupBy("symbol").agg(
        F.sort_array(F.collect_list(F.struct("rn", "close"))).alias("arr")
    )
    slopes = F.expr(
        """
        array_sort(flatten(transform(
            sequence(1, size(arr) - 1),
            p -> transform(
                sequence(p + 1, size(arr)),
                q -> (element_at(arr, p).close - element_at(arr, q).close)
                     / cast(element_at(arr, q).rn - element_at(arr, p).rn
                            as double)
            )
        )))
        """
    )
    med = F.expr(
        """
        CASE WHEN size(slopes) = 0 THEN CAST(NULL AS DOUBLE)
             WHEN size(slopes) % 2 = 1
                THEN element_at(slopes, CAST((size(slopes) + 1) div 2 AS INT))
             ELSE (element_at(slopes, CAST(size(slopes) div 2 AS INT))
                   + element_at(slopes,
                                CAST(size(slopes) div 2 + 1 AS INT))) / 2.0
        END
        """
    )
    return (
        arr.select(
            "symbol",
            F.size("arr").cast("bigint").alias("n_bars"),
            slopes.alias("slopes"),
        )
        .select(
            "symbol",
            "n_bars",
            F.size("slopes").cast("bigint").alias("n_slopes"),
            portable_round(med, 8).cast("double").alias("ts_slope"),
        )
        .orderBy("symbol")
    )


@query(
    "q_permutation_entropy",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", "close")}),
    tri AS (
        SELECT symbol,
               lag(close, 2) OVER w AS a,
               lag(close, 1) OVER w AS b,
               close AS c
        FROM bars
        WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts)
        QUALIFY lag(close, 2) OVER w IS NOT NULL
    ),
    codes AS (
        SELECT symbol,
               CAST(CASE WHEN a <= b THEN 4 ELSE 0 END
                    + CASE WHEN b <= c THEN 2 ELSE 0 END
                    + CASE WHEN a <= c THEN 1 ELSE 0 END AS INTEGER) AS code
        FROM tri
    ),
    cnts AS (
        SELECT symbol, code, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(COUNT(*)) OVER (PARTITION BY symbol) AS BIGINT)
                   AS total
        FROM codes GROUP BY symbol, code
    ),
    ent AS (
        SELECT symbol, MAX(total) AS n_windows,
               CAST(COUNT(*) AS BIGINT) AS n_patterns,
               CAST(SUM(CAST((CAST(floor(CAST((
                   -(CAST(cnt AS DOUBLE) / total)
                   * ln(CAST(cnt AS DOUBLE) / total)
                 ) AS DOUBLE) * 1000000000000.0 + 0.5) AS DOUBLE)
                 / 1000000000000.0) AS DECIMAL(38,12))) AS DOUBLE) AS h
        FROM cnts GROUP BY symbol
    )
    SELECT symbol, n_windows, n_patterns,
           CAST((CAST(floor(CAST((h / 1.791759469228055) AS DOUBLE)
                 * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE)
               AS pe_norm
    FROM ent ORDER BY symbol
    """,
)
def q_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-3 permutation entropy per symbol (Bandt–Pompe complexity of
    the hourly close path: a pure trend scores 0, white noise 1) —
    ordinal patterns are encoded as the 3-bit comparison code
    (a≤b)·4+(b≤c)·2+(a≤c) so tie policy is a fixed deterministic rule
    and exactly 6 codes are attainable; counting is integer, entropy
    follows the cell-term policy (12dp-rounded −p·ln p terms, DECIMAL
    sum), normalized by the ln(6) LITERAL (identical constant on both
    engines — never engine-computed ln(6), which may differ one ulp).
    Scale: two lags over ONE per-symbol window pass, then a ≤6-row
    hash-agg per symbol; O(1) state per row."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    tri = bars.select(
        "symbol",
        F.lag("close", 2).over(w).alias("a"),
        F.lag("close", 1).over(w).alias("b"),
        F.col("close").alias("c"),
    ).filter(F.col("a").isNotNull())
    code = (
        F.when(F.col("a") <= F.col("b"), 4).otherwise(0)
        + F.when(F.col("b") <= F.col("c"), 2).otherwise(0)
        + F.when(F.col("a") <= F.col("c"), 1).otherwise(0)
    ).cast("int")
    cnts = (
        tri.select("symbol", code.alias("code"))
        .groupBy("symbol", "code")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .withColumn(
            "total",
            F.sum("cnt").over(Window.partitionBy("symbol")).cast("bigint"),
        )
    )
    p = F.col("cnt").cast("double") / F.col("total")
    ent = cnts.groupBy("symbol").agg(
        F.max("total").alias("n_windows"),
        F.count(F.lit(1)).cast("bigint").alias("n_patterns"),
        # 12dp-pre-rounded entropy terms cast at their OWN scale
        # (matching the oracle's DECIMAL(38,12)): |term| < 1 -> exact
        term_sum(-p * F.log(p), 12)
        .alias("h"),
    )
    return ent.select(
        "symbol",
        "n_windows",
        "n_patterns",
        portable_round(F.col("h") / F.lit(1.791759469228055), 6)
        .cast("double")
        .alias("pe_norm"),
    ).orderBy("symbol")


@query(
    "q_calmar",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", "close")}),
    path AS (
        SELECT symbol, bar_ts, close,
               max(close) OVER (PARTITION BY symbol ORDER BY bar_ts
                                ROWS UNBOUNDED PRECEDING) AS peak,
               first_value(close) OVER (PARTITION BY symbol
                                        ORDER BY bar_ts) AS first_close,
               last_value(close) OVER (PARTITION BY symbol ORDER BY bar_ts
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING) AS last_close
        FROM bars
    ),
    agg AS (
        SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_bars,
               MAX(1.0 - close / peak) AS max_dd,
               MAX(last_close / first_close - 1.0) AS total_ret
        FROM path GROUP BY symbol
    )
    SELECT symbol, n_bars,
           CAST((CAST(floor(CAST((max_dd) AS DOUBLE) * 1000000.0 + 0.5)
                 AS DOUBLE) / 1000000.0) AS DOUBLE) AS max_dd,
           CAST((CAST(floor(CAST((total_ret * (8760.0 / n_bars)) AS DOUBLE)
                 * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE)
               AS ann_ret,
           CAST(CASE WHEN max_dd <= 0 THEN NULL
                ELSE (CAST(floor(CAST((
                    (total_ret * (8760.0 / n_bars)) / max_dd
                  ) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                END AS DOUBLE) AS calmar
    FROM agg ORDER BY symbol
    """,
)
def q_calmar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calmar ratio per symbol: linearly-annualized total return over
    maximum drawdown — the drawdown-denominated risk-adjusted return
    beside q_sharpe's σ-denominated and q_sortino's downside-σ one
    (a strategy with smooth losses and one deep crash looks fine to
    Sharpe; Calmar is what flags it). Annualization is LINEAR
    (total_ret · 8760/n_bars — documented contract: no engine pow(),
    whose libm could differ at the last ulp), drawdowns come off the
    running-peak window, max is order-free, and all reported doubles
    are identical scalar trees floor-rounded. Scale: one per-symbol
    window pass + one hash-agg, O(1) state per row."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    path = bars.select(
        "symbol",
        "close",
        F.max("close").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("peak"),
        F.first("close").over(w).alias("first_close"),
        F.last("close")
        .over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        .alias("last_close"),
    )
    agg = path.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bars"),
        F.max(F.lit(1.0) - F.col("close") / F.col("peak")).alias("max_dd"),
        F.max(F.col("last_close") / F.col("first_close") - F.lit(1.0)).alias(
            "total_ret"
        ),
    )
    ann = F.col("total_ret") * (F.lit(8760.0) / F.col("n_bars"))
    return agg.select(
        "symbol",
        "n_bars",
        portable_round(F.col("max_dd"), 6).cast("double").alias("max_dd"),
        portable_round(ann, 6).cast("double").alias("ann_ret"),
        F.when(F.col("max_dd") <= 0, F.lit(None).cast("double"))
        .otherwise(portable_round(ann / F.col("max_dd"), 6))
        .cast("double")
        .alias("calmar"),
    ).orderBy("symbol")


@query(
    "q_omega_ratio",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS ({sql_bar_returns("cbars")}),
    agg AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS n_rets,
               CAST(COUNT(*) FILTER (WHERE r > 0) AS BIGINT) AS n_up,
               CAST(COUNT(*) FILTER (WHERE r < 0) AS BIGINT) AS n_down,
               {sql_split_term_sum("CASE WHEN r > 0 THEN r ELSE 0 END", 12, 8)}
                   AS gains,
               {sql_split_term_sum("CASE WHEN r < 0 THEN -r ELSE 0 END", 12, 8)}
                   AS losses
        FROM rets GROUP BY symbol
    )
    SELECT symbol, n_rets, n_up, n_down,
           CAST(CASE WHEN losses = 0 THEN NULL
                ELSE (CAST(floor(CAST((gains / losses) AS DOUBLE)
                      * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                END AS DOUBLE) AS omega
    FROM agg ORDER BY symbol
    """,
)
def q_omega_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Omega ratio per symbol at threshold 0: Σ gains / Σ |losses| over
    hourly returns — the whole-distribution risk-reward measure that
    uses every moment at once (Sharpe reads two moments; Omega is the
    probability-weighted ratio of upside to downside area). Gain and
    loss sums run in exact DECIMAL (CASE-gated one-pass conditional
    aggregation, the q_updown_capture idiom), so partition order cannot
    move the ratio; the single division is floor-rounded. Scale: the
    returns window pass then ONE hash-agg per symbol."""
    rets = bar_returns(
        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    )
    agg = rets.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rets"),
        F.count(F.when(F.col("r") > 0, 1)).cast("bigint").alias("n_up"),
        F.count(F.when(F.col("r") < 0, 1)).cast("bigint").alias("n_down"),
        split_term_sum(
            F.when(F.col("r") > 0, F.col("r")).otherwise(F.lit(0.0)), 12, 8
        ).alias("gains"),
        split_term_sum(
            F.when(F.col("r") < 0, -F.col("r")).otherwise(F.lit(0.0)), 12, 8
        ).alias("losses"),
    )
    return agg.select(
        "symbol",
        "n_rets",
        "n_up",
        "n_down",
        F.when(F.col("losses") == 0, F.lit(None).cast("double"))
        .otherwise(portable_round(F.col("gains") / F.col("losses"), 6))
        .cast("double")
        .alias("omega"),
    ).orderBy("symbol")
