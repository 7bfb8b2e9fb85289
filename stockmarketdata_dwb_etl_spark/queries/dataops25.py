"""Round-12 operator batch 7: microstructure liquidity estimators and
tail-aware risk ratios.

- Corwin–Schultz high–low spread: the two-day range-ratio estimator of
  the effective bid–ask spread — the closed-form liquidity measure that
  needs only daily highs/lows, completing q_roll_spread (serial
  covariance) and q_amihud_illiquidity (price impact).
- VPIN: volume-synchronized probability of informed trading — tick-rule
  order-flow imbalance over equal-volume buckets (de Prado's toxicity
  metric; bar_id construction mirrors q_dollar_bars, classification
  mirrors q_tick_rule).
- Probabilistic Sharpe ratio: P(true SR > 0) adjusting the observed
  Sharpe for skewness, kurtosis and sample length (Bailey–López de
  Prado) — the significance layer over q_sharpe.
- Burke ratio: annualized mean return over the root-sum-of-squares of
  drawdown-spell depths — the path-aware risk ratio beside
  q_ulcer_index (RMS of drawdowns) and q_calmar (single worst).

Reference scope: the reference's BigQuery tier is the analytics surface
these extend (dump_bigq.py:135-149 delegates all querying).

Determinism: counts are exact integers; every cross-row double sum
routes through the two-bucket split sum (functions/exact.py::split_term_sum, 2^53
rule) or exact-scale rounded terms; all closed-form arithmetic
(sqrt/exp/Φ chains) uses the identical expression tree on both engines
before the portable floor round.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.bars import (
    ohlcv_bars,
    simple_return,
    sql_ohlcv_bars,
    sql_simple_return,
    sql_tick_key,
    tick_key,
)
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    split_term_sum,
    sql_split_term_sum,
)
from stockmarketdata_dwb_etl_spark.registry import query

# ---------------------------------------------------------------------------
# Corwin-Schultz high-low spread estimator
# ---------------------------------------------------------------------------

# 3 - 2*sqrt(2), the denominator constant of the CS alpha — spelled as
# an identical literal chain on both engines
_CS_DEN = "(3.0 - 2.0 * sqrt(2.0))"


@query(
    "q_corwin_schultz",
    oracle=f"""
    WITH bars AS (
        SELECT event_type AS symbol, CAST(ts AS DATE) AS day,
               MAX(value) AS high, MIN(value) AS low
        FROM events GROUP BY 1, 2
    ),
    pairs AS (
        SELECT symbol, day, high, low,
               lag(high) OVER w AS ph, lag(low) OVER w AS pl
        FROM bars
        WINDOW w AS (PARTITION BY symbol ORDER BY day)
        QUALIFY ph IS NOT NULL AND low > 0 AND pl > 0
    ),
    g AS (
        SELECT symbol, day,
               ln(high / low) * ln(high / low)
               + ln(ph / pl) * ln(ph / pl) AS beta,
               ln(greatest(high, ph) / least(low, pl))
               * ln(greatest(high, ph) / least(low, pl)) AS gamma
        FROM pairs
    ),
    a AS (
        SELECT symbol, day,
               (sqrt(2.0 * beta) - sqrt(beta)) / {_CS_DEN}
               - sqrt(gamma / {_CS_DEN}) AS alpha
        FROM g
    ),
    sp AS (
        SELECT symbol, day,
               greatest(2.0 * (exp(alpha) - 1.0) / (1.0 + exp(alpha)),
                        0.0) AS s
        FROM a
    )
    SELECT symbol,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST((CAST(floor(CAST(({sql_split_term_sum("s", 12, 8)}) / COUNT(*)
                 AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                AS DOUBLE) AS cs_spread,
           CAST(COUNT(*) FILTER (WHERE s > 0) AS BIGINT) AS n_positive
    FROM sp GROUP BY symbol ORDER BY symbol
    """,
)
def q_corwin_schultz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corwin–Schultz bid–ask spread estimate per symbol from daily
    high/low ranges: two-day β (sum of squared log ranges) and γ
    (squared log range of the two-day envelope) give α =
    (√(2β)−√β)/(3−2√2) − √(γ/(3−2√2)) and spread = 2(e^α−1)/(1+e^α),
    floored at 0 per the paper's convention and averaged per symbol —
    the closed-form liquidity estimator that needs only OHLC data.
    Negative-alpha days are counted via n_positive. Scales: one
    tick→day hash-agg, one lag window keyed by symbol, one moments
    agg — identical posture to q_roll_spread."""
    ev = load_table(spark, sf_dir, "events")
    bars = ev.groupBy(
        F.col("event_type").alias("symbol"),
        F.col("ts").cast("date").alias("day"),
    ).agg(F.max("value").alias("high"), F.min("value").alias("low"))
    w = Window.partitionBy("symbol").orderBy("day")
    pairs = (
        bars.select(
            "symbol",
            "day",
            "high",
            "low",
            F.lag("high").over(w).alias("ph"),
            F.lag("low").over(w).alias("pl"),
        )
        .filter(
            F.col("ph").isNotNull() & (F.col("low") > 0) & (F.col("pl") > 0)
        )
    )
    lhl = F.log(F.col("high") / F.col("low"))
    lphl = F.log(F.col("ph") / F.col("pl"))
    lenv = F.log(
        F.greatest(F.col("high"), F.col("ph"))
        / F.least(F.col("low"), F.col("pl"))
    )
    beta = lhl * lhl + lphl * lphl
    gamma = lenv * lenv
    den = F.lit(3.0) - F.lit(2.0) * F.sqrt(F.lit(2.0))
    alpha = (F.sqrt(F.lit(2.0) * beta) - F.sqrt(beta)) / den - F.sqrt(
        gamma / den
    )
    s = F.greatest(
        F.lit(2.0) * (F.exp(alpha) - F.lit(1.0))
        / (F.lit(1.0) + F.exp(alpha)),
        F.lit(0.0),
    )
    sp = pairs.select("symbol", s.alias("s"))
    return (
        sp.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            portable_round(
                split_term_sum(F.col("s"), 12, 8) / F.count(F.lit(1)), 6
            )
            .cast("double")
            .alias("cs_spread"),
            F.count(F.when(F.col("s") > 0, 1))
            .cast("bigint")
            .alias("n_positive"),
        )
        .orderBy("symbol")
    )


# ---------------------------------------------------------------------------
# VPIN: volume-synchronized probability of informed trading
# ---------------------------------------------------------------------------

_VPIN_BUCKET = 200  # ticks per volume bucket (tick count = volume proxy)


@query(
    "q_vpin",
    oracle=f"""
    WITH t AS (
        SELECT event_type AS symbol, value,
               {sql_tick_key()} AS ord,
               lag(value) OVER (PARTITION BY event_type
                                ORDER BY {sql_tick_key()}) AS pv,
               (row_number() OVER (PARTITION BY event_type
                                   ORDER BY {sql_tick_key()}) - 1)
                   // {_VPIN_BUCKET} AS bucket,
               COUNT(*) OVER (PARTITION BY event_type) AS n_ticks
        FROM events
    ),
    cls AS (
        SELECT symbol, bucket, n_ticks,
               CASE WHEN pv IS NULL THEN 0
                    WHEN value > pv THEN 1
                    WHEN value < pv THEN -1
                    ELSE 0 END AS side
        FROM t
        WHERE bucket < n_ticks // {_VPIN_BUCKET}
    ),
    b AS (
        SELECT symbol, bucket,
               CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS buys,
               CAST(SUM(CASE WHEN side = -1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS sells,
               CAST(COUNT(*) AS BIGINT) AS vol
        FROM cls GROUP BY symbol, bucket
    )
    SELECT symbol,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST((CAST(floor(CAST((
               CAST(SUM(abs(buys - sells)) AS DOUBLE)
               / CAST(SUM(vol) AS DOUBLE)) AS DOUBLE) * 1000000.0 + 0.5)
               AS DOUBLE) / 1000000.0) AS DOUBLE) AS vpin,
           CAST(MAX(abs(buys - sells)) AS BIGINT) AS max_imbalance
    FROM b GROUP BY symbol ORDER BY symbol
    """,
)
def q_vpin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VPIN (volume-synchronized probability of informed trading) per
    symbol: ticks classified buy/sell by the tick rule (flat and first
    ticks neutral — q_tick_rule's convention), grouped into
    equal-volume buckets of 200 ticks (tick count = volume proxy, the
    q_dollar_bars stand-in; the trailing partial bucket is dropped per
    the paper), VPIN = Σ|B−S| / ΣV — de Prado's flow-toxicity metric
    that spikes before liquidity crises. All-integer arithmetic up to
    the single final division. Scales: one lag+row_number window pass
    keyed by symbol, then a (symbol, bucket) hash-agg whose state is
    bucket-bounded; at 100 TB the bucket id comes from the same
    running prefix machinery as q_dollar_bars."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(tick_key())
    wall = Window.partitionBy("event_type")
    t = ev.select(
        F.col("event_type").alias("symbol"),
        "value",
        F.lag("value").over(w).alias("pv"),
        ((F.row_number().over(w) - 1) / F.lit(_VPIN_BUCKET))
        .cast("bigint")
        .alias("bucket"),
        F.count(F.lit(1)).over(wall).alias("n_ticks"),
    )
    side = (
        F.when(F.col("pv").isNull(), F.lit(0))
        .when(F.col("value") > F.col("pv"), F.lit(1))
        .when(F.col("value") < F.col("pv"), F.lit(-1))
        .otherwise(F.lit(0))
    )
    cls = t.filter(
        F.col("bucket")
        < (F.col("n_ticks") / F.lit(_VPIN_BUCKET)).cast("bigint")
    ).select("symbol", "bucket", side.alias("side"))
    b = cls.groupBy("symbol", "bucket").agg(
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("buys"),
        F.sum(F.when(F.col("side") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("sells"),
        F.count(F.lit(1)).cast("bigint").alias("vol"),
    )
    imb = F.abs(F.col("buys") - F.col("sells"))
    return (
        b.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            portable_round(
                F.sum(imb).cast("double") / F.sum("vol").cast("double"), 6
            )
            .cast("double")
            .alias("vpin"),
            F.max(imb).cast("bigint").alias("max_imbalance"),
        )
        .orderBy("symbol")
    )


# ---------------------------------------------------------------------------
# Probabilistic Sharpe ratio
# ---------------------------------------------------------------------------

# Abramowitz & Stegun 26.2.17 one-sided Phi(z) (|eps| < 7.5e-8): for
# z >= 0, Phi = 1 - pdf*poly(t); negative z by symmetry. Identical
# Horner chain on both engines (the dataops17 _p_two pattern, one-sided)
_INV_SQRT_2PI = 0.3989422804014327


def _duck_phi(z: str) -> str:
    ax = f"abs({z})"
    t = f"(1.0 / (1.0 + 0.2316419 * {ax}))"
    poly = (
        f"({t} * (0.319381530 + {t} * (-0.356563782 + {t} * (1.781477937"
        f" + {t} * (-1.821255978 + {t} * 1.330274429)))))"
    )
    pdf = f"(exp(-({ax}) * ({ax}) / 2.0) * {_INV_SQRT_2PI})"
    upper = f"(1.0 - {pdf} * {poly})"
    return f"(CASE WHEN ({z}) >= 0.0 THEN {upper} ELSE {pdf} * {poly} END)"


def _spark_phi(z: Column) -> Column:
    ax = F.abs(z)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.2316419) * ax)
    poly = t * (
        F.lit(0.319381530)
        + t
        * (
            F.lit(-0.356563782)
            + t
            * (
                F.lit(1.781477937)
                + t * (F.lit(-1.821255978) + t * F.lit(1.330274429))
            )
        )
    )
    pdf = F.exp(-ax * ax / F.lit(2.0)) * F.lit(_INV_SQRT_2PI)
    return F.when(z >= 0.0, F.lit(1.0) - pdf * poly).otherwise(pdf * poly)


@query(
    "q_prob_sharpe",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS (
        SELECT symbol,
               {sql_simple_return("(PARTITION BY symbol ORDER BY bar_ts)")} AS r
        FROM cbars
        QUALIFY r IS NOT NULL
    ),
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
               s1 / n AS mu,
               s2 / n - (s1 / n) * (s1 / n) AS m2,
               s3 / n - 3.0 * (s1 / n) * (s2 / n)
                      + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
               s4 / n - 4.0 * (s1 / n) * (s3 / n)
                      + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
                      - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)
                   AS m4
        FROM m WHERE n >= 3
    ),
    sr AS (
        SELECT symbol, n,
               (mu / sqrt(m2)) AS sr,
               (m3 / pow(m2, 1.5)) AS g3,
               (m4 / (m2 * m2)) AS g4
        FROM cm WHERE m2 > 0
    ),
    z AS (
        SELECT symbol, n, sr, g3, g4,
               CASE WHEN 1.0 - g3 * sr + (g4 - 1.0) / 4.0 * sr * sr <= 0
                    THEN NULL
                    ELSE sr * sqrt(CAST(n - 1 AS DOUBLE))
                         / sqrt(1.0 - g3 * sr
                                + (g4 - 1.0) / 4.0 * sr * sr) END AS z
        FROM sr
    )
    SELECT symbol, n,
           CAST((CAST(floor(CAST((sr) AS DOUBLE) * 1000000.0 + 0.5)
                AS DOUBLE) / 1000000.0) AS DOUBLE) AS sharpe,
           CAST(CASE WHEN z IS NULL THEN NULL
                ELSE (CAST(floor(CAST(({_duck_phi("z")}) AS DOUBLE)
                      * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) END
                AS DOUBLE) AS psr
    FROM z ORDER BY symbol
    """,
)
def q_prob_sharpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic Sharpe ratio per symbol (Bailey–López de Prado):
    PSR = Φ(SR·√(n−1) / √(1 − γ₃·SR + (γ₄−1)/4·SR²)) — the probability
    that the TRUE Sharpe exceeds 0 given the observed SR, sample
    length, skewness γ₃ and kurtosis γ₄ (fat tails and short samples
    deflate significance; the non-normality-aware layer q_sharpe
    lacks). Power sums Σr..Σr⁴ are the q_jarque_bera split-sum
    construction; the moment→Φ chain is one identical double tree; a
    non-positive deflation bracket yields NULL. Scales: one returns
    window + one hash-agg per symbol."""
    ev = load_table(spark, sf_dir, "events")
    bars = ohlcv_bars(ev, "hour", "close")
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    rets = bars.select(
        "symbol",
        simple_return(w).alias("r"),
    ).filter(F.col("r").isNotNull())
    r = F.col("r")
    m = rets.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        split_term_sum(r, 12, 8).alias("s1"),
        split_term_sum(r * r, 12, 8).alias("s2"),
        split_term_sum(r * r * r, 12, 5).alias("s3"),
        split_term_sum(r * r * r * r, 12, 2).alias("s4"),
    ).filter(F.col("n") >= 3)
    n = F.col("n")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = (
        F.col("s3") / n
        - F.lit(3.0) * mu * (F.col("s2") / n)
        + F.lit(2.0) * mu * mu * mu
    )
    m4 = (
        F.col("s4") / n
        - F.lit(4.0) * mu * (F.col("s3") / n)
        + F.lit(6.0) * mu * mu * (F.col("s2") / n)
        - F.lit(3.0) * mu * mu * mu * mu
    )
    sr = mu / F.sqrt(m2)
    g3 = m3 / F.pow(m2, 1.5)
    g4 = m4 / (m2 * m2)
    brk = F.lit(1.0) - g3 * sr + (g4 - F.lit(1.0)) / F.lit(4.0) * sr * sr
    z = sr * F.sqrt((n - 1).cast("double")) / F.sqrt(brk)
    return (
        m.filter(m2 > 0)
        .select(
            "symbol",
            "n",
            portable_round(sr, 6).cast("double").alias("sharpe"),
            F.when(brk <= 0, F.lit(None).cast("double"))
            .otherwise(portable_round(_spark_phi(z), 6))
            .cast("double")
            .alias("psr"),
        )
        .orderBy("symbol")
    )


# ---------------------------------------------------------------------------
# Burke ratio
# ---------------------------------------------------------------------------


@query(
    "q_burke_ratio",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    uw AS (
        SELECT symbol, bar_ts, close,
               close / max(close) OVER (PARTITION BY symbol ORDER BY bar_ts
                   ROWS UNBOUNDED PRECEDING) - 1.0 AS dd,
               row_number() OVER (PARTITION BY symbol ORDER BY bar_ts)
                   AS rn
        FROM cbars
    ),
    runs AS (
        SELECT symbol, dd,
               rn - row_number() OVER (PARTITION BY symbol,
                                       CASE WHEN dd < 0 THEN 1 ELSE 0 END
                                       ORDER BY rn) AS grp
        FROM uw
    ),
    spells AS (
        SELECT symbol, grp, MIN(dd) AS depth
        FROM runs WHERE dd < 0
        GROUP BY symbol, grp
    ),
    dsum AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS n_spells,
               {sql_split_term_sum("depth * depth", 12, 8)} AS sdd
        FROM spells GROUP BY symbol
    ),
    rets AS (
        SELECT symbol,
               {sql_simple_return("(PARTITION BY symbol ORDER BY bar_ts)")} AS r
        FROM cbars
        QUALIFY r IS NOT NULL
    ),
    mr AS (
        SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("r", 12, 8)} / COUNT(*) AS mean_r
        FROM rets GROUP BY symbol
    )
    SELECT m.symbol, m.n, d.n_spells,
           CAST((CAST(floor(CAST((sqrt(d.sdd)) AS DOUBLE) * 1000000.0
                + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS dd_rss,
           CAST(CASE WHEN d.sdd <= 0 THEN NULL
                ELSE (CAST(floor(CAST((m.mean_r * 8760.0 / sqrt(d.sdd))
                      AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE)
                      / 1000000.0) END AS DOUBLE) AS burke_ann
    FROM mr m JOIN dsum d ON d.symbol = m.symbol
    ORDER BY m.symbol
    """,
)
def q_burke_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized Burke ratio per symbol: mean hourly return ·8760 over
    √(Σ depth_i²) where depth_i is the deepest point of each underwater
    spell — penalizes many/deep drawdowns but, unlike q_calmar's single
    worst, rewards recovery between them. Spells come from the
    gaps-and-islands rn-difference (q_drawdown_duration's integer
    idiom) over the running-peak drawdown; spell depths are exact MINs;
    the depth² sum is a split sum. A drawdown-free series yields NULL.
    Scales: two stacked windows + two hash-aggs, all keyed by
    symbol — one shuffle."""
    ev = load_table(spark, sf_dir, "events")
    bars = ohlcv_bars(ev, "hour", "close")
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    uw = bars.select(
        "symbol",
        "bar_ts",
        "close",
        (F.col("close") / F.max("close").over(wrun) - F.lit(1.0)).alias("dd"),
        F.row_number().over(w).alias("rn"),
    )
    under = F.when(F.col("dd") < 0, F.lit(1)).otherwise(F.lit(0))
    wg = Window.partitionBy("symbol", under).orderBy("rn")
    runs = uw.select(
        "symbol", "dd", (F.col("rn") - F.row_number().over(wg)).alias("grp")
    )
    spells = (
        runs.filter(F.col("dd") < 0)
        .groupBy("symbol", "grp")
        .agg(F.min("dd").alias("depth"))
    )
    dsum = spells.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spells"),
        split_term_sum(F.col("depth") * F.col("depth"), 12, 8).alias("sdd"),
    )
    rets = bars.select(
        "symbol",
        simple_return(w).alias("r"),
    ).filter(F.col("r").isNotNull())
    mr = rets.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (split_term_sum(F.col("r"), 12, 8) / F.count(F.lit(1))).alias("mean_r"),
    )
    return (
        mr.join(dsum, "symbol")
        .select(
            "symbol",
            "n",
            "n_spells",
            portable_round(F.sqrt(F.col("sdd")), 6)
            .cast("double")
            .alias("dd_rss"),
            F.when(F.col("sdd") <= 0, F.lit(None).cast("double"))
            .otherwise(
                portable_round(
                    F.col("mean_r") * F.lit(8760.0) / F.sqrt(F.col("sdd")), 6
                )
            )
            .cast("double")
            .alias("burke_ann"),
        )
        .orderBy("symbol")
    )
