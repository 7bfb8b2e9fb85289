"""Round-12 operator batch 13: robust co-movement, moment-corrected
risk, drawdown-distribution risk, and corpus concentration.

- Gerber statistic: threshold-based robust co-movement per symbol pair
  — joint-exceedance counting that ignores the noise band entirely,
  the outlier-immune alternative to Pearson correlation
  (q_corr_pairs) that portfolio construction increasingly prefers.
- Cornish–Fisher modified VaR: the quantile expansion that corrects
  the Gaussian z for skewness and kurtosis — the moment-aware upgrade
  of q_var_cvar's empirical quantile when tails are fat.
- Conditional drawdown-at-risk (CDaR): the mean of the worst decile of
  per-bar drawdown depths — the drawdown-distribution tail beside
  q_ulcer_index (RMS) and q_calmar (single worst).
- Simpson concentration of the corpus source mix: Σnᵢ(nᵢ−1)/(N(N−1))
  plus its inverse (effective source count) — the exact-integer
  diversity audit upstream of q_mix_weights.

Reference scope: the reference's BigQuery tier is the analytics surface
these extend (dump_bigq.py:135-149 delegates all querying).

Determinism: exceedance/pair counts are exact integers; moment sums
route through the two-bucket split sum at power-matched scales; the CF
expansion and CDaR quantile pick are identical double trees.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.bars import (
    bar_returns,
    ohlcv_bars,
    sql_bar_returns,
    sql_ohlcv_bars,
)
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    split_term_sum,
    sql_split_term_sum,
)
from stockmarketdata_dwb_etl_spark.operators.cache import bounded_persist
from stockmarketdata_dwb_etl_spark.registry import query


# ---------------------------------------------------------------------------
# Gerber statistic
# ---------------------------------------------------------------------------

# exceedance threshold: half the per-symbol population sd (the Gerber
# et al. convention c = 0.5)
_GERBER_C = 0.5


@query(
    "q_gerber_statistic",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS ({sql_bar_returns("cbars")}),
    sd AS (
        SELECT symbol,
               sqrt(greatest(
                   ({sql_split_term_sum("r * r", 12, 8)}) / COUNT(*)
                   - (({sql_split_term_sum("r", 12, 8)}) / COUNT(*))
                     * (({sql_split_term_sum("r", 12, 8)}) / COUNT(*)), 0.0)) AS sd
        FROM rets GROUP BY symbol
    ),
    flg AS (
        SELECT r.symbol, r.bar_ts,
               CASE WHEN r.r >= {_GERBER_C} * s.sd THEN 1
                    WHEN r.r <= -{_GERBER_C} * s.sd THEN -1
                    ELSE 0 END AS f
        FROM rets r JOIN sd s ON s.symbol = r.symbol
    ),
    pairs AS (
        SELECT a.symbol AS symbol_a, b.symbol AS symbol_b,
               CAST(SUM(CASE WHEN a.f * b.f = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_conc,
               CAST(SUM(CASE WHEN a.f * b.f = -1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_disc,
               CAST(SUM(CASE WHEN a.f = 0 AND b.f = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_null,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM flg a JOIN flg b
          ON a.bar_ts = b.bar_ts AND a.symbol < b.symbol
        GROUP BY 1, 2
    )
    SELECT symbol_a, symbol_b, n_conc, n_disc,
           CAST(CASE WHEN n - n_null = 0 THEN NULL
                ELSE (CAST(floor(CAST((CAST(n_conc - n_disc AS DOUBLE)
                      / (n - n_null)) AS DOUBLE) * 1000000.0 + 0.5)
                      AS DOUBLE) / 1000000.0) END AS DOUBLE) AS gerber
    FROM pairs ORDER BY symbol_a, symbol_b
    """,
)
def q_gerber_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gerber co-movement statistic per symbol pair: returns flag
    +1/−1/0 against a ±0.5σ noise band (population σ from split-sum
    moments — the threshold compare is one identical double tree),
    then g = (concordant − discordant)/(n − both-in-band) over
    bar-aligned pairs — co-movement counting that ignores noise and
    caps any single observation's influence at 1, where Pearson lets
    one outlier dominate. All pair tallies are exact integers. Scales:
    per-symbol σ broadcast back, one bar_ts-co-partitioned pair join
    bounded by the symbol catalog, integer aggs."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    rets = bounded_persist(bar_returns(bars), "gerber-rets")
    sd = rets.groupBy("symbol").agg(
        F.sqrt(
            F.greatest(
                split_term_sum(F.col("r") * F.col("r"), 12, 8) / F.count(F.lit(1))
                - (split_term_sum(F.col("r"), 12, 8) / F.count(F.lit(1)))
                * (split_term_sum(F.col("r"), 12, 8) / F.count(F.lit(1))),
                F.lit(0.0),
            )
        ).alias("sd")
    )
    flg = rets.join(F.broadcast(sd), "symbol").select(
        "symbol",
        "bar_ts",
        F.when(F.col("r") >= F.lit(_GERBER_C) * F.col("sd"), 1)
        .when(F.col("r") <= -F.lit(_GERBER_C) * F.col("sd"), -1)
        .otherwise(0)
        .alias("f"),
    )
    a = flg.select(
        F.col("symbol").alias("symbol_a"), "bar_ts", F.col("f").alias("fa")
    )
    b = flg.select(
        F.col("symbol").alias("symbol_b"), "bar_ts", F.col("f").alias("fb")
    )
    pairs = (
        a.join(b, "bar_ts")
        .filter(F.col("symbol_a") < F.col("symbol_b"))
        .groupBy("symbol_a", "symbol_b")
        .agg(
            F.sum(F.when(F.col("fa") * F.col("fb") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_conc"),
            F.sum(F.when(F.col("fa") * F.col("fb") == -1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_disc"),
            F.sum(
                F.when((F.col("fa") == 0) & (F.col("fb") == 0), 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("n_null"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    denom = F.col("n") - F.col("n_null")
    return pairs.select(
        "symbol_a",
        "symbol_b",
        "n_conc",
        "n_disc",
        F.when(denom == 0, F.lit(None).cast("double"))
        .otherwise(
            portable_round(
                (F.col("n_conc") - F.col("n_disc")).cast("double") / denom, 6
            )
        )
        .cast("double")
        .alias("gerber"),
    ).orderBy("symbol_a", "symbol_b")


# ---------------------------------------------------------------------------
# Cornish-Fisher modified VaR
# ---------------------------------------------------------------------------

# z for the 5% tail of the standard normal — identical literal both sides
_Z05 = -1.6448536269514722
# DuckDB parses a bare high-precision literal as DECIMAL and overflows
# scale on z*z*z — force the float64 literal
_Z05_SQL = "CAST(-1.6448536269514722 AS DOUBLE)"


@query(
    "q_cornish_fisher",
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
               s1 / n AS mu,
               s2 / n - (s1 / n) * (s1 / n) AS m2,
               s3 / n - 3.0 * (s1 / n) * (s2 / n)
                      + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
               s4 / n - 4.0 * (s1 / n) * (s3 / n)
                      + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
                      - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)
                   AS m4
        FROM m WHERE n >= 4
    ),
    g AS (
        SELECT symbol, n, mu, m2,
               m3 / pow(m2, 1.5) AS g3,
               m4 / (m2 * m2) - 3.0 AS g4
        FROM cm WHERE m2 > 0
    ),
    z AS (
        SELECT symbol, n, mu, m2, g3, g4,
               {_Z05_SQL} + (({_Z05_SQL}) * ({_Z05_SQL}) - 1.0) / 6.0 * g3
               + (({_Z05_SQL}) * ({_Z05_SQL}) * ({_Z05_SQL})
                  - 3.0 * ({_Z05_SQL})) / 24.0 * g4
               - (2.0 * ({_Z05_SQL}) * ({_Z05_SQL}) * ({_Z05_SQL})
                  - 5.0 * ({_Z05_SQL})) / 36.0 * g3 * g3 AS zcf
        FROM g
    )
    SELECT symbol, n,
           CAST((CAST(floor(CAST((mu + {_Z05_SQL} * sqrt(m2)) AS DOUBLE)
                * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE)
               AS var95_gaussian,
           CAST((CAST(floor(CAST((mu + zcf * sqrt(m2)) AS DOUBLE)
                * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE)
               AS var95_cornish_fisher,
           CAST((CAST(floor(CAST((zcf) AS DOUBLE) * 1000000.0 + 0.5)
                AS DOUBLE) / 1000000.0) AS DOUBLE) AS z_cf
    FROM z ORDER BY symbol
    """,
)
def q_cornish_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cornish–Fisher modified VaR95 per symbol: the quantile expansion
    z_CF = z + (z²−1)γ₃/6 + (z³−3z)γ₄ᵉˣᶜ/24 − (2z³−5z)γ₃²/36 corrects
    the Gaussian 5% z for skewness and excess kurtosis, VaR = μ +
    z_CF·σ — reported beside the uncorrected Gaussian VaR so the
    fat-tail adjustment is visible (the moment-aware complement to
    q_var_cvar's empirical quantile). Power sums are the
    q_jarque_bera split-sum construction; the expansion is one
    identical double tree with the z literal spelled identically on
    both engines. Scales: one returns window + one hash-agg per
    symbol."""
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
    ).filter(F.col("n") >= 4)
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
    g3 = m3 / F.pow(m2, 1.5)
    g4 = m4 / (m2 * m2) - F.lit(3.0)
    z = F.lit(_Z05)
    zcf = (
        z
        + (z * z - F.lit(1.0)) / F.lit(6.0) * g3
        + (z * z * z - F.lit(3.0) * z) / F.lit(24.0) * g4
        - (F.lit(2.0) * z * z * z - F.lit(5.0) * z)
        / F.lit(36.0)
        * g3
        * g3
    )
    return (
        m.filter(m2 > 0)
        .select(
            "symbol",
            "n",
            portable_round(mu + z * F.sqrt(m2), 6)
            .cast("double")
            .alias("var95_gaussian"),
            portable_round(mu + zcf * F.sqrt(m2), 6)
            .cast("double")
            .alias("var95_cornish_fisher"),
            portable_round(zcf, 6).cast("double").alias("z_cf"),
        )
        .orderBy("symbol")
    )


# ---------------------------------------------------------------------------
# Conditional drawdown-at-risk
# ---------------------------------------------------------------------------


@query(
    "q_cdar",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    dd AS (
        SELECT symbol, bar_ts,
               1.0 - close / max(close) OVER (PARTITION BY symbol
                   ORDER BY bar_ts ROWS UNBOUNDED PRECEDING) AS d
        FROM cbars
    ),
    q AS (
        SELECT symbol,
               percentile_disc(0.9) WITHIN GROUP (ORDER BY d) AS dar90
        FROM dd GROUP BY symbol
    )
    SELECT d.symbol,
           CAST(COUNT(*) AS BIGINT) AS n_bars,
           CAST((CAST(floor(CAST((q.dar90) AS DOUBLE) * 1000000.0
                + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS dar90,
           CAST(COUNT(*) FILTER (WHERE d.d >= q.dar90) AS BIGINT)
               AS n_tail,
           CAST((CAST(floor(CAST((({sql_split_term_sum(
                "CASE WHEN d.d >= q.dar90 THEN d.d END", 12, 8)})
                / COUNT(*) FILTER (WHERE d.d >= q.dar90)) AS DOUBLE)
                * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE)
               AS cdar90
    FROM dd d JOIN q ON q.symbol = d.symbol
    GROUP BY d.symbol, q.dar90
    ORDER BY d.symbol
    """,
)
def q_cdar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional drawdown-at-risk per symbol: DaR₉₀ is the DISCRETE
    90th percentile of the per-bar drawdown-depth distribution (an
    observed value — engine-exact pick), CDaR₉₀ the split-sum mean of
    the depths at or beyond it — the drawdown-distribution tail that
    q_ulcer_index's RMS and q_calmar's single worst both miss (CDaR
    is the drawdown analogue of q_var_cvar's expected shortfall).
    Scales: one running-max window keyed by symbol, a per-group
    percentile, one broadcast join-back + agg."""
    ev = load_table(spark, sf_dir, "events")
    bars = ohlcv_bars(ev, "hour", "close")
    wrun = (
        Window.partitionBy("symbol")
        .orderBy("bar_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = bars.select(
        "symbol",
        (F.lit(1.0) - F.col("close") / F.max("close").over(wrun)).alias("d"),
    )
    q = dd.groupBy("symbol").agg(
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY d)").alias(
            "dar90"
        )
    )
    j = dd.join(F.broadcast(q), "symbol")
    in_tail = F.col("d") >= F.col("dar90")
    return (
        j.groupBy("symbol", "dar90")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bars"),
            F.count(F.when(in_tail, 1)).cast("bigint").alias("n_tail"),
            portable_round(
                split_term_sum(F.when(in_tail, F.col("d")), 12, 8)
                / F.count(F.when(in_tail, 1)),
                6,
            )
            .cast("double")
            .alias("cdar90"),
        )
        .select(
            "symbol",
            "n_bars",
            portable_round("dar90", 6).cast("double").alias("dar90"),
            "n_tail",
            "cdar90",
        )
        .orderBy("symbol")
    )


# ---------------------------------------------------------------------------
# Simpson concentration of the source mix
# ---------------------------------------------------------------------------


@query(
    "q_simpson_diversity",
    oracle="""
    WITH counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_i
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(n_i) AS BIGINT) AS n,
               CAST(SUM(n_i * (n_i - 1)) AS BIGINT) AS pairs,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM counts
    )
    SELECT k AS n_sources, n AS n_docs,
           CAST((CAST(floor(CAST((CAST(pairs AS DOUBLE)
                / (CAST(n AS DOUBLE) * (n - 1))) AS DOUBLE)
                * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE)
               AS simpson_lambda,
           CAST((CAST(floor(CAST(((CAST(n AS DOUBLE) * (n - 1))
                / pairs) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE)
                / 10000.0) AS DOUBLE) AS effective_sources
    FROM tot
    """,
)
def q_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson concentration of the corpus source mix: λ =
    Σnᵢ(nᵢ−1)/(N(N−1)) — the probability two randomly drawn documents
    share a source — and its inverse 1/λ, the EFFECTIVE number of
    sources (the diversity audit upstream of q_mix_weights: an
    effective count far below the raw count means the mixture is
    dominated before any reweighting). Everything is exact integer
    counting until the final ratios. Scales: one source hash-agg + a
    1-row agg — streams the corpus once."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i")
    )
    tot = counts.agg(
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum(F.col("n_i") * (F.col("n_i") - 1)).cast("bigint").alias(
            "pairs"
        ),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    lam = F.col("pairs").cast("double") / (
        F.col("n").cast("double") * (F.col("n") - 1)
    )
    # inverse spelled as the SAME division tree as the oracle
    # ((N(N-1))/pairs, not 1.0/lambda) so float paths match bitwise
    inv = (F.col("n").cast("double") * (F.col("n") - 1)) / F.col("pairs")
    return tot.select(
        F.col("k").alias("n_sources"),
        F.col("n").alias("n_docs"),
        portable_round(lam, 6).cast("double").alias("simpson_lambda"),
        portable_round(inv, 4).cast("double").alias("effective_sources"),
    )
