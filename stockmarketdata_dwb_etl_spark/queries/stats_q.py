"""Statistical-test battery: chi-square independence, Gini concentration,
Benford first-digit audit, Welch's t-test, and a 2-D histogram.

The data-quality / drift-monitoring statistics a warehouse runs over its
fact tables (complementing q_ks_test and q_psi_drift): categorical
association, concentration, digit-distribution fraud audit, two-sample
mean comparison, density heat map.

Determinism policy: all counts are exact integers; all sums accumulate in
exact DECIMAL; any double math (expected counts, test statistics) uses
the IDENTICAL expression tree on both engines and rounds past the 4dp
compare precision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.functions.bars import (
    ohlcv_bars,
    simple_return,
    sql_ohlcv_bars,
    sql_simple_return,
)
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    split_term_sum,
    sql_split_term_sum,
    sql_term_sum,
    term_sum,
)
from stockmarketdata_dwb_etl_spark.functions.text import (
    LANG_SCORE_COLUMNS,
    lang_id,
    lang_scores,
    sql_lang_id,
    sql_lang_score_columns,
    sql_tokenize,
    tokenize,
)
from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.operators.rank import global_row_number
from stockmarketdata_dwb_etl_spark.registry import query

_DEC = "decimal(38,6)"


@query(
    "q_chi_square",
    oracle=f"""
    WITH cells AS (
        SELECT event_type,
               dayofweek(ts) IN (0, 6) AS is_weekend,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, is_weekend, o,
               SUM(o) OVER (PARTITION BY event_type) AS row_tot,
               SUM(o) OVER (PARTITION BY is_weekend) AS col_tot,
               SUM(o) OVER () AS n
        FROM cells
    ),
    contrib AS (
        SELECT n,
               (o - CAST(row_tot * col_tot AS DOUBLE) / n)
               * (o - CAST(row_tot * col_tot AS DOUBLE) / n)
               / (CAST(row_tot * col_tot AS DOUBLE) / n) AS c
        FROM tot
    )
    SELECT CAST((CAST(floor(CAST(({sql_term_sum("c", 8)}) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                AS DOUBLE) AS chi2,
           CAST(((SELECT COUNT(DISTINCT event_type) FROM cells) - 1)
                * ((SELECT COUNT(DISTINCT is_weekend) FROM cells) - 1)
                AS BIGINT) AS dof,
           CAST(MAX(n) AS BIGINT) AS n
    FROM contrib
    """,
)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event_type and weekend
    occurrence: observed contingency counts (exact ints), expected counts
    row_tot·col_tot/N in identical-tree double, Σ(O−E)²/E accumulated
    through DECIMAL(38,18) so cell order cannot perturb the statistic.
    Scales: the full-data work is ONE hash-agg to the contingency cells
    (|types|×2 rows); every window after that runs over the dimension-
    sized cell table. Spark weekend = dayofweek∈(1,7) vs DuckDB (0,6) —
    same days, different numbering."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.dayofweek("ts").isin(1, 7).alias("is_weekend")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    tot = cells.select(
        "event_type",
        "is_weekend",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("is_weekend")).alias("col_tot"),
        F.sum("o").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    e = (F.col("row_tot") * F.col("col_tot")).cast("double") / F.col("n")
    contrib = tot.select(
        "n",
        "event_type",
        "is_weekend",
        ((F.col("o") - e) * (F.col("o") - e) / e).alias("c"),
    )
    dims = contrib.agg(
        F.countDistinct("event_type").alias("__r"),
        F.countDistinct("is_weekend").alias("__c"),
        # 8dp round-then-DECIMAL: a raw double→DECIMAL(38,18) cast is
        # engine-asymmetric (DuckDB converts via float scaling). The
        # cross-engine bound is 2^53 ≈ 9.0e15 (functions/exact.py), so 8dp is
        # safe while |c| < ~9e7; each cell's c is O(o) and the 2-level
        # contingency keeps cells far below that at any plausible sf.
        term_sum(F.col("c"), 8).alias("__chi2"),
        F.max("n").cast("bigint").alias("n"),
    )
    return dims.select(
        portable_round("__chi2", 6).cast("double").alias("chi2"),
        ((F.col("__r") - 1) * (F.col("__c") - 1)).cast("bigint").alias("dof"),
        "n",
    )


@query(
    "q_gini",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS revenue
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT revenue,
               row_number() OVER (ORDER BY revenue, o_custkey) AS i,
               COUNT(*) OVER () AS n
        FROM rev
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
           CAST((CAST(floor(CAST((CAST(SUM(revenue) AS DOUBLE)) AS DOUBLE) * 100.0 + 0.5) AS DOUBLE) / 100.0) AS DOUBLE)
             AS total_revenue,
           CAST((CAST(floor(CAST((2.0 * CAST(SUM(i * revenue) AS DOUBLE)
               / (MAX(n) * CAST(SUM(revenue) AS DOUBLE))
               - CAST(MAX(n) + 1 AS DOUBLE) / MAX(n)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS gini
    FROM ranked
    """,
)
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration via the rank
    formula G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n over ascending revenue. The
    global rank uses operators/rank.global_row_number (range shuffle +
    P-row offset stitch — NO full-data single-reducer window); i·x and Σx
    accumulate in exact DECIMAL so partition order is immaterial; only
    the final 3-term formula runs in double with the identical tree.
    Scales: customer-grain agg then the distributed rank — two shuffles
    on dimension-sized data."""
    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(_DEC)).alias("revenue")
    )
    ranked = global_row_number(
        rev, ["revenue", "o_custkey"], out="i", n_total="n"
    )
    agg = ranked.agg(
        F.max("n").cast("bigint").alias("n_customers"),
        F.sum("revenue").alias("__sx"),
        F.sum(F.col("i") * F.col("revenue")).alias("__six"),
    )
    n = F.col("n_customers")
    gini = (
        F.lit(2.0) * F.col("__six").cast("double") / (n * F.col("__sx").cast("double"))
        - (n + F.lit(1)).cast("double") / n
    )
    return agg.select(
        "n_customers",
        portable_round(F.col("__sx").cast("double"), 2).cast("double").alias("total_revenue"),
        portable_round(gini, 6).cast("double").alias("gini"),
    )


@query(
    "q_benford",
    oracle="""
    WITH digits AS (
        -- floor, not a bare BIGINT cast: DuckDB's double->int cast ROUNDS
        -- while Spark's truncates
        SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT)
                                AS VARCHAR),
                           1, 1) AS INTEGER) AS d
        FROM lineitem
    ),
    obs AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS n_obs FROM digits GROUP BY d
    )
    SELECT d, n_obs,
           CAST((CAST(floor(CAST((CAST(n_obs AS DOUBLE) / SUM(n_obs) OVER ()) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                AS DOUBLE) AS obs_share,
           CAST((CAST(floor(CAST((log10(1.0 + 1.0 / d)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS benford_share,
           CAST((CAST(floor(CAST((abs(CAST(n_obs AS DOUBLE) / SUM(n_obs) OVER ()
                          - log10(1.0 + 1.0 / d))) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE)
             AS abs_dev
    FROM obs ORDER BY d
    """,
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of l_extendedprice: observed share
    per leading digit vs the log10(1+1/d) expectation, with absolute
    deviation — the classic synthetic-data / fraud smoke test. The digit
    extracts through the integer-part STRING (bigint truncation then
    substr), not via log10-of-value, so no float boundary can misclassify
    a digit. One map-side digit projection + a 9-row agg; shares in
    identical-tree double over exact counts."""
    li = load_table(spark, sf_dir, "lineitem")
    digits = li.select(
        F.substring(
            F.floor("l_extendedprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("d")
    )
    obs = digits.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs")
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    share = F.col("n_obs").cast("double") / F.sum("n_obs").over(w_all)
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("d"))
    return obs.select(
        "d",
        "n_obs",
        portable_round(share, 6).cast("double").alias("obs_share"),
        portable_round(benford, 6).cast("double").alias("benford_share"),
        portable_round(F.abs(share - benford), 6).cast("double").alias("abs_dev"),
    ).orderBy("d")


@query(
    "q_ttest_welch",
    oracle="""
    WITH g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE)
                 AS sxx
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY 1
    ),
    s AS (
        SELECT
          MAX(CASE WHEN event_type = 'click' THEN n END) AS n1,
          MAX(CASE WHEN event_type = 'purchase' THEN n END) AS n2,
          MAX(CASE WHEN event_type = 'click' THEN sx END) AS sx1,
          MAX(CASE WHEN event_type = 'purchase' THEN sx END) AS sx2,
          MAX(CASE WHEN event_type = 'click' THEN sxx END) AS sxx1,
          MAX(CASE WHEN event_type = 'purchase' THEN sxx END) AS sxx2
        FROM g
    )
    SELECT n1, n2,
           CAST((CAST(floor(CAST((sx1 / n1) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS mean_click,
           CAST((CAST(floor(CAST((sx2 / n2) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS mean_purchase,
           CAST((CAST(floor(CAST(((sx1 / n1 - sx2 / n2)
               / sqrt(((sxx1 - sx1 * sx1 / n1) / (n1 - 1)) / n1
                      + ((sxx2 - sx2 * sx2 / n2) / (n2 - 1)) / n2)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS t_stat,
           CAST((CAST(floor(CAST(((((sxx1 - sx1 * sx1 / n1) / (n1 - 1)) / n1
                + ((sxx2 - sx2 * sx2 / n2) / (n2 - 1)) / n2)
               * (((sxx1 - sx1 * sx1 / n1) / (n1 - 1)) / n1
                  + ((sxx2 - sx2 * sx2 / n2) / (n2 - 1)) / n2)
               / (((sxx1 - sx1 * sx1 / n1) / (n1 - 1)) / n1
                  * (((sxx1 - sx1 * sx1 / n1) / (n1 - 1)) / n1) / (n1 - 1)
                  + ((sxx2 - sx2 * sx2 / n2) / (n2 - 1)) / n2
                    * (((sxx2 - sx2 * sx2 / n2) / (n2 - 1)) / n2) / (n2 - 1))) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS welch_dof
    FROM s
    """,
)
def q_ttest_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test comparing click vs purchase values:
    per-group moments (n, Σx, Σx²) accumulate in exact DECIMAL map-side,
    then the t statistic and Welch–Satterthwaite dof compute from the six
    scalars in identical-tree double. Scales: ONE partial+final hash-agg
    over the filtered fact table; everything after is a 1-row pivot —
    the algebraic-aggregate shape that never shuffles raw rows twice."""
    ev = load_table(spark, sf_dir, "events")
    g = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("value").cast(_DEC)).cast("double").alias("sx"),
            F.sum((F.col("value") * F.col("value")).cast(_DEC))
            .cast("double")
            .alias("sxx"),
        )
    )
    pick = lambda t, c: F.max(F.when(F.col("event_type") == t, F.col(c)))  # noqa: E731
    s = g.agg(
        pick("click", "n").alias("n1"),
        pick("purchase", "n").alias("n2"),
        pick("click", "sx").alias("sx1"),
        pick("purchase", "sx").alias("sx2"),
        pick("click", "sxx").alias("sxx1"),
        pick("purchase", "sxx").alias("sxx2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    sx1, sx2, sxx1, sxx2 = (
        F.col("sx1"),
        F.col("sx2"),
        F.col("sxx1"),
        F.col("sxx2"),
    )
    se1 = ((sxx1 - sx1 * sx1 / n1) / (n1 - F.lit(1))) / n1
    se2 = ((sxx2 - sx2 * sx2 / n2) / (n2 - F.lit(1))) / n2
    t = (sx1 / n1 - sx2 / n2) / F.sqrt(se1 + se2)
    dof = (se1 + se2) * (se1 + se2) / (
        se1 * se1 / (n1 - F.lit(1)) + se2 * se2 / (n2 - F.lit(1))
    )
    return s.select(
        "n1",
        "n2",
        portable_round(sx1 / n1, 6).cast("double").alias("mean_click"),
        portable_round(sx2 / n2, 6).cast("double").alias("mean_purchase"),
        portable_round(t, 6).cast("double").alias("t_stat"),
        portable_round(dof, 4).cast("double").alias("welch_dof"),
    )


@query(
    "q_hist2d",
    oracle="""
    WITH bounds AS (
        SELECT MIN(value) AS vmin, MAX(value) AS vmax FROM events
    ),
    binned AS (
        SELECT hour(e.ts) AS hour_of_day,
               CAST(least(floor((e.value - b.vmin)
                                / ((b.vmax - b.vmin) / 10.0)),
                          9) AS INTEGER) AS value_bin
        FROM events e CROSS JOIN bounds b
    )
    SELECT hour_of_day, value_bin, CAST(COUNT(*) AS BIGINT) AS n
    FROM binned GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_hist2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D histogram (hour-of-day × value decile-width bin) — the density
    heat map behind activity dashboards. Bin edges derive from the global
    min/max (1-row agg, broadcast cross join); the bin index computes in
    identical-tree double so edge rows bin the same on both engines, with
    the top edge clamped into bin 9. Scales: map-side binning + one
    hash-agg on a 240-cell key space — partial aggregation collapses
    everything before the shuffle."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    )
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        F.hour("ts").alias("hour_of_day"),
        F.least(
            F.floor(
                (F.col("value") - F.col("vmin"))
                / ((F.col("vmax") - F.col("vmin")) / F.lit(10.0))
            ),
            F.lit(9),
        )
        .cast("int")
        .alias("value_bin"),
    )
    return (
        binned.groupBy("hour_of_day", "value_bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("hour_of_day", "value_bin")
    )


@query(
    "q_anova_hod",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS (
        SELECT CAST(hour(bar_ts) AS BIGINT) AS hod,
               {sql_simple_return("(PARTITION BY symbol ORDER BY bar_ts)")} AS r
        FROM cbars
        QUALIFY r IS NOT NULL
    ),
    g AS (
        SELECT hod,
               CAST(COUNT(*) AS BIGINT) AS n_g,
               {sql_split_term_sum("r", 12, 8)} AS s_g,
               {sql_split_term_sum("r * r", 12, 6)} AS ss_g
        FROM rets GROUP BY hod
    ),
    tot AS (
        SELECT CAST(SUM(n_g) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k,
               {sql_term_sum("s_g", 8)} AS s,
               {sql_term_sum("ss_g", 6)} AS ss
        FROM g
    ),
    parts AS (
        SELECT t.n, t.k,
               CAST(SUM(CAST((CAST(floor(CAST((g.s_g * g.s_g / g.n_g) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                             AS DECIMAL(38,6))) AS DOUBLE)
                   - t.s * t.s / t.n AS ssb,
               t.ss
               - CAST(SUM(CAST((CAST(floor(CAST((g.s_g * g.s_g / g.n_g) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                               AS DECIMAL(38,6))) AS DOUBLE) AS ssw
        FROM g CROSS JOIN tot t
        GROUP BY t.n, t.k, t.s, t.ss
    )
    SELECT n, k,
           CAST((CAST(floor(CAST((ssb) AS DOUBLE) * 100000000.0 + 0.5) AS DOUBLE) / 100000000.0) AS DOUBLE) AS ss_between,
           CAST((CAST(floor(CAST((ssw) AS DOUBLE) * 100000000.0 + 0.5) AS DOUBLE) / 100000000.0) AS DOUBLE) AS ss_within,
           CAST(CASE WHEN ssw <= 0 OR n <= k THEN NULL
                ELSE (CAST(floor(CAST(((ssb / (k - 1)) / (ssw / (n - k))) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) END
                AS DOUBLE) AS f_stat
    FROM parts
    """,
)
def q_anova_hod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-test for an hour-of-day effect in returns — the
    seasonality significance test behind q_seasonal_decompose's
    profile: SSB = Σ s_g²/n_g − s²/n and SSW = SS − Σ s_g²/n_g from
    per-group decimal power sums; each group's s_g²/n_g term computes
    in identical-tree double, rounds to 12dp, and accumulates in
    DECIMAL (the q_cluster_purity guard — the Σ over 24 groups is
    partition-order independent), then F = (SSB/(k−1))/(SSW/(n−k)).
    Scale: one (hour-of-day) hash-agg over returns — 24-group state —
    plus two scalar passes."""
    ev = load_table(spark, sf_dir, "events")

    bars = ohlcv_bars(ev, "hour", "close")
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    rets = bars.select(
        F.hour("bar_ts").cast("bigint").alias("hod"),
        simple_return(w).alias("r"),
    ).filter(F.col("r").isNotNull())
    # r = hourly close ratio − 1 spikes to ~1e4 on this events table
    # (min close 0.01), so r and r² span ~16 orders of magnitude:
    # two-bucket split sums (split_term_sum) keep sub-1 terms at 12dp
    # while the outlier bucket rounds at 8dp/6dp — every bucket's
    # |term|·10^n stays under 2^53, the real cross-engine
    # round-trip bound (functions/exact.py). Group-level and term sums are
    # magnitude-bounded (s_g ≤ ~1e4, ss_g ≤ ~1e8, s_g²/n_g ≤ ~1e6
    # measured at sf0.1), so single-dp term_sum at 8/6/6 dp suffices.
    g = rets.groupBy("hod").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        split_term_sum(F.col("r"), 12, 8).alias("s_g"),
        split_term_sum(F.col("r") * F.col("r"), 12, 6).alias("ss_g"),
    )
    parts = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        term_sum(F.col("s_g"), 8).alias("s"),
        term_sum(F.col("ss_g"), 6).alias("ss"),
        term_sum(F.col("s_g") * F.col("s_g") / F.col("n_g"), 6).alias(
            "sum_sq_means"
        ),
    )
    ssb = F.col("sum_sq_means") - F.col("s") * F.col("s") / F.col("n")
    ssw = F.col("ss") - F.col("sum_sq_means")
    return parts.select(
        "n",
        "k",
        portable_round(ssb, 8).cast("double").alias("ss_between"),
        portable_round(ssw, 8).cast("double").alias("ss_within"),
        F.when(
            (ssw <= 0) | (F.col("n") <= F.col("k")),
            F.lit(None).cast("double"),
        )
        .otherwise(
            portable_round(
                (ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k"))),
                4,
            )
        )
        .cast("double")
        .alias("f_stat"),
    )


@query(
    "q_runs_test",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS (
        SELECT symbol, bar_ts,
               {sql_simple_return("(PARTITION BY symbol ORDER BY bar_ts)")} AS r
        FROM cbars
        QUALIFY r IS NOT NULL AND r <> 0
    ),
    signs AS (
        SELECT symbol, bar_ts,
               CASE WHEN r > 0 THEN 1 ELSE 0 END AS s,
               CASE WHEN lag(CASE WHEN r > 0 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY symbol ORDER BY bar_ts)
                        IS DISTINCT FROM
                        CASE WHEN r > 0 THEN 1 ELSE 0 END
                    THEN 1 ELSE 0 END AS chg
        FROM rets
    ),
    m AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(s) AS BIGINT) AS n_pos,
               CAST(COUNT(*) - SUM(s) AS BIGINT) AS n_neg,
               CAST(SUM(chg) AS BIGINT) AS n_runs
        FROM signs GROUP BY symbol
    )
    SELECT symbol, n, n_pos, n_neg, n_runs,
           CAST(CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
                ELSE (CAST(floor(CAST(((n_runs - (2.0 * n_pos * n_neg / n + 1.0))
                    / sqrt(2.0 * n_pos * n_neg
                           * (2.0 * n_pos * n_neg - n)
                           / (CAST(n AS DOUBLE) * n * (n - 1)))) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) END
                AS DOUBLE) AS z_stat
    FROM m ORDER BY symbol
    """,
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on return signs per symbol — the
    nonparametric randomness check (too few runs = momentum, too many
    = mean reversion, |z| > 1.96 rejects randomness): runs count via
    sign-change detection (the first observation counts as a change
    through IS DISTINCT FROM against the NULL lag — identical
    null-semantics on both engines), expectation and variance from
    exact integer counts, z in identical-tree double. Zero returns
    drop (sign undefined). One lag window + one hash-agg per
    symbol."""
    ev = load_table(spark, sf_dir, "events")

    bars = ohlcv_bars(ev, "hour", "close")
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    rets = bars.select(
        "symbol",
        "bar_ts",
        simple_return(w).alias("r"),
    ).filter(F.col("r").isNotNull() & (F.col("r") != 0))
    s = F.when(F.col("r") > 0, F.lit(1)).otherwise(F.lit(0))
    signs = rets.select(
        "symbol",
        "bar_ts",
        s.alias("s"),
    ).select(
        "symbol",
        "s",
        F.when(
            ~F.lag("s").over(w).eqNullSafe(F.col("s")), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("chg"),
    )
    m = signs.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("s")).cast("bigint").alias("n_neg"),
        F.sum("chg").cast("bigint").alias("n_runs"),
    )
    n, np_, nn, nr = (
        F.col("n"),
        F.col("n_pos"),
        F.col("n_neg"),
        F.col("n_runs"),
    )
    mu = F.lit(2.0) * np_ * nn / n + F.lit(1.0)
    var = (
        F.lit(2.0)
        * np_
        * nn
        * (F.lit(2.0) * np_ * nn - n)
        / (n.cast("double") * n * (n - 1))
    )
    return m.select(
        "symbol",
        "n",
        "n_pos",
        "n_neg",
        "n_runs",
        F.when((np_ == 0) | (nn == 0), F.lit(None).cast("double"))
        .otherwise(portable_round((nr - mu) / F.sqrt(var), 4))
        .cast("double")
        .alias("z_stat"),
    ).orderBy("symbol")


@query(
    "q_cramers_v",
    oracle=f"""
    WITH cells AS (
        SELECT event_type,
               CAST(hour(ts) // 6 AS INTEGER) AS day_sixth,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, day_sixth, o,
               SUM(o) OVER (PARTITION BY event_type) AS row_tot,
               SUM(o) OVER (PARTITION BY day_sixth) AS col_tot,
               SUM(o) OVER () AS n
        FROM cells
    ),
    contrib AS (
        SELECT n,
               (o - CAST(row_tot * col_tot AS DOUBLE) / n)
               * (o - CAST(row_tot * col_tot AS DOUBLE) / n)
               / (CAST(row_tot * col_tot AS DOUBLE) / n) AS c
        FROM tot
    ),
    agg AS (
        SELECT {sql_term_sum("c", 8)} AS chi2,
               CAST(MAX(n) AS BIGINT) AS n,
               (SELECT COUNT(DISTINCT event_type) FROM cells) AS r,
               (SELECT COUNT(DISTINCT day_sixth) FROM cells) AS k
        FROM contrib
    )
    SELECT CAST((CAST(floor(CAST((chi2) AS DOUBLE) * 1000000.0 + 0.5)
                 AS DOUBLE) / 1000000.0) AS DOUBLE) AS chi2,
           CAST((r - 1) * (k - 1) AS BIGINT) AS dof, n,
           CAST(CASE WHEN least(r, k) <= 1 THEN NULL
                ELSE (CAST(floor(CAST((
                    sqrt(chi2 / (n * (least(r, k) - 1)))
                  ) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                END AS DOUBLE) AS cramers_v
    FROM agg
    """,
)
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for event_type × time-of-day (6-hour
    bucket) association — the [0,1]-normalized companion to
    q_chi_square's raw statistic (χ² grows with N even for trivial
    association; V = √(χ²/(N·(min(r,k)−1))) is what you compare across
    tables and scales). Same exactness contract as q_chi_square:
    integer contingency, identical-tree expected counts, DECIMAL cell
    accumulation, floor-rounded scalars. Scale: one hash-agg to
    |types|×4 cells; everything after is cell-table-sized."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        (F.hour("ts").cast("int") / F.lit(6)).cast("int").alias("day_sixth"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    tot = cells.select(
        "event_type",
        "day_sixth",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("day_sixth")).alias("col_tot"),
        F.sum("o").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    e = (F.col("row_tot") * F.col("col_tot")).cast("double") / F.col("n")
    contrib = tot.select(
        "n",
        "event_type",
        "day_sixth",
        ((F.col("o") - e) * (F.col("o") - e) / e).alias("c"),
    )
    agg = contrib.agg(
        term_sum(F.col("c"), 8).alias("chi2"),
        F.max("n").cast("bigint").alias("n"),
        F.countDistinct("event_type").alias("r"),
        F.countDistinct("day_sixth").alias("k"),
    )
    v = F.sqrt(
        F.col("chi2")
        / (F.col("n") * (F.least(F.col("r"), F.col("k")) - F.lit(1)))
    )
    return agg.select(
        portable_round("chi2", 6).cast("double").alias("chi2"),
        ((F.col("r") - 1) * (F.col("k") - 1)).cast("bigint").alias("dof"),
        "n",
        F.when(F.least(F.col("r"), F.col("k")) <= 1, F.lit(None).cast("double"))
        .otherwise(portable_round(v, 6))
        .cast("double")
        .alias("cramers_v"),
    )


@query(
    "q_cohens_d",
    oracle="""
    WITH g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE)
                 AS sxx
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY 1
    ),
    s AS (
        SELECT
          MAX(CASE WHEN event_type = 'click' THEN n END) AS n1,
          MAX(CASE WHEN event_type = 'purchase' THEN n END) AS n2,
          MAX(CASE WHEN event_type = 'click' THEN sx END) AS sx1,
          MAX(CASE WHEN event_type = 'purchase' THEN sx END) AS sx2,
          MAX(CASE WHEN event_type = 'click' THEN sxx END) AS sxx1,
          MAX(CASE WHEN event_type = 'purchase' THEN sxx END) AS sxx2
        FROM g
    )
    SELECT n1, n2,
           CAST((CAST(floor(CAST(((sx1 / n1 - sx2 / n2)
               / sqrt(((sxx1 - sx1 * sx1 / n1) + (sxx2 - sx2 * sx2 / n2))
                      / (n1 + n2 - 2))) AS DOUBLE) * 1000000.0 + 0.5)
                 AS DOUBLE) / 1000000.0) AS DOUBLE) AS cohens_d,
           CAST((CAST(floor(CAST((((sx1 / n1 - sx2 / n2)
               / sqrt(((sxx1 - sx1 * sx1 / n1) + (sxx2 - sx2 * sx2 / n2))
                      / (n1 + n2 - 2)))
               * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0))) AS DOUBLE)
               * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE)
               AS hedges_g
    FROM s
    """,
)
def q_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d standardized mean difference between click and purchase
    values (pooled-SD form) plus the Hedges' g small-sample correction
    factor (1 − 3/(4N−9)) — the EFFECT SIZE q_ttest_welch's significance
    leaves unstated (at warehouse N everything is significant; d says
    whether it matters). Identical moment pipeline to the t-test:
    per-group n/Σx/Σx² in exact DECIMAL through one hash-agg, then the
    d and g scalars from six numbers in identical-tree double,
    floor-rounded. Scale: one partial+final hash-agg over the filtered
    fact table; nothing after touches rows."""
    ev = load_table(spark, sf_dir, "events")
    g = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("value").cast(_DEC)).cast("double").alias("sx"),
            F.sum((F.col("value") * F.col("value")).cast(_DEC))
            .cast("double")
            .alias("sxx"),
        )
    )
    s = g.agg(
        F.max(F.when(F.col("event_type") == "click", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("event_type") == "click", F.col("sx"))).alias("sx1"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("sx"))).alias("sx2"),
        F.max(F.when(F.col("event_type") == "click", F.col("sxx"))).alias("sxx1"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("sxx"))).alias("sxx2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    sx1, sx2, sxx1, sxx2 = (F.col(c) for c in ("sx1", "sx2", "sxx1", "sxx2"))
    pooled = F.sqrt(
        ((sxx1 - sx1 * sx1 / n1) + (sxx2 - sx2 * sx2 / n2)) / (n1 + n2 - 2)
    )
    d = (sx1 / n1 - sx2 / n2) / pooled
    corr = F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * (n1 + n2) - F.lit(9.0))
    return s.select(
        "n1",
        "n2",
        portable_round(d, 6).cast("double").alias("cohens_d"),
        portable_round(d * corr, 6).cast("double").alias("hedges_g"),
    )


@query(
    "q_mcnemar",
    oracle=f"""
    WITH scored AS (
        SELECT lang AS actual,
               {sql_lang_score_columns(sql_tokenize("text"))}
        FROM documents
    ),
    paired AS (
        SELECT ({sql_lang_id(LANG_SCORE_COLUMNS)}) = actual AS a_right,
               actual = 'en' AS b_right
        FROM scored
    ),
    cnt AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) FILTER (WHERE NOT a_right AND b_right)
                    AS BIGINT) AS b,
               CAST(COUNT(*) FILTER (WHERE a_right AND NOT b_right)
                    AS BIGINT) AS c
        FROM paired
    )
    SELECT n, b, c,
           CAST(CASE WHEN b + c = 0 THEN NULL
                ELSE (CAST(floor(CAST((
                    CAST((b - c) * (b - c) AS DOUBLE) / (b + c)
                  ) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                END AS DOUBLE) AS mcnemar_chi2,
           CAST(CASE WHEN b + c = 0 THEN NULL
                ELSE (CAST(floor(CAST((
                    CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)
                    / (b + c)
                  ) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                END AS DOUBLE) AS mcnemar_cc_chi2
    FROM cnt
    """,
)
def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test comparing the lang-ID heuristic against the
    majority-class baseline (always predict 'en') ON THE SAME documents —
    the right test for "is classifier A actually better than B" (unpaired
    accuracy comparison wastes the pairing; McNemar reads only the
    discordant cells). b = baseline right where the model is wrong,
    c = model right where the baseline is wrong; χ² = (b−c)²/(b+c),
    with the continuity-corrected (|b−c|−1)²/(b+c) variant beside it.
    Counting is exact integer; the two statistics are single divisions
    of integers, floor-rounded. Scale: one scan, one count-agg — the
    discordant-cell counts are the only state."""
    docs = load_table(spark, sf_dir, "documents")
    scores = lang_scores(tokenize(F.col("text")))
    predicted = lang_id(scores)
    paired = docs.select(
        (predicted == F.col("lang")).alias("a_right"),
        (F.col("lang") == "en").alias("b_right"),
    )
    cnt = paired.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(F.when(~F.col("a_right") & F.col("b_right"), 1))
        .cast("bigint")
        .alias("b"),
        F.count(F.when(F.col("a_right") & ~F.col("b_right"), 1))
        .cast("bigint")
        .alias("c"),
    )
    bc = F.col("b") + F.col("c")
    diff = F.col("b") - F.col("c")
    cc = F.abs(diff) - 1
    return cnt.select(
        "n",
        "b",
        "c",
        F.when(bc == 0, F.lit(None).cast("double"))
        .otherwise(portable_round((diff * diff).cast("double") / bc, 6))
        .cast("double")
        .alias("mcnemar_chi2"),
        F.when(bc == 0, F.lit(None).cast("double"))
        .otherwise(portable_round((cc * cc).cast("double") / bc, 6))
        .cast("double")
        .alias("mcnemar_cc_chi2"),
    )
