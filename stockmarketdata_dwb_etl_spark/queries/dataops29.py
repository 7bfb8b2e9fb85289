"""Round-12 operator batch 11: survival hazard, inequality indices, and
a rank-based scale test.

- Nelson–Aalen cumulative hazard: Σ d_t/n_t over event times — the
  hazard-scale companion to q_survival_churn's Kaplan–Meier product
  (additive where KM is multiplicative, so it decomposes per period).
- Atkinson index (ε=1): 1 − geometric-mean/arithmetic-mean of order
  values — the welfare-theoretic inequality index with an explicit
  aversion parameter.
- Theil index: Σ (x/X)·ln(x/μ) — the entropy-based inequality measure
  that DECOMPOSES exactly into between-group + within-group terms
  (reported per market segment), which Gini cannot.
- Ansari–Bradley test: the rank-from-both-ends dispersion test between
  two samples — EXACT integer scores, the scale-difference companion
  to q_mann_whitney's location shift.

Reference scope: the reference's BigQuery tier is the analytics surface
these extend (dump_bigq.py:135-149 delegates all querying).

Determinism: event/rank counts are exact integers; log-value sums route
through the two-bucket split sum; every statistic is one identical
double tree under a portable floor round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    split_term_sum,
    sql_split_term_sum,
)
from stockmarketdata_dwb_etl_spark.registry import query

# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard
# ---------------------------------------------------------------------------


@query(
    "q_nelson_aalen",
    oracle="""
    WITH span AS (
        SELECT c_custkey,
               MIN(CAST(o_orderdate AS DATE)) AS first_d,
               MAX(CAST(o_orderdate AS DATE)) AS last_d
        FROM orders JOIN customer ON c_custkey = o_custkey
        GROUP BY c_custkey
    ),
    life AS (
        SELECT CAST((year(last_d) * 12 + month(last_d))
               - (year(first_d) * 12 + month(first_d)) AS BIGINT)
                   AS tenure
        FROM span
    ),
    d AS (
        SELECT tenure AS t, CAST(COUNT(*) AS BIGINT) AS d_t
        FROM life GROUP BY tenure
    ),
    r AS (
        SELECT t, d_t,
               CAST(SUM(d_t) OVER (ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_t
        FROM d
    )
    SELECT t AS tenure_months, n_t AS n_at_risk, d_t AS n_events,
           CAST((CAST(floor(CAST((SUM(CAST(d_t AS DOUBLE) / n_t)
                OVER (ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                AS DOUBLE) AS cum_hazard
    FROM r ORDER BY t
    """,
)
def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative hazard over customer tenures (first to
    last order, in months; every observed tenure end counts as the
    event — the q_survival_churn cohort construction): H(t) =
    Σ_{s≤t} d_s/n_s with the at-risk set from a reverse running sum —
    the additive hazard curve whose per-period increments ARE the
    hazard rates (Kaplan–Meier's product form hides them). d/n ratios
    are exact-integer quotients summed over a calendar-bounded row
    set (one double tree — no cross-engine reduction risk at the
    tenure grain). Scales: one per-customer agg + one tenure-grain agg
    + two windows over the tenure-bounded table."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    span = (
        o.join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_custkey")
        .agg(
            F.min("o_orderdate").alias("first_d"),
            F.max("o_orderdate").alias("last_d"),
        )
    )
    # exact month-index span (the q_survival_churn construction) —
    # engine-identical integer arithmetic, no fractional-month rules
    life = span.select(
        (
            (F.year("last_d") * 12 + F.month("last_d"))
            - (F.year("first_d") * 12 + F.month("first_d"))
        )
        .cast("bigint")
        .alias("tenure")
    )
    d = life.groupBy(F.col("tenure").alias("t")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d_t")
    )
    wrev = (
        Window.orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = d.select(
        "t", "d_t", F.sum("d_t").over(wrev).cast("bigint").alias("n_t")
    )
    wfwd = (
        Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return r.select(
        F.col("t").alias("tenure_months"),
        F.col("n_t").alias("n_at_risk"),
        F.col("d_t").alias("n_events"),
        portable_round(
            F.sum(F.col("d_t").cast("double") / F.col("n_t")).over(wfwd), 6
        )
        .cast("double")
        .alias("cum_hazard"),
    ).orderBy("tenure_months")


# ---------------------------------------------------------------------------
# Atkinson index (epsilon = 1)
# ---------------------------------------------------------------------------


@query(
    "q_atkinson_index",
    oracle=f"""
    WITH x AS (
        SELECT o_totalprice AS v FROM orders WHERE o_totalprice > 0
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("v", 12, 2)} AS sv,
               {sql_split_term_sum("ln(v)", 12, 8)} AS slv
        FROM x
    )
    SELECT n,
           CAST((CAST(floor(CAST((sv / n) AS DOUBLE) * 10000.0 + 0.5)
                AS DOUBLE) / 10000.0) AS DOUBLE) AS mean_v,
           CAST((CAST(floor(CAST((exp(slv / n)) AS DOUBLE) * 10000.0
                + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS geomean_v,
           CAST((CAST(floor(CAST((1.0 - exp(slv / n) / (sv / n))
                AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                AS DOUBLE) AS atkinson_e1
    FROM s
    """,
)
def q_atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality index at aversion ε=1 over order values:
    A₁ = 1 − geometric mean / arithmetic mean — the welfare
    interpretation is direct (the fraction of total order value
    society could discard and be equally well off under log utility),
    the axiomatic alternative to q_gini's rank-geometry. Value and
    log-value sums are split sums; the exp/ratio chain is one double
    tree. Scales: single map + 1-row agg — streams the fact table
    once."""
    o = load_table(spark, sf_dir, "orders")
    x = o.filter(F.col("o_totalprice") > 0).select(
        F.col("o_totalprice").alias("v")
    )
    s = x.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        split_term_sum(F.col("v"), 12, 2).alias("sv"),
        split_term_sum(F.log(F.col("v")), 12, 8).alias("slv"),
    )
    mean_v = F.col("sv") / F.col("n")
    geo = F.exp(F.col("slv") / F.col("n"))
    return s.select(
        "n",
        portable_round(mean_v, 4).cast("double").alias("mean_v"),
        portable_round(geo, 4).cast("double").alias("geomean_v"),
        portable_round(F.lit(1.0) - geo / mean_v, 6)
        .cast("double")
        .alias("atkinson_e1"),
    )


# ---------------------------------------------------------------------------
# Theil index with exact between/within decomposition
# ---------------------------------------------------------------------------


@query(
    "q_theil_index",
    oracle=f"""
    WITH x AS (
        SELECT c.c_mktsegment AS seg, o.o_totalprice AS v
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE o.o_totalprice > 0
    ),
    g AS (
        SELECT seg,
               CAST(COUNT(*) AS BIGINT) AS n_g,
               {sql_split_term_sum("v", 12, 2)} AS sv_g,
               {sql_split_term_sum("v * ln(v)", 12, 0)} AS svl_g
        FROM x GROUP BY seg
    ),
    tot AS (
        SELECT CAST(SUM(n_g) AS BIGINT) AS n,
               CAST(SUM(sv_g) AS DOUBLE) AS sv,
               CAST(SUM(svl_g) AS DOUBLE) AS svl
        FROM g
    )
    SELECT CAST((CAST(floor(CAST((t.svl / t.sv - ln(t.sv / t.n))
                AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                AS DOUBLE) AS theil_total,
           CAST((CAST(floor(CAST((SUM((g.sv_g / t.sv)
                * ln((g.sv_g / g.n_g) / (t.sv / t.n)))) AS DOUBLE)
                * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE)
               AS theil_between,
           CAST((CAST(floor(CAST((SUM((g.sv_g / t.sv)
                * (g.svl_g / g.sv_g - ln(g.sv_g / g.n_g)))) AS DOUBLE)
                * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE)
               AS theil_within
    FROM g CROSS JOIN tot t
    GROUP BY t.svl, t.sv, t.n
    """,
)
def q_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of order values with its EXACT
    decomposition by market segment: T = Σ(x/X)ln(x/μ) =
    T_between + Σ s_g·T_g — the entropy-based index whose
    between-group share answers "how much inequality do the segments
    themselves explain?" (Gini has no such exact split). Per-group
    Σv and Σv·ln(v) are split sums ((12,0) for the v·ln v products,
    which reach ~8e6); the decomposition identity is pure double
    algebra over the 5-group table. Scales: one broadcast-dim join +
    one segment hash-agg + a 1-row total broadcast."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    x = (
        o.join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_totalprice") > 0)
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_totalprice").alias("v"),
        )
    )
    g = x.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        split_term_sum(F.col("v"), 12, 2).alias("sv_g"),
        split_term_sum(F.col("v") * F.log(F.col("v")), 12, 0).alias("svl_g"),
    )
    tot = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("sv_g").alias("sv"),
        F.sum("svl_g").alias("svl"),
    )
    j = g.crossJoin(F.broadcast(tot))
    total = F.first("svl") / F.first("sv") - F.log(
        F.first("sv") / F.first("n")
    )
    between = F.sum(
        (F.col("sv_g") / F.col("sv"))
        * F.log((F.col("sv_g") / F.col("n_g")) / (F.col("sv") / F.col("n")))
    )
    within = F.sum(
        (F.col("sv_g") / F.col("sv"))
        * (
            F.col("svl_g") / F.col("sv_g")
            - F.log(F.col("sv_g") / F.col("n_g"))
        )
    )
    return j.groupBy("svl", "sv", "n").agg(
        portable_round(total, 6).cast("double").alias("theil_total"),
        portable_round(between, 6).cast("double").alias("theil_between"),
        portable_round(within, 6).cast("double").alias("theil_within"),
    ).select("theil_total", "theil_between", "theil_within")


# ---------------------------------------------------------------------------
# Ansari-Bradley scale test
# ---------------------------------------------------------------------------


@query(
    "q_ansari_bradley",
    oracle="""
    WITH x AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS grp,
               o_totalprice AS v,
               o_orderkey AS tb
        FROM orders
        WHERE o_orderstatus IN ('F', 'O')
    ),
    ranked AS (
        SELECT grp,
               row_number() OVER (ORDER BY v, tb) AS rk,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM x
    ),
    scored AS (
        SELECT grp, n, least(rk, n + 1 - rk) AS a
        FROM ranked
    ),
    agg AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS m,
               CAST(SUM(CASE WHEN grp = 1 THEN a ELSE 0 END) AS BIGINT)
                   AS ab
        FROM scored
    ),
    mo AS (
        SELECT n, m, ab,
               CASE WHEN n % 2 = 0
                    THEN CAST(m AS DOUBLE) * (n + 2) / 4.0
                    ELSE CAST(m AS DOUBLE) * (n + 1) * (n + 1)
                         / (4.0 * n) END AS mean_ab,
               CASE WHEN n % 2 = 0
                    THEN CAST(m AS DOUBLE) * (n - m)
                         * CAST(n + 2 AS DOUBLE) * (n - 2)
                         / (48.0 * (n - 1))
                    ELSE CAST(m AS DOUBLE) * (n - m)
                         * CAST(n + 1 AS DOUBLE)
                         * (3.0 + CAST(n AS DOUBLE) * n)
                         / (48.0 * CAST(n AS DOUBLE) * n) END AS var_ab
        FROM agg
    )
    SELECT n AS n_total, m AS n_group1, ab AS ab_stat,
           CAST((CAST(floor(CAST(((ab - mean_ab) / sqrt(var_ab))
                AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0)
                AS DOUBLE) AS z_approx
    FROM mo
    """,
)
def q_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari–Bradley two-sample scale test: order values of finalized
    vs open orders ranked jointly with order-key tie-break, scored
    from BOTH ENDS a = min(rank, N+1−rank) — small scores at the
    extremes, so a group with larger dispersion collects a SMALLER
    score sum. AB = Σ a over group 1, normal approximation z with the
    parity-exact mean m·(N+2−(N mod 2))/4 and the textbook
    even/odd-N variance. Ranks and scores are exact integers
    end-to-end; the z is one double tree. The dispersion companion to
    q_mann_whitney (location) and q_levene_bf (variance-of-means).
    Scales: one global rank (operators/rank.py at corpus scale) + one
    1-row agg."""
    o = load_table(spark, sf_dir, "orders")
    x = o.filter(F.col("o_orderstatus").isin("F", "O")).select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("grp"),
        F.col("o_totalprice").alias("v"),
        F.col("o_orderkey").alias("tb"),
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = x.select(
        "grp",
        F.row_number().over(Window.orderBy("v", "tb")).alias("rk"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
    )
    scored = ranked.select(
        "grp",
        "n",
        F.least(F.col("rk"), F.col("n") + 1 - F.col("rk")).alias("a"),
    )
    agg = scored.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("m"),
        F.sum(F.when(F.col("grp") == 1, F.col("a")).otherwise(0))
        .cast("bigint")
        .alias("ab"),
    )
    n, m, ab = F.col("n"), F.col("m"), F.col("ab")
    even = n % 2 == 0
    mean_ab = F.when(
        even, m.cast("double") * (n + 2) / F.lit(4.0)
    ).otherwise(
        m.cast("double") * (n + 1) * (n + 1) / (F.lit(4.0) * n)
    )
    var_ab = F.when(
        even,
        m.cast("double")
        * (n - m)
        * (n + 2).cast("double")
        * (n - 2)
        / (F.lit(48.0) * (n - 1)),
    ).otherwise(
        m.cast("double")
        * (n - m)
        * (n + 1).cast("double")
        * (F.lit(3.0) + n.cast("double") * n)
        / (F.lit(48.0) * n.cast("double") * n)
    )
    return agg.select(
        n.alias("n_total"),
        m.alias("n_group1"),
        ab.alias("ab_stat"),
        portable_round((ab - mean_ab) / F.sqrt(var_ab), 4)
        .cast("double")
        .alias("z_approx"),
    )
