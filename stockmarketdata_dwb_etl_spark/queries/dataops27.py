"""Round-12 operator batch 9: quasi-experimental causal estimators and
sequence-randomness diagnostics.

- Sharp regression discontinuity: local linear fits on both sides of a
  known cutoff, effect = jump at the threshold — the design that
  identifies causality from a deterministic assignment rule (beside
  q_diff_in_diff's parallel-trends and q_ipw_ate's unconfoundedness).
- Wald IV estimator: reduced-form / first-stage ratio for a binary
  instrument — the simplest instrumental-variables estimate, with both
  stage effects reported.
- Cochran–Armitage trend test: is a binary rate monotone across ORDERED
  groups — the dose-response test a plain chi-square (q_chi_square)
  throws away by ignoring order.
- Turning-points test: count of local extrema in each symbol's close
  series against the 2(n−2)/3 expectation under exchangeability — the
  cheapest whole-series randomness screen (beside q_runs_test's
  sign-based one).

Reference scope: the reference's BigQuery tier is the analytics surface
these extend (dump_bigq.py:135-149 delegates all querying).

Determinism: counts are exact integers; moment sums route through the
two-bucket split sum at range-matched scales; statistics are identical
double trees rounded with the portable floor form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.bars import ohlcv_bars, sql_ohlcv_bars
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    split_term_sum,
    sql_split_term_sum,
)
from stockmarketdata_dwb_etl_spark.registry import query

# ---------------------------------------------------------------------------
# Sharp regression discontinuity
# ---------------------------------------------------------------------------

# assignment cutoff on the running variable (account balance) and the
# local bandwidth around it — identical literals on both engines
_RDD_CUTOFF = 5000.0
_RDD_BW = 4000.0

# one OLS-moment block per side: y = o_totalprice, x = centered running
# variable. |x| <= 4000 -> (12,4) bound 9e11; y <= ~6e5 -> (12,2);
# x*y <= 2.4e9 -> (12,2) bound 9e13; x*x <= 1.6e7 -> (12,2).
_RDD_MOMS = """
               CAST(COUNT(*) AS BIGINT) AS n,
               {sx} AS sx,
               {sy} AS sy,
               {sxy} AS sxy,
               {sxx} AS sxx
"""


@query(
    "q_rdd_sharp",
    oracle=f"""
    WITH obs AS (
        SELECT c.c_acctbal - {_RDD_CUTOFF} AS x,
               o.o_totalprice AS y,
               c.c_acctbal >= {_RDD_CUTOFF} AS treated
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE abs(c.c_acctbal - {_RDD_CUTOFF}) <= {_RDD_BW}
    ),
    sides AS (
        SELECT treated,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("x", 12, 4)} AS sx,
               {sql_split_term_sum("y", 12, 2)} AS sy,
               {sql_split_term_sum("x * y", 12, 2)} AS sxy,
               {sql_split_term_sum("x * x", 12, 2)} AS sxx
        FROM obs GROUP BY treated
    ),
    fits AS (
        SELECT treated, n,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
               (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                   AS a
        FROM sides
        WHERE n >= 3 AND n * sxx - sx * sx > 0
    )
    SELECT CAST(MAX(CASE WHEN treated THEN n END) AS BIGINT) AS n_right,
           CAST(MAX(CASE WHEN NOT treated THEN n END) AS BIGINT)
               AS n_left,
           CAST((CAST(floor(CAST((MAX(CASE WHEN treated THEN a END))
                AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0)
                AS DOUBLE) AS limit_right,
           CAST((CAST(floor(CAST((MAX(CASE WHEN NOT treated THEN a END))
                AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0)
                AS DOUBLE) AS limit_left,
           CAST((CAST(floor(CAST((MAX(CASE WHEN treated THEN a END)
                - MAX(CASE WHEN NOT treated THEN a END))
                AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0)
                AS DOUBLE) AS rdd_effect
    FROM fits
    """,
)
def q_rdd_sharp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression-discontinuity estimate of the account-balance
    threshold's effect on order value: within a ±4000 bandwidth of the
    5000 cutoff, fit one local linear regression per side on the
    CENTERED running variable (so each intercept IS the boundary
    limit), effect = right-limit − left-limit — the quasi-experimental
    design for deterministic assignment rules. Both side fits come
    from one grouped moment pass (split sums at range-matched scales);
    the intercept algebra is an identical double tree. Scales: one
    fact⨝dim broadcast join with the bandwidth filter PUSHED into the
    scan, one 2-group hash-agg, a 2-row pivot."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    obs = (
        o.join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .filter(
            F.abs(F.col("c_acctbal") - F.lit(_RDD_CUTOFF)) <= F.lit(_RDD_BW)
        )
        .select(
            (F.col("c_acctbal") - F.lit(_RDD_CUTOFF)).alias("x"),
            F.col("o_totalprice").alias("y"),
            (F.col("c_acctbal") >= F.lit(_RDD_CUTOFF)).alias("treated"),
        )
    )
    sides = obs.groupBy("treated").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        split_term_sum(F.col("x"), 12, 4).alias("sx"),
        split_term_sum(F.col("y"), 12, 2).alias("sy"),
        split_term_sum(F.col("x") * F.col("y"), 12, 2).alias("sxy"),
        split_term_sum(F.col("x") * F.col("x"), 12, 2).alias("sxx"),
    )
    n = F.col("n")
    det = n * F.col("sxx") - F.col("sx") * F.col("sx")
    b = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / det
    a = (F.col("sy") - b * F.col("sx")) / n
    fits = (
        sides.filter((n >= 3) & (det > 0))
        .select("treated", "n", a.alias("a"))
    )
    right = F.max(F.when(F.col("treated"), F.col("a")))
    left = F.max(F.when(~F.col("treated"), F.col("a")))
    return fits.agg(
        F.max(F.when(F.col("treated"), F.col("n")))
        .cast("bigint")
        .alias("n_right"),
        F.max(F.when(~F.col("treated"), F.col("n")))
        .cast("bigint")
        .alias("n_left"),
        portable_round(right, 4).cast("double").alias("limit_right"),
        portable_round(left, 4).cast("double").alias("limit_left"),
        portable_round(right - left, 4).cast("double").alias("rdd_effect"),
    )


# ---------------------------------------------------------------------------
# Wald IV estimator
# ---------------------------------------------------------------------------


@query(
    "q_iv_wald",
    oracle=f"""
    WITH obs AS (
        SELECT CASE WHEN c.c_nationkey % 2 = 0 THEN 1 ELSE 0 END AS z,
               CASE WHEN c.c_acctbal > 0 THEN 1 ELSE 0 END AS d,
               o.o_totalprice AS y
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    g AS (
        SELECT z,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(d) AS BIGINT) AS sd,
               {sql_split_term_sum("y", 12, 2)} AS sy
        FROM obs GROUP BY z
    ),
    w AS (
        SELECT MAX(CASE WHEN z = 1 THEN CAST(sd AS DOUBLE) / n END)
               - MAX(CASE WHEN z = 0 THEN CAST(sd AS DOUBLE) / n END)
                   AS first_stage,
               MAX(CASE WHEN z = 1 THEN sy / n END)
               - MAX(CASE WHEN z = 0 THEN sy / n END) AS reduced_form,
               CAST(SUM(n) AS BIGINT) AS n_total
        FROM g
    )
    SELECT n_total,
           CAST((CAST(floor(CAST((first_stage) AS DOUBLE) * 1000000.0
                + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS first_stage,
           CAST((CAST(floor(CAST((reduced_form) AS DOUBLE) * 10000.0
                + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS reduced_form,
           CAST(CASE WHEN abs(first_stage) < 1e-9 THEN NULL
                ELSE (CAST(floor(CAST((reduced_form / first_stage)
                      AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0)
                END AS DOUBLE) AS late_wald
    FROM w
    """,
)
def q_iv_wald(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald instrumental-variables estimator with a binary instrument
    (even nation key), binary treatment (positive account balance) and
    order value as the outcome: LATE = (E[y|z=1] − E[y|z=0]) /
    (E[d|z=1] − E[d|z=0]) — the reduced-form-over-first-stage ratio
    that rescues causal inference when treatment is self-selected but
    the instrument is as-good-as-random. Both stages are reported so a
    weak first stage is visible; a near-zero first stage yields NULL.
    Exact integer treatment counts; outcome sums are split sums.
    Scales: one broadcast join + one 2-group hash-agg."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    obs = (
        o.join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            F.when(F.col("c_nationkey") % 2 == 0, 1).otherwise(0).alias("z"),
            F.when(F.col("c_acctbal") > 0, 1).otherwise(0).alias("d"),
            F.col("o_totalprice").alias("y"),
        )
    )
    g = obs.groupBy("z").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("sd"),
        split_term_sum(F.col("y"), 12, 2).alias("sy"),
    )
    d1 = F.max(F.when(F.col("z") == 1, F.col("sd").cast("double") / F.col("n")))
    d0 = F.max(F.when(F.col("z") == 0, F.col("sd").cast("double") / F.col("n")))
    y1 = F.max(F.when(F.col("z") == 1, F.col("sy") / F.col("n")))
    y0 = F.max(F.when(F.col("z") == 0, F.col("sy") / F.col("n")))
    w = g.agg(
        (d1 - d0).alias("first_stage"),
        (y1 - y0).alias("reduced_form"),
        F.sum("n").cast("bigint").alias("n_total"),
    )
    return w.select(
        "n_total",
        portable_round(F.col("first_stage"), 6)
        .cast("double")
        .alias("first_stage"),
        portable_round(F.col("reduced_form"), 4)
        .cast("double")
        .alias("reduced_form"),
        F.when(
            F.abs(F.col("first_stage")) < 1e-9, F.lit(None).cast("double")
        )
        .otherwise(
            portable_round(F.col("reduced_form") / F.col("first_stage"), 4)
        )
        .cast("double")
        .alias("late_wald"),
    )


# ---------------------------------------------------------------------------
# Cochran-Armitage trend test
# ---------------------------------------------------------------------------


@query(
    "q_cochran_armitage",
    oracle="""
    WITH g AS (
        SELECT CAST(o_orderpriority AS VARCHAR) AS grp,
               CAST(SUBSTRING(o_orderpriority, 1, 1) AS BIGINT) AS score,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS hit
        FROM orders
    ),
    cells AS (
        SELECT grp, CAST(MAX(score) AS BIGINT) AS w,
               CAST(SUM(hit) AS BIGINT) AS r,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM g GROUP BY grp
    ),
    tot AS (
        SELECT CAST(SUM(r) AS BIGINT) AS tr, CAST(SUM(n) AS BIGINT) AS tn
        FROM cells
    ),
    stat AS (
        SELECT
            CAST(SUM(CAST(w * r AS DOUBLE)) AS DOUBLE)
            - CAST(t.tr AS DOUBLE) / t.tn
              * CAST(SUM(CAST(w * n AS DOUBLE)) AS DOUBLE) AS num,
            (CAST(t.tr AS DOUBLE) / t.tn)
            * (1.0 - CAST(t.tr AS DOUBLE) / t.tn)
            * (CAST(SUM(CAST(w * w * n AS DOUBLE)) AS DOUBLE)
               - CAST(SUM(CAST(w * n AS DOUBLE)) AS DOUBLE)
                 * CAST(SUM(CAST(w * n AS DOUBLE)) AS DOUBLE) / t.tn)
                AS var,
            CAST(MAX(t.tn) AS BIGINT) AS n_total,
            CAST(COUNT(*) AS BIGINT) AS n_groups
        FROM cells CROSS JOIN tot t
        GROUP BY t.tr, t.tn
    )
    SELECT n_total, n_groups,
           CAST(CASE WHEN var <= 0 THEN NULL
                ELSE (CAST(floor(CAST((num / sqrt(var)) AS DOUBLE)
                      * 10000.0 + 0.5) AS DOUBLE) / 10000.0) END
                AS DOUBLE) AS z_trend
    FROM stat
    """,
)
def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage test for a monotone trend in the
    order-finalization rate across the ORDERED priority groups
    (1-URGENT..5-LOW, scored by their leading digit): z = Σw·(r −
    p̂·n) / √(p̂(1−p̂)(Σw²n − (Σwn)²/N)) — the dose-response test that
    a plain chi-square discards by treating groups as unordered. Every
    input to the statistic is an exact integer count (w·r, w·n, w²·n
    all integer products), so the double tree only starts at the final
    ratio. Scales: one hash-agg to the 5 priority cells + a 1-row
    total broadcast."""
    o = load_table(spark, sf_dir, "orders")
    g = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("score"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("hit"),
    )
    cells = g.groupBy("grp").agg(
        F.max("score").cast("bigint").alias("w"),
        F.sum("hit").cast("bigint").alias("r"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    tot = cells.agg(
        F.sum("r").cast("bigint").alias("tr"),
        F.sum("n").cast("bigint").alias("tn"),
    )
    j = cells.crossJoin(F.broadcast(tot))
    p = F.col("tr").cast("double") / F.col("tn")
    stat = j.groupBy("tr", "tn").agg(
        (
            F.sum((F.col("w") * F.col("r")).cast("double"))
            - (F.first("tr").cast("double") / F.first("tn"))
            * F.sum((F.col("w") * F.col("n")).cast("double"))
        ).alias("num"),
        (
            (F.first("tr").cast("double") / F.first("tn"))
            * (
                F.lit(1.0)
                - F.first("tr").cast("double") / F.first("tn")
            )
            * (
                F.sum((F.col("w") * F.col("w") * F.col("n")).cast("double"))
                - F.sum((F.col("w") * F.col("n")).cast("double"))
                * F.sum((F.col("w") * F.col("n")).cast("double"))
                / F.first("tn")
            )
        ).alias("var"),
        F.max("tn").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
    )
    return stat.select(
        "n_total",
        "n_groups",
        F.when(F.col("var") <= 0, F.lit(None).cast("double"))
        .otherwise(portable_round(F.col("num") / F.sqrt(F.col("var")), 4))
        .cast("double")
        .alias("z_trend"),
    )


# ---------------------------------------------------------------------------
# Turning-points randomness test
# ---------------------------------------------------------------------------


@query(
    "q_turning_points",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    tri AS (
        SELECT symbol, close,
               lag(close) OVER w AS pc,
               lead(close) OVER w AS nc
        FROM cbars
        WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts)
        QUALIFY pc IS NOT NULL AND nc IS NOT NULL
    ),
    tp AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) + 2 AS n,
               CAST(SUM(CASE WHEN (close > pc AND close > nc)
                              OR (close < pc AND close < nc)
                        THEN 1 ELSE 0 END) AS BIGINT) AS t
        FROM tri GROUP BY symbol
    )
    SELECT symbol, n, t,
           CAST((CAST(floor(CAST((2.0 * (n - 2) / 3.0) AS DOUBLE)
                * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE)
               AS expected_t,
           CAST(CASE WHEN n < 4 THEN NULL
                ELSE (CAST(floor(CAST(((t - 2.0 * (n - 2) / 3.0)
                      / sqrt((16.0 * n - 29.0) / 90.0)) AS DOUBLE)
                      * 10000.0 + 0.5) AS DOUBLE) / 10000.0) END
                AS DOUBLE) AS z_score
    FROM tp ORDER BY symbol
    """,
)
def q_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-points randomness test per symbol: count strict local
    extrema of the hourly close series and compare against the
    E[T] = 2(n−2)/3, Var[T] = (16n−29)/90 null of an exchangeable
    sequence — too few turns means trending, too many means
    oscillation faster than chance (the shape-based companion to
    q_runs_test's sign-based screen). Strict inequalities make ties
    non-turns identically on both engines; counts are exact integers;
    the z is one double tree. Scales: one bar hash-agg + one
    lag/lead window + one per-symbol agg — single shuffle."""
    ev = load_table(spark, sf_dir, "events")

    bars = ohlcv_bars(ev, "hour", "close")
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    tri = bars.select(
        "symbol",
        "close",
        F.lag("close").over(w).alias("pc"),
        F.lead("close").over(w).alias("nc"),
    ).filter(F.col("pc").isNotNull() & F.col("nc").isNotNull())
    is_turn = (
        (F.col("close") > F.col("pc")) & (F.col("close") > F.col("nc"))
    ) | ((F.col("close") < F.col("pc")) & (F.col("close") < F.col("nc")))
    tp = tri.groupBy("symbol").agg(
        (F.count(F.lit(1)) + 2).cast("bigint").alias("n"),
        F.sum(F.when(is_turn, 1).otherwise(0)).cast("bigint").alias("t"),
    )
    n = F.col("n")
    et = F.lit(2.0) * (n - 2) / F.lit(3.0)
    vt = (F.lit(16.0) * n - F.lit(29.0)) / F.lit(90.0)
    return tp.select(
        "symbol",
        "n",
        "t",
        portable_round(et, 4).cast("double").alias("expected_t"),
        F.when(n < 4, F.lit(None).cast("double"))
        .otherwise(portable_round((F.col("t") - et) / F.sqrt(vt), 4))
        .cast("double")
        .alias("z_score"),
    ).orderBy("symbol")
