"""Experimentation and calibration operators, part 16 (round 10,
batch 7).

- CUPED (Controlled-experiment Using Pre-Experiment Data; Deng et al.
  2013): the industry-standard variance-reduction adjustment — regress
  the experiment metric on a pre-period covariate (θ = cov(x,y)/var(x))
  and compare θ-adjusted means; same point estimate in expectation,
  tighter CI, more experiments per quarter. The operator reports the
  adjusted lift AND the variance-reduction factor the covariate bought.
- Raking / iterative proportional fitting (Deming & Stephan 1940): make
  a biased sample's weights reproduce known population margins on two
  dimensions — survey calibration, and equally the dataset-reweighting
  step ML pipelines run to match a target demographic mix. Two full
  IPF rounds unrolled (row-margin scale, then column-margin scale,
  twice) — deterministic, and the residual margin error after round 2
  is part of the report.

Determinism: all counts exact integers; covariate/metric moment sums
round-then-cast into exact DECIMAL (2dp products — per-customer spend
sums reach ~5e6, so 2dp keeps |term|·10^n under the int64 floor bound);
IPF scale factors divide margin targets by term_sum/sql_term_sum
(8dp-round-then-DECIMAL) cell-weight sums so every SUM(wgt * n_s) is
accumulation-order independent across engines; the per-cell wgt * f
updates are then exact products of identical doubles; emitted doubles
are portable_round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    sql_portable_round,
    sql_term_sum,
    term_sum,
)
from stockmarketdata_dwb_etl_spark.registry import query

_CUPED_SPLIT = "1998-01-01"


@query(
    "q_cuped_adjustment",
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey AS ck,
               {sql_term_sum(
                   "CASE WHEN o_orderdate < TIMESTAMP '" + _CUPED_SPLIT
                   + "' THEN o_totalprice ELSE 0.0 END", 6)} AS x,
               {sql_term_sum(
                   "CASE WHEN o_orderdate >= TIMESTAMP '" + _CUPED_SPLIT
                   + "' THEN o_totalprice ELSE 0.0 END", 6)} AS y
        FROM orders GROUP BY o_custkey
    ),
    pop AS (
        SELECT c.c_custkey AS ck,
               CASE WHEN c.c_custkey % 2 = 1 THEN 1 ELSE 0 END AS t,
               COALESCE(p.x, 0.0) AS x, COALESCE(p.y, 0.0) AS y
        FROM customer c LEFT JOIN per_cust p ON p.ck = c.c_custkey
    ),
    mo AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(t) AS BIGINT) AS nt,
               {sql_term_sum("x", 6)} AS sx, {sql_term_sum("y", 6)} AS sy,
               {sql_term_sum("x * x", 2)} AS sxx, {sql_term_sum("x * y", 2)} AS sxy,
               {sql_term_sum("y * y", 2)} AS syy,
               {sql_term_sum("CASE WHEN t = 1 THEN x ELSE 0.0 END", 6)} AS sxt,
               {sql_term_sum("CASE WHEN t = 1 THEN y ELSE 0.0 END", 6)} AS syt
        FROM pop
    ),
    fit AS (
        SELECT n, nt, CAST(n - nt AS BIGINT) AS nc,
               (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta,
               sx, sy, sxx, sxy, syy, sxt, syt
        FROM mo
    )
    SELECT n AS n_customers,
           CAST({sql_portable_round("theta", 6)} AS DOUBLE) AS theta,
           CAST({sql_portable_round(
               "syt / nt - (sy - syt) / nc", 4)} AS DOUBLE) AS raw_diff,
           CAST({sql_portable_round(
               "(syt / nt - theta * sxt / nt)"
               " - ((sy - syt) / nc - theta * (sx - sxt) / nc)", 4)}
               AS DOUBLE) AS cuped_diff,
           CAST({sql_portable_round(
               "1.0 - (syy - 2.0 * theta * sxy + theta * theta * sxx"
               "       - (sy - theta * sx) * (sy - theta * sx) / n)"
               "      / (syy - sy * sy / n)", 6)} AS DOUBLE)
               AS var_reduction
    FROM fit
    """,
)
def q_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the synthetic parity experiment:
    per-customer pre-{_CUPED_SPLIT} spend is the covariate x, post-period
    spend the metric y, θ = cov(x,y)/var(x) fit on the POOLED population
    (the standard CUPED recipe — θ from pre-period data is independent
    of assignment), and the report carries the raw treated−control mean
    gap, the θ-adjusted gap, and the variance-reduction factor
    1 − var(y−θx)/var(y) — the number that tells an experimentation
    platform how much smaller its confidence intervals (or sample
    sizes) get for free. All moments in one pass of round-then-cast
    DECIMAL sums (2dp products: per-customer spend sums reach ~5e6).
    Scale: one orders hash-agg + one customer join + ONE moment
    hash-agg; scalar arithmetic after."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    split = F.lit(_CUPED_SPLIT).cast("timestamp")
    per_cust = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        term_sum(
            F.when(F.col("o_orderdate") < split, F.col("o_totalprice"))
            .otherwise(0.0),
            6,
        ).alias("x"),
        term_sum(
            F.when(F.col("o_orderdate") >= split, F.col("o_totalprice"))
            .otherwise(0.0),
            6,
        ).alias("y"),
    )
    pop = cust.join(per_cust, cust["c_custkey"] == per_cust["ck"], "left").select(
        (F.col("c_custkey") % 2 == 1).cast("int").alias("t"),
        F.coalesce(F.col("x"), F.lit(0.0)).alias("x"),
        F.coalesce(F.col("y"), F.lit(0.0)).alias("y"),
    )
    mo = pop.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("nt"),
        term_sum(F.col("x"), 6).alias("sx"),
        term_sum(F.col("y"), 6).alias("sy"),
        term_sum(F.col("x") * F.col("x"), 2).alias("sxx"),
        term_sum(F.col("x") * F.col("y"), 2).alias("sxy"),
        term_sum(F.col("y") * F.col("y"), 2).alias("syy"),
        term_sum(F.when(F.col("t") == 1, F.col("x")).otherwise(0.0), 6).alias(
            "sxt"
        ),
        term_sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0.0), 6).alias(
            "syt"
        ),
    )
    n = F.col("n")
    nt = F.col("nt").cast("double")
    nc = (F.col("n") - F.col("nt")).cast("double")
    theta = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / n
    )
    fit = mo.select(
        "n", "nt", "sx", "sy", "sxx", "sxy", "syy", "sxt", "syt",
        nt.alias("ntd"), nc.alias("ncd"), theta.alias("theta"),
    )
    raw = F.col("syt") / F.col("ntd") - (
        (F.col("sy") - F.col("syt")) / F.col("ncd")
    )
    adj = (
        F.col("syt") / F.col("ntd")
        - F.col("theta") * F.col("sxt") / F.col("ntd")
    ) - (
        (F.col("sy") - F.col("syt")) / F.col("ncd")
        - F.col("theta")
        * (F.col("sx") - F.col("sxt"))
        / F.col("ncd")
    )
    resid_ss = (
        F.col("syy")
        - 2.0 * F.col("theta") * F.col("sxy")
        + F.col("theta") * F.col("theta") * F.col("sxx")
        - (F.col("sy") - F.col("theta") * F.col("sx"))
        * (F.col("sy") - F.col("theta") * F.col("sx"))
        / F.col("n")
    )
    var_y = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    return fit.select(
        F.col("n").alias("n_customers"),
        portable_round(F.col("theta"), 6).cast("double").alias("theta"),
        portable_round(raw, 4).cast("double").alias("raw_diff"),
        portable_round(adj, 4).cast("double").alias("cuped_diff"),
        portable_round(1.0 - resid_ss / var_y, 6)
        .cast("double")
        .alias("var_reduction"),
    )


# ---------------------------------------------------------------------------
# Raking / iterative proportional fitting
# ---------------------------------------------------------------------------

_IPF_ROUNDS = 2


def _duck_ipf_round(prev: str, rnd: int) -> str:
    """One full IPF round: scale cell weights to the nation margin,
    then to the segment margin."""
    return f"""
    nscale{rnd} AS (
        SELECT c.nation, tn.target / {sql_term_sum("c.wgt * c.n_s", 8)} AS f
        FROM {prev} c JOIN ntarget tn ON tn.nation = c.nation
        GROUP BY c.nation, tn.target
    ),
    half{rnd} AS (
        SELECT c.nation, c.segment, c.n_s, c.wgt * ns.f AS wgt
        FROM {prev} c JOIN nscale{rnd} ns ON ns.nation = c.nation
    ),
    sscale{rnd} AS (
        SELECT c.segment, ts.target / {sql_term_sum("c.wgt * c.n_s", 8)} AS f
        FROM half{rnd} c JOIN starget ts ON ts.segment = c.segment
        GROUP BY c.segment, ts.target
    ),
    cells{rnd} AS (
        SELECT c.nation, c.segment, c.n_s, c.wgt * ss.f AS wgt
        FROM half{rnd} c JOIN sscale{rnd} ss ON ss.segment = c.segment
    )"""


@query(
    "q_raking_weights",
    oracle=f"""
    WITH sample AS (
        SELECT c_nationkey AS nation, c_mktsegment AS segment
        FROM customer WHERE c_custkey % 3 = 0
    ),
    cells0 AS (
        SELECT nation, segment, CAST(COUNT(*) AS BIGINT) AS n_s,
               1.0 AS wgt
        FROM sample GROUP BY nation, segment
    ),
    ntarget AS (
        SELECT c_nationkey AS nation, CAST(COUNT(*) AS DOUBLE) AS target
        FROM customer GROUP BY c_nationkey
    ),
    starget AS (
        SELECT c_mktsegment AS segment, CAST(COUNT(*) AS DOUBLE) AS target
        FROM customer GROUP BY c_mktsegment
    ),
    {",".join(_duck_ipf_round(f"cells{r - 1}", r) for r in range(1, _IPF_ROUNDS + 1))}
    SELECT c.segment,
           CAST(ts.target AS DOUBLE) AS target_n,
           CAST({sql_portable_round(
               sql_term_sum("c.wgt * c.n_s", 8), 4)} AS DOUBLE) AS achieved_n,
           CAST({sql_portable_round(
               f"abs({sql_term_sum('c.wgt * c.n_s', 8)} - ts.target) / ts.target",
               6)}
               AS DOUBLE) AS rel_err,
           CAST({sql_portable_round("MIN(c.wgt)", 6)} AS DOUBLE)
               AS min_weight,
           CAST({sql_portable_round("MAX(c.wgt)", 6)} AS DOUBLE)
               AS max_weight
    FROM cells{_IPF_ROUNDS} c JOIN starget ts ON ts.segment = c.segment
    GROUP BY c.segment, ts.target
    ORDER BY c.segment
    """,
)
def q_raking_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raking (iterative proportional fitting) of a biased ⅓ customer
    sample to the FULL population's nation and segment margins: two
    unrolled IPF rounds (scale every (nation, segment) cell weight to
    hit the nation margin, then the segment margin, twice) — the survey-
    calibration step, and equally the dataset-reweighting recipe an ML
    pipeline runs to match a target demographic mix before training.
    After round 2 the segment margins are exact by construction (the
    last scaling) and the nation margins are nearly so; the report
    emits per-segment achieved vs target, residual relative error, and
    the weight envelope (extreme weights are the raking diagnostic —
    a huge max weight means the sample barely covers some cell).
    Scale: the cell table is margin-product-sized (125 rows here, never
    corpus-sized); each half-round is one margin agg + one broadcast
    join-back on the tiny cell frame; the only full-data work is the
    two initial margin hash-aggs."""
    cust = load_table(spark, sf_dir, "customer")
    sample = cust.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
    )
    cells = (
        sample.groupBy("nation", "segment")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_s"))
        .withColumn("wgt", F.lit(1.0))
    )
    ntarget = cust.groupBy(F.col("c_nationkey").alias("nation")).agg(
        F.count(F.lit(1)).cast("double").alias("n_target")
    )
    starget = cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("double").alias("s_target")
    )
    for _rnd in range(_IPF_ROUNDS):
        # Every SUM(wgt * n_s) routes through term_sum/sql_term_sum (8dp round →
        # exact DECIMAL Σ): from the first scaling onward wgt is an
        # arbitrary double, so a plain double sum would be accumulation-
        # order dependent (Spark partial-agg tree vs DuckDB scan order)
        # and a 1-ulp drift compounded through four scalings could flip
        # the 4dp/6dp output rounds. |wgt*n_s| stays ≤ ~1e6 here, so the
        # 8dp floor term is far under the int64 saturation bound.
        nscale = (
            cells.groupBy("nation")
            .agg(term_sum(F.col("wgt") * F.col("n_s"), 8).alias("cur"))
            .join(F.broadcast(ntarget), "nation")
            .select("nation", (F.col("n_target") / F.col("cur")).alias("f"))
        )
        cells = cells.join(F.broadcast(nscale), "nation").select(
            "nation", "segment", "n_s", (F.col("wgt") * F.col("f")).alias("wgt")
        )
        sscale = (
            cells.groupBy("segment")
            .agg(term_sum(F.col("wgt") * F.col("n_s"), 8).alias("cur"))
            .join(F.broadcast(starget), "segment")
            .select(
                "segment", (F.col("s_target") / F.col("cur")).alias("f")
            )
        )
        cells = cells.join(F.broadcast(sscale), "segment").select(
            "nation", "segment", "n_s", (F.col("wgt") * F.col("f")).alias("wgt")
        )
    return (
        cells.groupBy("segment")
        .agg(
            term_sum(F.col("wgt") * F.col("n_s"), 8).alias("achieved"),
            F.min("wgt").alias("wmin"),
            F.max("wgt").alias("wmax"),
        )
        .join(F.broadcast(starget), "segment")
        .select(
            "segment",
            F.col("s_target").cast("double").alias("target_n"),
            portable_round(F.col("achieved"), 4)
            .cast("double")
            .alias("achieved_n"),
            portable_round(
                F.abs(F.col("achieved") - F.col("s_target"))
                / F.col("s_target"),
                6,
            )
            .cast("double")
            .alias("rel_err"),
            portable_round(F.col("wmin"), 6).cast("double").alias("min_weight"),
            portable_round(F.col("wmax"), 6).cast("double").alias("max_weight"),
        )
        .orderBy("segment")
    )
