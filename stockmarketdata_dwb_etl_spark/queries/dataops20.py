"""Round-12 operator batch 2: changepoint localization, embedding
outlier screening, spectrum-free effective rank, and probability
calibration fitting.

- Binary-segmentation changepoint: THE least-squares split per symbol
  (argmin over k of SSE_left + SSE_right) from prefix sums — the
  localization step after q_cusum_changepoint's detection flag (CUSUM
  says "drifted", binseg says WHERE).
- Semantic outliers: distance-to-label-centroid screen over the
  embedding table — the mislabeled/atypical-example sweep that
  complements q_label_noise_knn's neighbor vote with a O(n·d)
  centroid pass (no neighbor search at all).
- Effective rank (participation ratio): PR = tr(C)²/tr(C²) of the
  embedding covariance — the dimension-collapse diagnostic computed
  WITHOUT an eigendecomposition (tr(C²) = ‖C‖²_F expands over
  pairwise covariances, the q_cka_alignment machinery).
- Temperature scaling: grid-search the softmax/sigmoid temperature
  minimizing NLL of the quality-classifier score (Guo et al. 2017) —
  the one-parameter calibration fit run after q_calibration_bins
  diagnoses miscalibration.

Reference scope: the reference's BigQuery tier is the analytics
surface these extend (dump_bigq.py:135-149 delegates all querying).

Determinism: prefix sums accumulate 8dp/6dp-rounded terms in exact
DECIMAL over the (day) window order; centroid means and NLL terms are
identical-tree doubles over term_sum-reduced exact sums; argmin picks are
rounded-cost orders with integer tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.bars import (
    close_tick,
    open_tick,
    sql_close_tick,
    sql_open_tick,
)
from stockmarketdata_dwb_etl_spark.functions.exact import (
    hilo_finish,
    hilo_term_sum,
    portable_round,
    sql_portable_round,
    sql_term,
    sql_term_sum,
    term,
    term_sum,
)
from stockmarketdata_dwb_etl_spark.queries.dataops5 import SQL_SCORED_EN, scored_en
from stockmarketdata_dwb_etl_spark.registry import query

# ---------------------------------------------------------------------------
# Binary-segmentation changepoint
# ---------------------------------------------------------------------------


@query(
    "q_binseg_split",
    oracle=f"""
    WITH bars AS (
        SELECT event_type AS symbol, CAST(ts AS DATE) AS day,
               {sql_open_tick()}
                   AS open,
               {sql_close_tick()}
                   AS close
        FROM events GROUP BY 1, 2
    ),
    x AS (
        SELECT symbol, day,
               row_number() OVER (PARTITION BY symbol ORDER BY day) AS rn,
               COUNT(*) OVER (PARTITION BY symbol) AS n,
               close / open - 1.0 AS v
        FROM bars WHERE open <> 0
    ),
    pre AS (
        SELECT symbol, day, rn, n,
               CAST(SUM({sql_term("v", 8)})
                    OVER (PARTITION BY symbol ORDER BY rn) AS DOUBLE) AS sp,
               CAST(SUM({sql_term("v * v", 6)})
                    OVER (PARTITION BY symbol ORDER BY rn) AS DOUBLE) AS spp
        FROM x
    ),
    tot AS (
        SELECT symbol, MAX(n) AS n,
               MAX(CASE WHEN rn = n THEN sp END) AS tsp,
               MAX(CASE WHEN rn = n THEN spp END) AS tspp
        FROM pre GROUP BY symbol
    ),
    cost AS (
        SELECT p.symbol, p.day, p.rn, t.n,
               {sql_portable_round(
                   "(p.spp - p.sp * p.sp / p.rn)"
                   " + ((t.tspp - p.spp)"
                   "    - (t.tsp - p.sp) * (t.tsp - p.sp) / (t.n - p.rn))",
                   8)} AS c,
               {sql_portable_round(
                   "t.tspp - t.tsp * t.tsp / t.n", 8)} AS sse0
        FROM pre p JOIN tot t ON t.symbol = p.symbol
        WHERE p.rn >= 2 AND p.rn <= t.n - 2
    ),
    best AS (
        SELECT symbol, day, rn, n, c, sse0,
               row_number() OVER (PARTITION BY symbol ORDER BY c, rn) AS b
        FROM cost
    )
    SELECT symbol, CAST(n AS BIGINT) AS n_days,
           CAST(rn AS BIGINT) AS split_idx, day AS split_day,
           CAST({sql_portable_round("sse0 - c", 6)} AS DOUBLE) AS sse_gain
    FROM best WHERE b = 1 ORDER BY symbol
    """,
)
def q_binseg_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation changepoint localization on the daily
    session-return series: the split k minimizing SSE_left + SSE_right
    (ties → earliest k), with the variance-reduction gain vs the
    unsplit SSE — the first recursion level of binary segmentation
    (Scott & Knott 1974), the WHERE answer after q_cusum_changepoint's
    drift flag. All O(n) candidate costs come from ONE pass of prefix
    sums: Σv and Σv² accumulate 8dp/6dp-rounded terms in exact DECIMAL
    over the rn window order (order-defined, so cross-engine exact;
    |v| ≤ ~1e4 keeps both scaled terms under 2^53), and every cost is
    an identical-tree double rounded 8dp before the argmin. Scale: one
    rank window + one running-sum window + one argmax, all partitioned
    by symbol."""

    bars = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("symbol"),
            F.col("ts").cast("date").alias("day"),
        )
        .agg(
            open_tick().alias("open"),
            close_tick().alias("close"),
        )
    )
    wn = Window.partitionBy("symbol")
    x = bars.filter(F.col("open") != 0).select(
        "symbol",
        "day",
        F.row_number().over(wn.orderBy("day")).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
        (F.col("close") / F.col("open") - 1.0).alias("v"),
    )
    wcum = wn.orderBy("rn")
    pre = x.select(
        "symbol",
        "day",
        "rn",
        "n",
        F.sum(term(F.col("v"), 8))
        .over(wcum)
        .cast("double")
        .alias("sp"),
        F.sum(
            term(F.col("v") * F.col("v"), 6)
        )
        .over(wcum)
        .cast("double")
        .alias("spp"),
    )
    tot = pre.groupBy("symbol").agg(
        F.max("n").alias("tn"),
        F.max(F.when(F.col("rn") == F.col("n"), F.col("sp"))).alias("tsp"),
        F.max(F.when(F.col("rn") == F.col("n"), F.col("spp"))).alias("tspp"),
    )
    j = pre.join(F.broadcast(tot), "symbol").filter(
        (F.col("rn") >= 2) & (F.col("rn") <= F.col("tn") - 2)
    )
    sse_l = F.col("spp") - F.col("sp") * F.col("sp") / F.col("rn")
    sse_r = (F.col("tspp") - F.col("spp")) - (
        F.col("tsp") - F.col("sp")
    ) * (F.col("tsp") - F.col("sp")) / (F.col("tn") - F.col("rn"))
    sse0 = F.col("tspp") - F.col("tsp") * F.col("tsp") / F.col("tn")
    cost = j.select(
        "symbol",
        "day",
        "rn",
        F.col("tn"),
        portable_round(sse_l + sse_r, 8).alias("c"),
        portable_round(sse0, 8).alias("sse0"),
    )
    wb = Window.partitionBy("symbol").orderBy("c", "rn")
    return (
        cost.withColumn("b", F.row_number().over(wb))
        .filter(F.col("b") == 1)
        .select(
            "symbol",
            F.col("tn").cast("bigint").alias("n_days"),
            F.col("rn").cast("bigint").alias("split_idx"),
            F.col("day").alias("split_day"),
            portable_round(F.col("sse0") - F.col("c"), 6)
            .cast("double")
            .alias("sse_gain"),
        )
        .orderBy("symbol")
    )


# ---------------------------------------------------------------------------
# Semantic outliers (distance to label centroid)
# ---------------------------------------------------------------------------

_SEMOUT_K = 5


@query(
    "q_semantic_outliers",
    oracle=f"""
    WITH ex AS (
        SELECT vec_id, label, u.idx, CAST(u.val AS DOUBLE) AS val
        FROM embeddings,
             LATERAL (SELECT UNNEST(generate_series(1, len(embedding)))
                          AS idx,
                      UNNEST(CAST(embedding AS DOUBLE[])) AS val) u
    ),
    cent AS (
        SELECT label, idx,
               {sql_portable_round(f"({sql_term_sum('val', 12)}) / COUNT(*)", 10)}
                   AS mu
        FROM ex GROUP BY label, idx
    ),
    cvec AS (
        SELECT label, list(mu ORDER BY idx) AS c FROM cent GROUP BY label
    ),
    scored AS (
        SELECT e.vec_id, e.label,
               {sql_portable_round(
                   "list_reduce(list_transform(generate_series(1, len(v)),"
                   " i -> v[i] * c[i]), (x, y) -> x + y)"
                   " / nullif(sqrt(list_reduce(list_transform("
                   "generate_series(1, len(v)), i -> v[i] * v[i]),"
                   " (x, y) -> x + y)) * sqrt(list_reduce(list_transform("
                   "generate_series(1, len(c)), i -> c[i] * c[i]),"
                   " (x, y) -> x + y)), 0.0)", 8)} AS cos_centroid
        FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings) e
        JOIN cvec ON cvec.label = e.label
    )
    SELECT label, vec_id,
           CAST({sql_portable_round("cos_centroid", 6)} AS DOUBLE)
               AS cos_centroid
    FROM (
        SELECT label, vec_id, cos_centroid,
               row_number() OVER (PARTITION BY label
                                  ORDER BY cos_centroid, vec_id) AS rn
        FROM scored
    ) WHERE rn <= {_SEMOUT_K}
    ORDER BY label, cos_centroid, vec_id
    """,
)
def q_semantic_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label semantic outlier screen: each label's centroid (exact
    per-dimension mean), every vector's cosine to its OWN centroid, and
    the {_SEMOUT_K} least-typical vectors per label — the
    O(n·d) mislabeled/atypical-example sweep (SemDeDup-style centroid
    geometry) that complements q_label_noise_knn's neighbor vote
    without ANY neighbor search. Centroid means are 10dp rounds over
    12dp-DECIMAL dimension sums; cosines are the sequential fold on
    both engines, rounded 8dp before the per-label rank (vec_id
    tie-break). Scale: one (label, dim) hash-agg (label-count × 64
    rows), centroids BROADCAST back, one map-side fold + a per-label
    top-k — no pairwise join anywhere."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "idx0", "val"
        ),
    ).select("vec_id", "label", (F.col("idx0") + 1).alias("idx"), "val")
    cent = ex.groupBy("label", "idx").agg(
        portable_round(
            term_sum(F.col("val"), 12) / F.count(F.lit(1)), 10
        ).alias("mu")
    )
    cvec = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("idx"), F.col("mu")))
            ),
            lambda s: s.getField("mu"),
        ).alias("c")
    )
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda acc, x: acc + x
    )
    v = F.col("v")
    c = F.col("c")
    dot = fold(F.zip_with(v, c, lambda a, b: a * b))
    nv = fold(F.zip_with(v, v, lambda a, b: a * b))
    nc = fold(F.zip_with(c, c, lambda a, b: a * b))
    denom = F.sqrt(nv) * F.sqrt(nc)
    scored = (
        emb.select(
            "vec_id",
            "label",
            F.col("embedding").cast("array<double>").alias("v"),
        )
        .join(F.broadcast(cvec), "label")
        .select(
            "label",
            "vec_id",
            portable_round(dot / F.when(denom != 0.0, denom), 8).alias(
                "cos_centroid"
            ),
        )
    )
    w = Window.partitionBy("label").orderBy("cos_centroid", "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _SEMOUT_K)
        .select(
            "label",
            "vec_id",
            portable_round(F.col("cos_centroid"), 6)
            .cast("double")
            .alias("cos_centroid"),
        )
        .orderBy("label", "cos_centroid", "vec_id")
    )


# ---------------------------------------------------------------------------
# Effective rank (participation ratio)
# ---------------------------------------------------------------------------


@query(
    "q_effective_rank",
    oracle=f"""
    WITH ex AS (
        SELECT vec_id, u.idx, CAST(u.val AS DOUBLE) AS val
        FROM embeddings,
             LATERAL (SELECT UNNEST(generate_series(1, len(embedding)))
                          AS idx,
                      UNNEST(CAST(embedding AS DOUBLE[])) AS val) u
    ),
    dims AS (
        SELECT idx, CAST(COUNT(*) AS BIGINT) AS n,
               {sql_term_sum("val", 12)} AS sx
        FROM ex GROUP BY idx
    ),
    pairs AS (
        SELECT a.idx AS ia, b.idx AS ib,
               {sql_term_sum("a.val * b.val", 12)} AS sxy
        FROM ex a JOIN ex b ON a.vec_id = b.vec_id
        GROUP BY 1, 2
    ),
    cov AS (
        SELECT ia, ib,
               {sql_portable_round(
                   "p.sxy / x.n - (x.sx / x.n) * (y.sx / y.n)", 10)} AS cov
        FROM pairs p
        JOIN dims x ON x.idx = p.ia
        JOIN dims y ON y.idx = p.ib
    ),
    agg AS (
        SELECT
            {sql_term_sum("CASE WHEN ia = ib THEN cov ELSE 0.0 END", 12)} AS tr_c,
            {sql_term_sum("cov * cov", 16)} AS tr_c2,
            CAST(COUNT(DISTINCT ia) AS BIGINT) AS d
        FROM cov
    )
    SELECT d AS ambient_dim,
           CAST({sql_portable_round("tr_c", 8)} AS DOUBLE) AS trace_cov,
           CAST({sql_portable_round("tr_c2", 10)} AS DOUBLE) AS fro2_cov,
           CAST({sql_portable_round(
               "tr_c * tr_c / nullif(tr_c2, 0.0)", 4)} AS DOUBLE)
               AS effective_rank
    FROM agg
    """,
)
def q_effective_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Participation-ratio effective rank of the embedding covariance:
    PR = tr(C)² / tr(C²) = (Σλ)²/Σλ² — how many dimensions the
    variance ACTUALLY occupies (PR ≪ 64 flags dimension collapse /
    anisotropy, the representation-health check run beside
    q_whitening_stats before sizing projections). Computed WITHOUT any
    eigendecomposition: tr(C²) = ‖C‖²_F expands over pairwise
    covariances, so the whole spectrum statistic is the
    q_cka_alignment d²-pair fan — 12dp DECIMAL product sums, 10dp
    covariances, 12/16dp trace sums, all identical trees. Scale: d² =
    4096 pairs per vector with d = 64 CONSTANT; one (dim, dim)
    hash-agg, never an n×n Gram."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "idx0", "val"
        ),
    ).select("vec_id", (F.col("idx0") + 1).alias("idx"), "val")
    dims = ex.groupBy("idx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        term_sum(F.col("val"), 12).alias("sx"),
    )
    from stockmarketdata_dwb_etl_spark.functions.vectors import (
        dim_pair_products,
    )

    # map-side pair products — no exploded self-join (dim_pair_products)
    hi, lo = hilo_term_sum(F.col("prod"), 12)
    pairs = (
        dim_pair_products(
            emb.select(F.col("embedding").cast("array<double>").alias("v"))
        )
        .groupBy("ia", "ib")
        # two-long-bucket sum (r13): bit-identical to the DECIMAL term_sum,
        # ~2× cheaper per row on this d²·n hot agg; |prod| < 1 keeps the
        # bigint buckets exact to ~9.2e12 rows per (ia, ib) group
        .agg(hi.alias("__sh"), lo.alias("__sl"))
        .select(
            "ia", "ib", hilo_finish(F.col("__sh"), F.col("__sl"), 12).alias("sxy")
        )
    )
    dx = dims.select(
        F.col("idx").alias("ia"),
        F.col("n").alias("nx"),
        F.col("sx").alias("sxa"),
    )
    dy = dims.select(
        F.col("idx").alias("ib"),
        F.col("n").alias("ny"),
        F.col("sx").alias("sxb"),
    )
    cov = portable_round(
        F.col("sxy") / F.col("nx")
        - (F.col("sxa") / F.col("nx")) * (F.col("sxb") / F.col("ny")),
        10,
    )
    covt = (
        pairs.join(F.broadcast(dx), "ia")
        .join(F.broadcast(dy), "ib")
        .select("ia", "ib", cov.alias("cov"))
    )
    agg = covt.agg(
        term_sum(
            F.when(F.col("ia") == F.col("ib"), F.col("cov")).otherwise(
                F.lit(0.0)
            ),
            12,
        ).alias("tr_c"),
        term_sum(F.col("cov") * F.col("cov"), 16).alias("tr_c2"),
        F.countDistinct("ia").cast("bigint").alias("d"),
    )
    return agg.select(
        F.col("d").alias("ambient_dim"),
        portable_round(F.col("tr_c"), 8).cast("double").alias("trace_cov"),
        portable_round(F.col("tr_c2"), 10).cast("double").alias("fro2_cov"),
        portable_round(
            F.col("tr_c") * F.col("tr_c")
            / F.when(F.col("tr_c2") != 0.0, F.col("tr_c2")),
            4,
        )
        .cast("double")
        .alias("effective_rank"),
    )


# ---------------------------------------------------------------------------
# Temperature scaling
# ---------------------------------------------------------------------------

_TEMPS = (0.5, 0.75, 1.0, 1.5, 2.0, 3.0)
_P_EPS = 1e-6


def _temp_grid_sql() -> str:
    return ", ".join(f"({t})" for t in _TEMPS)


@query(
    "q_temperature_scaling",
    oracle=f"""
    WITH {SQL_SCORED_EN},
    clamped AS (
        SELECT y, least(greatest(score, {_P_EPS}), 1.0 - {_P_EPS}) AS p
        FROM scored
    ),
    grid(t) AS (VALUES {_temp_grid_sql()}),
    nlls AS (
        SELECT g.t,
               {sql_term_sum(
                   "-(y * LN(1.0 / (1.0 + exp(-(LN(p / (1.0 - p)) / g.t))))"
                   " + (1 - y) * LN(1.0 - 1.0 /"
                   " (1.0 + exp(-(LN(p / (1.0 - p)) / g.t)))))", 8)} AS nll,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM clamped CROSS JOIN grid g
        GROUP BY g.t
    )
    SELECT CAST(t AS DOUBLE) AS temperature, n,
           CAST({sql_portable_round("nll / n", 6)} AS DOUBLE) AS mean_nll,
           (row_number() OVER (
               ORDER BY {sql_portable_round("nll / n", 6)}, t) = 1)
               AS is_best
    FROM nlls ORDER BY temperature
    """,
)
def q_temperature_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaling calibration fit for the quality-classifier
    score (Guo et al. 2017): grid-search T ∈ {_TEMPS} minimizing the
    mean negative log-likelihood of p_T = σ(logit(p)/T) against the
    lang='en' label — the one-parameter post-hoc calibration run after
    q_calibration_bins diagnoses over/under-confidence (T > 1 softens
    an overconfident model). Scores clamp to [1e-6, 1−1e-6] before the
    logit (identical on both engines); per-row NLL terms are one
    identical-tree double expression and the per-T Σ routes through
    the 8dp DECIMAL sum; the winner is the 6dp-rounded mean NLL with a
    T tie-break. Scale: the grid is a 6-row broadcast against a
    map-side scored scan — one hash-agg keyed by T."""
    scored = scored_en(spark, sf_dir)
    p = F.least(
        F.greatest(F.col("score"), F.lit(_P_EPS)), F.lit(1.0 - _P_EPS)
    )
    clamped = scored.select("y", p.alias("p"))
    grid = spark.createDataFrame(
        [(float(t),) for t in _TEMPS], "t double"
    )
    pt = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(-(F.log(F.col("p") / (F.lit(1.0) - F.col("p"))) / F.col("t")))
    )
    nll_term = -(
        F.col("y") * F.log(pt)
        + (F.lit(1) - F.col("y")) * F.log(F.lit(1.0) - pt)
    )
    nlls = (
        clamped.crossJoin(F.broadcast(grid))
        .select("t", nll_term.alias("term"))
        .groupBy("t")
        .agg(
            term_sum(F.col("term"), 8).alias("nll"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    mean_nll = portable_round(F.col("nll") / F.col("n"), 6)
    w = Window.orderBy(mean_nll, "t")
    return (
        nlls.select(
            F.col("t").alias("temperature"),
            "n",
            mean_nll.cast("double").alias("mean_nll"),
            (F.row_number().over(w) == 1).alias("is_best"),
        )
        .orderBy("temperature")
    )
