"""Data-curation and screening operators, part 17 (round 11).

Six operators a large-scale training-data pipeline runs between
curation and training:

- Class-balanced loss weights (Cui et al. 2019 "effective number of
  samples"): the per-class reweighting table for imbalanced corpora —
  inverse-frequency AND the (1-β)/(1-β^n) effective-number variant.
- Temperature-scaled sampling mix (Conneau & Lample 2019): the
  α-tempered multilingual sampling distribution q_c ∝ share_c^α that
  up-samples tail languages without flattening the head.
- Benjamini–Hochberg FDR screening: multiple-testing control over a
  family of per-group hypothesis tests — the correct way to scan many
  symbols/features for "significant" effects without drowning in false
  positives at scale.
- Greedy k-center coreset (Gonzalez 1985; Sener & Savarese 2018): the
  classic diversity-maximizing data-selection sweep over embeddings.
- kNN label-noise audit (confident-learning-lite): probes whose
  nearest neighbors systematically disagree with their own label are
  suspected annotation noise.
- Embedding whitening statistics: per-dimension moments + the top
  correlated dimension pairs — the screening report before a whitening
  / decorrelation transform is fit.

Determinism: counts exact integers; wide-range moment sums route
through the two-bucket split sums (functions/exact.py::split_term_sum); array
folds are sequential (element order is fixed, so unrounded left folds
are cross-engine identical — the q_mutual_knn contract) with results
rounded before any ranking decision; Φ(z) uses the Abramowitz–Stegun
26.2.17 polynomial in identical Horner form on both engines; every
argmax/top-k orders by a ROUNDED key with an id tie-break.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
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
    split_term_sum,
    sql_portable_round,
    sql_split_term_sum,
    sql_term_sum,
    term_sum,
)
from stockmarketdata_dwb_etl_spark.operators.iterate import iterate
from stockmarketdata_dwb_etl_spark.registry import query

# ---------------------------------------------------------------------------
# Class-balanced loss weights
# ---------------------------------------------------------------------------

_CB_BETA = 0.999


@query(
    "q_class_balance_weights",
    oracle=f"""
    WITH cls AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang
    ),
    tot AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM cls
    ),
    w AS (
        SELECT c.lang, c.n_docs, t.n, t.k,
               CAST(t.n AS DOUBLE) / (t.k * c.n_docs) AS inv_freq,
               (1.0 - {_CB_BETA})
                 / (1.0 - exp(c.n_docs * ln({_CB_BETA}))) AS cb_raw
        FROM cls c CROSS JOIN tot t
    ),
    norm AS (
        SELECT CAST(k AS BIGINT) AS k2, {sql_term_sum("cb_raw", 12)} AS cb_sum
        FROM w GROUP BY k
    )
    SELECT w.lang, w.n_docs,
           CAST({sql_portable_round("w.inv_freq", 6)} AS DOUBLE)
               AS inv_freq_weight,
           CAST({sql_portable_round(
               "w.cb_raw / (n.cb_sum / n.k2)", 6)} AS DOUBLE)
               AS class_balanced_weight
    FROM w CROSS JOIN norm n
    ORDER BY w.lang
    """,
)
def q_class_balance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class loss-reweighting table over the corpus language mix:
    inverse-frequency weights N/(K·n_c) and the class-balanced
    "effective number of samples" weights (1−β)/(1−β^n_c) with
    β = 0.999 (Cui et al. 2019), the latter normalized to mean 1 over
    classes so it drops into a loss unchanged. β^n computes as
    exp(n·ln β) in the identical tree on both engines; the K-class
    normalizing sum is a 12dp round-then-DECIMAL Σ (cb_raw ≤ 1).
    Scale: ONE hash-agg over the corpus to class counts; everything
    after runs on the K-row class table."""
    docs = load_table(spark, sf_dir, "documents")
    cls = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    tot = cls.agg(
        F.sum("n_docs").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    cb_raw = (1.0 - _CB_BETA) / (
        1.0 - F.exp(F.col("n_docs") * F.log(F.lit(_CB_BETA)))
    )
    w = cls.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "k",
        (F.col("n").cast("double") / (F.col("k") * F.col("n_docs"))).alias(
            "inv_freq"
        ),
        cb_raw.alias("cb_raw"),
    )
    norm = w.groupBy("k").agg(term_sum(F.col("cb_raw"), 12).alias("cb_sum"))
    return (
        w.crossJoin(F.broadcast(norm.select("cb_sum", F.col("k").alias("k2"))))
        .select(
            "lang",
            "n_docs",
            portable_round(F.col("inv_freq"), 6)
            .cast("double")
            .alias("inv_freq_weight"),
            portable_round(
                F.col("cb_raw") / (F.col("cb_sum") / F.col("k2")), 6
            )
            .cast("double")
            .alias("class_balanced_weight"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Temperature-scaled sampling mix
# ---------------------------------------------------------------------------

_MIX_ALPHA = 0.3


@query(
    "q_temperature_mix",
    oracle=f"""
    WITH cls AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM cls),
    t AS (
        SELECT c.lang, c.n_docs,
               CAST(c.n_docs AS DOUBLE) / t.n AS share,
               exp({_MIX_ALPHA} * ln(CAST(c.n_docs AS DOUBLE) / t.n))
                   AS tempered
        FROM cls c CROSS JOIN tot t
    ),
    z AS (SELECT {sql_term_sum("tempered", 12)} AS zsum FROM t)
    SELECT t.lang, t.n_docs,
           CAST({sql_portable_round("t.share", 6)} AS DOUBLE) AS share,
           CAST({sql_portable_round(
               "t.tempered / z.zsum", 6)} AS DOUBLE) AS sample_weight,
           CAST({sql_portable_round(
               "(t.tempered / z.zsum) / t.share", 6)} AS DOUBLE) AS boost
    FROM t CROSS JOIN z
    ORDER BY t.lang
    """,
)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled multilingual sampling distribution
    (Conneau & Lample 2019): q_c ∝ share_c^α with α = 0.3 —
    the up-sample-the-tail / damp-the-head mix every multilingual LLM
    data pipeline draws from, reported with the boost factor
    q_c/share_c each language receives. share^α runs as exp(α·ln share)
    in the identical tree on both engines; the normalizer is a 12dp
    round-then-DECIMAL Σ over the K tempered shares (each ≤ 1).
    Scale: one corpus hash-agg to class counts; K-row arithmetic
    after."""
    docs = load_table(spark, sf_dir, "documents")
    cls = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    tot = cls.agg(F.sum("n_docs").cast("bigint").alias("n"))
    share = F.col("n_docs").cast("double") / F.col("n")
    t = cls.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        share.alias("share"),
        F.exp(F.lit(_MIX_ALPHA) * F.log(share)).alias("tempered"),
    )
    z = t.agg(term_sum(F.col("tempered"), 12).alias("zsum"))
    return (
        t.crossJoin(F.broadcast(z))
        .select(
            "lang",
            "n_docs",
            portable_round(F.col("share"), 6).cast("double").alias("share"),
            portable_round(F.col("tempered") / F.col("zsum"), 6)
            .cast("double")
            .alias("sample_weight"),
            portable_round(
                (F.col("tempered") / F.col("zsum")) / F.col("share"), 6
            )
            .cast("double")
            .alias("boost"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Benjamini–Hochberg FDR screening
# ---------------------------------------------------------------------------

_BH_ALPHA = 0.10
# Abramowitz & Stegun 26.2.17 Φ approximation (|ε| < 7.5e-8), Horner form
_AS_T = "(1.0 / (1.0 + 0.2316419 * {ax}))"
_AS_POLY = (
    "({t} * (0.319381530 + {t} * (-0.356563782 + {t} * (1.781477937"
    " + {t} * (-1.821255978 + {t} * 1.330274429)))))"
)
_INV_SQRT_2PI = 0.3989422804014327


def _duck_p_two(z: str) -> str:
    ax = f"abs({z})"
    t = _AS_T.format(ax=ax)
    poly = _AS_POLY.format(t=t)
    pdf = f"(exp(-({ax}) * ({ax}) / 2.0) * {_INV_SQRT_2PI})"
    return f"(2.0 * {pdf} * {poly})"


def _spark_p_two(z: Column) -> Column:
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
    return F.lit(2.0) * pdf * poly


@query(
    "q_fdr_bh",
    oracle=f"""
    WITH bars AS (
        SELECT event_type AS symbol, CAST(ts AS DATE) AS day,
               {sql_open_tick()} AS open,
               {sql_close_tick()} AS close
        FROM events GROUP BY 1, 2
    ),
    rets AS (
        SELECT symbol, close / open - 1.0 AS x
        FROM bars WHERE open <> 0
    ),
    m AS (
        SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("x", 12, 8)} AS s,
               {sql_split_term_sum("x * x", 12, 6)} AS ss
        FROM rets GROUP BY symbol
    ),
    zt AS (
        SELECT symbol, n,
               CASE WHEN n < 2 OR (ss - s * s / n) / (n - 1) <= 0 THEN NULL
                    ELSE (s / n)
                         / sqrt(((ss - s * s / n) / (n - 1)) / n) END AS z
        FROM m
    ),
    pt AS (
        SELECT symbol, n, z,
               CASE WHEN z IS NULL THEN NULL
                    ELSE {sql_portable_round(_duck_p_two("z"), 8)} END AS p
        FROM zt
    ),
    ranked AS (
        SELECT symbol, n, z, p,
               CAST(row_number() OVER (ORDER BY p, symbol) AS BIGINT) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS m
        FROM pt WHERE p IS NOT NULL
    ),
    cut AS (
        SELECT COALESCE(MAX(CASE WHEN p <= {_BH_ALPHA} * i / m
                                 THEN i ELSE 0 END), 0) AS j
        FROM ranked
    )
    SELECT r.symbol, r.n AS n_days,
           CAST({sql_portable_round("r.z", 6)} AS DOUBLE) AS z_stat,
           CAST(r.p AS DOUBLE) AS p_value,
           r.i AS bh_rank,
           CAST({sql_portable_round(
               f"{_BH_ALPHA} * r.i / r.m", 8)} AS DOUBLE) AS bh_threshold,
           r.i <= c.j AS rejected
    FROM ranked r CROSS JOIN cut c
    ORDER BY r.i
    """,
)
def q_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR screening over a family of per-symbol
    one-sample tests (H0: mean daily session return = 0): z from exact
    split-sum moments, two-sided p via the A&S 26.2.17 normal-CDF
    polynomial (identical Horner tree on both engines, |ε| < 7.5e-8 —
    the 8dp p round makes every downstream comparison engine-exact),
    then the BH step-up rule at α = 0.10: reject the smallest-p prefix
    up to the largest i with p_(i) ≤ α·i/m. This is the
    multiple-testing gate a 100 TB feature screen needs — at thousands
    of simultaneous tests, per-test α drowns in false positives.
    Scale: one day-grain hash-agg over events, one symbol-grain moment
    agg (split sums — |x| spans 1e-3..1e2 here, 1e4 headroom), then
    window arithmetic over the symbol-count-sized table."""
    ev = load_table(spark, sf_dir, "events")
    bars = ev.groupBy(
        F.col("event_type").alias("symbol"),
        F.col("ts").cast("date").alias("day"),
    ).agg(
        open_tick().alias("open"),
        close_tick().alias("close"),
    )
    rets = bars.filter(F.col("open") != 0).select(
        "symbol", (F.col("close") / F.col("open") - 1.0).alias("x")
    )
    m = rets.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        split_term_sum(F.col("x"), 12, 8).alias("s"),
        split_term_sum(F.col("x") * F.col("x"), 12, 6).alias("ss"),
    )
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (
        F.col("n") - 1
    )
    z = F.when(
        (F.col("n") < 2) | (var <= 0), F.lit(None).cast("double")
    ).otherwise((F.col("s") / F.col("n")) / F.sqrt(var / F.col("n")))
    pt = m.select(
        "symbol",
        "n",
        z.alias("z"),
    ).select(
        "symbol",
        "n",
        "z",
        F.when(F.col("z").isNull(), F.lit(None).cast("double"))
        .otherwise(portable_round(_spark_p_two(F.col("z")), 8))
        .alias("p"),
    )
    ranked = (
        pt.filter(F.col("p").isNotNull())
        .withColumn(
            "i",
            F.row_number().over(Window.orderBy("p", "symbol")).cast("bigint"),
        )
        .withColumn(
            "m",
            F.count(F.lit(1))
            .over(
                Window.partitionBy().rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .cast("bigint"),
        )
    )
    cut = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p")
                    <= F.lit(_BH_ALPHA) * F.col("i") / F.col("m"),
                    F.col("i"),
                ).otherwise(F.lit(0))
            ),
            F.lit(0),
        ).alias("j")
    )
    return (
        ranked.crossJoin(F.broadcast(cut))
        .select(
            "symbol",
            F.col("n").alias("n_days"),
            portable_round(F.col("z"), 6).cast("double").alias("z_stat"),
            F.col("p").cast("double").alias("p_value"),
            F.col("i").alias("bh_rank"),
            portable_round(
                F.lit(_BH_ALPHA) * F.col("i") / F.col("m"), 8
            )
            .cast("double")
            .alias("bh_threshold"),
            (F.col("i") <= F.col("j")).alias("rejected"),
        )
        .orderBy("bh_rank")
    )


# ---------------------------------------------------------------------------
# Greedy k-center coreset
# ---------------------------------------------------------------------------

_KCENTER_K = 6


def _duck_d2(a: str, b: str) -> str:
    """Squared L2 between two DOUBLE[] lists: sequential left fold
    (element order fixed → cross-engine identical without per-element
    rounds — the q_mutual_knn fold contract)."""
    return (
        f"list_reduce(list_transform(generate_series(1, len({a})),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
    )


def _spark_d2(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _duck_kcenter_round(prev_m: str, rnd: int) -> str:
    """One greedy step: pick the farthest point (rounded distance,
    vec_id tie-break), then tighten every point's min-distance."""
    return f"""
    c{rnd} AS (
        SELECT vec_id AS cid, mind FROM {prev_m}
        ORDER BY mind DESC, vec_id LIMIT 1
    ),
    e{rnd} AS (
        SELECT CAST(emb.embedding AS DOUBLE[]) AS ce
        FROM embeddings emb JOIN c{rnd} ON emb.vec_id = c{rnd}.cid
    ),
    m{rnd} AS (
        SELECT p.vec_id, p.v,
               least(p.mind, {sql_portable_round(
                   _duck_d2("p.v", "e.ce"), 8)}) AS mind
        FROM {prev_m} p CROSS JOIN e{rnd} e
    )"""


@query(
    "q_coreset_kcenter",
    oracle=f"""
    WITH seed AS (
        SELECT CAST(embedding AS DOUBLE[]) AS se
        FROM embeddings WHERE vec_id = 0
    ),
    m1 AS (
        SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
               {sql_portable_round(
                   _duck_d2("CAST(e.embedding AS DOUBLE[])", "s.se"), 8)}
                   AS mind
        FROM embeddings e CROSS JOIN seed s
    ),
    {",".join(_duck_kcenter_round(f"m{r - 1}", r) for r in range(2, _KCENTER_K + 1))}
    SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS step, CAST(0 AS BIGINT) AS center_id,
               CAST(0.0 AS DOUBLE) AS dist_to_set
        {" ".join(
            f"UNION ALL SELECT {r}, CAST(cid AS BIGINT),"
            f" CAST({sql_portable_round('mind', 6)} AS DOUBLE) FROM c{r}"
            for r in range(2, _KCENTER_K + 1)
        )}
    ) ORDER BY step
    """,
)
def q_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset over the embedding table (Gonzalez 1985
    2-approximation; Sener & Savarese 2018 as active-learning/data-
    selection): seed at vec 0, then k−1 = 5 supersteps of
    "pick the point farthest from the selected set, tighten min-
    distances" — the diversity-first selection sweep that picks k
    representatives covering the corpus geometry. Per step: one
    TakeOrdered argmax on the ROUNDED min-distance (vec_id tie-break),
    one broadcast of the 1-row new center, one map-side least().
    Distances are sequential array folds rounded at 8dp before any
    comparison. Scale: state per superstep is one (vec_id, mind)
    column pair — candidates never pairwise-join; k is a constant.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    seed = vecs.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("ce")
    )
    m = vecs.crossJoin(F.broadcast(seed)).select(
        "vec_id",
        "v",
        portable_round(_spark_d2(F.col("v"), F.col("ce")), 8).alias("mind"),
    )
    picks = []

    def farthest(m: DataFrame) -> DataFrame:
        """The point farthest from the selected set (ce, cid, cdist); its
        result row joins ``picks`` as step ``len(picks) + 2``."""
        c = (
            m.orderBy(F.col("mind").desc(), "vec_id")
            .limit(1)
            .select(F.col("vec_id").alias("cid"), F.col("mind").alias("cdist"))
        )
        ce = vecs.join(c, vecs["vec_id"] == c["cid"]).select(
            F.col("v").alias("ce"), "cid", "cdist"
        )
        picks.append(
            ce.select(
                F.lit(len(picks) + 2).cast("bigint").alias("step"),
                F.col("cid").cast("bigint").alias("center_id"),
                portable_round(F.col("cdist"), 6).cast("double").alias("dist_to_set"),
            )
        )
        return ce

    def tighten(m: DataFrame, _: int) -> DataFrame:
        ce = farthest(m).select("ce")
        return m.crossJoin(F.broadcast(ce)).select(
            "vec_id",
            "v",
            F.least(
                F.col("mind"),
                portable_round(_spark_d2(F.col("v"), F.col("ce")), 8),
            ).alias("mind"),
        )

    # every pick reads its superseded state in the final action: retain
    m = m.localCheckpoint(eager=True)
    m = iterate(m, tighten, _KCENTER_K - 2, eager=True, retain=True)
    farthest(m)  # the k-th center needs no tightening
    first = spark.createDataFrame(
        [(1, 0, 0.0)], "step long, center_id long, dist_to_set double"
    )
    rows_df = reduce(lambda a, b: a.unionByName(b), picks)
    return first.unionByName(rows_df).orderBy("step")


# ---------------------------------------------------------------------------
# kNN label-noise audit
# ---------------------------------------------------------------------------

_NOISE_K = 5


@query(
    "q_label_noise_knn",
    oracle=f"""
    WITH probes AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id % 10 = 0
    ),
    pool AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    sims AS (
        SELECT p.vec_id AS ip, p.label AS lp, q.vec_id AS iq,
               q.label AS lq,
               {sql_portable_round(
                   "list_reduce(list_transform(generate_series(1, len(p.v)),"
                   " i -> p.v[i] * q.v[i]), (x, y) -> x + y)"
                   " / nullif(sqrt(list_reduce(list_transform("
                   "generate_series(1, len(p.v)), i -> p.v[i] * p.v[i]),"
                   " (x, y) -> x + y)) * sqrt(list_reduce(list_transform("
                   "generate_series(1, len(q.v)), i -> q.v[i] * q.v[i]),"
                   " (x, y) -> x + y)), 0.0)", 8)} AS cos
        FROM probes p JOIN pool q ON p.vec_id <> q.vec_id
    ),
    knn AS (
        SELECT ip, lp, lq FROM (
            SELECT ip, lp, lq,
                   row_number() OVER (PARTITION BY ip
                                      ORDER BY cos DESC, iq) AS rn
            FROM sims
        ) WHERE rn <= {_NOISE_K}
    ),
    per_probe AS (
        SELECT ip, lp,
               CAST(SUM(CASE WHEN lq <> lp THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_disagree
        FROM knn GROUP BY ip, lp
    )
    SELECT CAST(lp AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST({sql_portable_round(
               f"CAST(SUM(n_disagree) AS DOUBLE) / ({_NOISE_K}.0 * COUNT(*))",
               6)} AS DOUBLE) AS avg_disagreement,
           CAST(SUM(CASE WHEN n_disagree >= {_NOISE_K - 1} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_suspect_noisy
    FROM per_probe GROUP BY lp ORDER BY label
    """,
)
def q_label_noise_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label-noise audit (confident-learning-lite; Northcutt et al.
    2021 intuition): for each probe vector, its 5 nearest
    cosine neighbors vote — a probe whose neighborhood systematically
    carries a DIFFERENT label is suspected annotation noise. Reported
    per label: probe count, mean neighbor-disagreement rate, and the
    count of high-suspicion probes (≥ 4/5
    disagreeing neighbors). Disagreement stays in exact integers (the
    average is one exact-int division), cosines are sequential folds
    rounded at 8dp before the rank (iq tie-break). Scale: candidates
    come from operators/similarity.probe_pool_candidates — the exact
    probes × pool grid at fixture scale (oracle-identical), switching
    to banded hyperplane-LSH bucket candidates above its enforced
    200k-row pool threshold, so the O(|probes|·N) join can no longer
    be hit at corpus scale (the now-executable q_mutual_knn contract).
    """
    from stockmarketdata_dwb_etl_spark.operators.similarity import (
        probe_pool_candidates,
    )
    emb = load_table(spark, sf_dir, "embeddings")
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda acc, x: acc + x
    )
    # norms are per-VECTOR, so fold them once per side BEFORE the
    # candidate join instead of once per (probe, pool) pair — same
    # fold over the same array bits, 2/3 less per-pair array work
    # (the join's per-pair cost drops to the dot product alone)
    pool = emb.select(
        F.col("vec_id").alias("iq"),
        F.col("label").alias("lq"),
        F.col("embedding").cast("array<double>").alias("vq"),
    ).withColumn("nq", fold(F.zip_with("vq", "vq", lambda x, y: x * y)))
    probes = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("ip"),
        F.col("label").alias("lp"),
        F.col("embedding").cast("array<double>").alias("vp"),
    ).withColumn("np_", fold(F.zip_with("vp", "vp", lambda x, y: x * y)))
    dot = fold(F.zip_with("vp", "vq", lambda x, y: x * y))
    denom = F.sqrt(F.col("np_")) * F.sqrt(F.col("nq"))
    sims = probe_pool_candidates(probes, pool).select(
        "ip",
        "lp",
        "iq",
        "lq",
        portable_round(dot / F.when(denom != 0.0, denom), 8).alias("cos"),
    )
    w = Window.partitionBy("ip").orderBy(F.col("cos").desc(), "iq")
    knn = (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _NOISE_K)
    )
    per_probe = knn.groupBy("ip", "lp").agg(
        F.sum((F.col("lq") != F.col("lp")).cast("int"))
        .cast("bigint")
        .alias("n_disagree")
    )
    return (
        per_probe.groupBy(F.col("lp").cast("bigint").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probes"),
            portable_round(
                F.sum("n_disagree").cast("double")
                / (F.lit(float(_NOISE_K)) * F.count(F.lit(1))),
                6,
            )
            .cast("double")
            .alias("avg_disagreement"),
            F.sum(
                (F.col("n_disagree") >= _NOISE_K - 1).cast("int")
            )
            .cast("bigint")
            .alias("n_suspect_noisy"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Embedding whitening statistics
# ---------------------------------------------------------------------------


@query(
    "q_whitening_stats",
    oracle=f"""
    WITH ex AS (
        SELECT vec_id, u.idx, CAST(u.val AS DOUBLE) AS val
        FROM embeddings,
             LATERAL (SELECT UNNEST(generate_series(1, len(embedding))) AS idx,
                             UNNEST(CAST(embedding AS DOUBLE[])) AS val) u
    ),
    dims AS (
        SELECT idx, CAST(COUNT(*) AS BIGINT) AS n,
               {sql_term_sum("val", 12)} AS sx,
               {sql_term_sum("val * val", 12)} AS sxx
        FROM ex GROUP BY idx
    ),
    pairs AS (
        SELECT a.idx AS da, b.idx AS db,
               {sql_term_sum("a.val * b.val", 12)} AS sxy
        FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.idx < b.idx
        GROUP BY a.idx, b.idx
    ),
    corr AS (
        SELECT p.da, p.db,
               {sql_portable_round(
                   "(p.sxy / x.n - (x.sx / x.n) * (y.sx / y.n))", 8)} AS cov,
               {sql_portable_round(
                   "(p.sxy / x.n - (x.sx / x.n) * (y.sx / y.n))"
                   " / nullif(sqrt(x.sxx / x.n - (x.sx / x.n) * (x.sx / x.n))"
                   " * sqrt(y.sxx / y.n - (y.sx / y.n) * (y.sx / y.n)), 0.0)",
                   8)} AS corr
        FROM pairs p
        JOIN dims x ON x.idx = p.da
        JOIN dims y ON y.idx = p.db
    )
    SELECT CAST(da AS BIGINT) AS dim_a, CAST(db AS BIGINT) AS dim_b,
           CAST({sql_portable_round("cov", 6)} AS DOUBLE) AS cov,
           CAST({sql_portable_round("corr", 6)} AS DOUBLE) AS corr
    FROM (
        SELECT da, db, cov, corr,
               row_number() OVER (ORDER BY abs(corr) DESC, da, db) AS rn
        FROM corr WHERE corr IS NOT NULL
    ) WHERE rn <= 10
    ORDER BY dim_a, dim_b
    """,
)
def q_whitening_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding decorrelation screen — the statistics a whitening /
    PCA-preprocessing step is fit from: per-dimension moments and the
    10 most-correlated dimension pairs of the 64-dim embedding space
    (|corr| ranked on the ROUNDED coefficient, (dim_a, dim_b)
    tie-break). Strongly correlated dimensions mean the embedding
    wastes capacity; the report is the go/no-go for a whitening
    transform. All moment sums are 12dp round-then-DECIMAL (|val| < 1
    here; bound documented to |val| ≤ ~9e3). Scale: the pair table is
    d(d−1)/2 · n_vec rows with d = 64 CONSTANT — the fan-out is 2016×
    per vector independent of corpus size, one hash-agg keyed by
    (dim_a, dim_b), never a vector×vector join."""
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
        term_sum(F.col("val") * F.col("val"), 12).alias("sxx"),
    )
    from stockmarketdata_dwb_etl_spark.functions.vectors import (
        dim_pair_products,
    )

    # pair products generate MAP-SIDE from each vector's own array (no
    # exploded self-join; the groupBy partial-aggregates the d(d−1)/2
    # keys per partition before its only shuffle — dim_pair_products)
    hi, lo = hilo_term_sum(F.col("prod"), 12)
    pairs = (
        dim_pair_products(
            emb.select(F.col("embedding").cast("array<double>").alias("v"))
        )
        .filter(F.col("ia") < F.col("ib"))
        .groupBy(F.col("ia").alias("da"), F.col("ib").alias("db"))
        # two-long-bucket sum (r13): bit-identical to the DECIMAL term_sum,
        # ~2× cheaper per row on this d²·n hot agg; |prod| < 1 keeps the
        # bigint buckets exact to ~9.2e12 rows per (da, db) group
        .agg(hi.alias("__sh"), lo.alias("__sl"))
        .select(
            "da", "db", hilo_finish(F.col("__sh"), F.col("__sl"), 12).alias("sxy")
        )
    )
    dx = dims.select(
        F.col("idx").alias("da"),
        F.col("n").alias("nx"),
        F.col("sx").alias("sxa"),
        F.col("sxx").alias("sxxa"),
    )
    # dim_b carries its OWN count ny (oracle: y.n) — identical to nx
    # only while every vector contributes a value to every dimension; a
    # ragged or null-element vector must not silently desynchronize the
    # engines.
    dy = dims.select(
        F.col("idx").alias("db"),
        F.col("n").alias("ny"),
        F.col("sx").alias("sxb"),
        F.col("sxx").alias("sxxb"),
    )
    mx = F.col("sxa") / F.col("nx")
    my = F.col("sxb") / F.col("ny")
    cov = F.col("sxy") / F.col("nx") - mx * my
    sda = F.sqrt(F.col("sxxa") / F.col("nx") - mx * mx)
    sdb = F.sqrt(F.col("sxxb") / F.col("ny") - my * my)
    corr = (
        pairs.join(F.broadcast(dx), "da")
        .join(F.broadcast(dy), "db")
        .select(
            "da",
            "db",
            portable_round(cov, 8).alias("cov"),
            portable_round(
                cov / F.when(sda * sdb != 0.0, sda * sdb), 8
            ).alias("corr"),
        )
        .filter(F.col("corr").isNotNull())
    )
    w = Window.orderBy(F.abs(F.col("corr")).desc(), "da", "db")
    return (
        corr.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select(
            F.col("da").cast("bigint").alias("dim_a"),
            F.col("db").cast("bigint").alias("dim_b"),
            portable_round(F.col("cov"), 6).cast("double").alias("cov"),
            portable_round(F.col("corr"), 6).cast("double").alias("corr"),
        )
        .orderBy("dim_a", "dim_b")
    )
