"""Corpus-curation operators round 3: Zipf rank-frequency fit and
shingle-containment (doc-in-doc) near-dup detection.

Complements the dedup/quality families in dataops/dataops2/dataops3: the
Zipf slope is the corpus-health scalar (natural text ≈ −1; synthetic or
boilerplate-heavy corpora drift off), and containment catches snippets
embedded in larger documents — pairs Jaccard misses by construction
(|A∩B|/|A∪B| is small when |A| ≪ |B| even at full containment).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.functions.exact import (
    hilo_finish,
    hilo_term_sum,
    portable_round,
    split_term_sum,
    sql_split_term_sum,
    sql_term_sum,
    term_sum,
)
from stockmarketdata_dwb_etl_spark.functions.text import (
    classifier_scored,
    sql_classifier_scored,
    sql_tokenize,
    sql_word_shingles,
    tokenize,
    word_shingles,
)
from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.operators.iterate import iterate
from stockmarketdata_dwb_etl_spark.registry import query




@query(
    "q_zipf_slope",
    oracle=f"""
    WITH words AS (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    counts AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM words WHERE word <> ''
        GROUP BY word ORDER BY cnt DESC, word LIMIT 500
    ),
    ranked AS (
        SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rk
        FROM counts
    ),
    xy AS (
        SELECT ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
        FROM ranked
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               {sql_term_sum("x", 12)} AS sx,
               {sql_term_sum("y", 12)} AS sy,
               {sql_term_sum("x * y", 12)} AS sxy,
               {sql_term_sum("x * x", 12)} AS sxx,
               {sql_term_sum("y * y", 12)} AS syy
        FROM xy
    )
    SELECT n AS n_terms,
           CAST((CAST(floor(CAST(((n * sxy - sx * sy) / (n * sxx - sx * sx)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                AS DOUBLE) AS zipf_slope,
           CAST((CAST(floor(CAST((sy / n - (n * sxy - sx * sy) / (n * sxx - sx * sx)
                               * (sx / n)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS zipf_intercept,
           CAST((CAST(floor(CAST(((n * sxy - sx * sy) * (n * sxy - sx * sy)
                      / ((n * sxx - sx * sx) * (n * syy - sy * sy))) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                AS DOUBLE) AS r2
    FROM s
    """,
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS of ln(freq) on
    ln(rank) for the top-500 terms — slope ≈ −1 for natural language,
    the one-scalar corpus-health check (with intercept and R²). The
    top-500 selection is TakeOrdered (no global sort); the rank window
    runs over 500 rows; each ln is identical-tree double and every OLS
    moment accumulates through DECIMAL(38,18), so term order cannot
    perturb the fit. Scales: the only full-data stage is the word-count
    hash-agg (partial-agg collapses the explode before its shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "word")
        .limit(500)
    )
    ranked = counts.select(
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), "word"))
        .alias("rk"),
    )
    xy = ranked.select(
        F.log(F.col("rk").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    # 12dp round-then-DECIMAL (r09 cast-scale lesson): a RAW double →
    # DECIMAL(38,18) cast is engine-asymmetric (DuckDB's conversion
    # mangles digits below double precision, Spark's shortest-repr cast
    # does not); rounding first makes the conversion exact on both.
    # |x| ≤ ln 500, |y*y| ≤ ~625, so the 12dp floor term is safe.
    s = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        term_sum(F.col("x"), 12).alias("sx"),
        term_sum(F.col("y"), 12).alias("sy"),
        term_sum(F.col("x") * F.col("y"), 12).alias("sxy"),
        term_sum(F.col("x") * F.col("x"), 12).alias("sxx"),
        term_sum(F.col("y") * F.col("y"), 12).alias("syy"),
    )
    n = F.col("n")
    sx, sy, sxy, sxx, syy = (
        F.col("sx"),
        F.col("sy"),
        F.col("sxy"),
        F.col("sxx"),
        F.col("syy"),
    )
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.alias("n_terms"),
        portable_round(slope, 6).cast("double").alias("zipf_slope"),
        portable_round(sy / n - slope * (sx / n), 6)
        .cast("double")
        .alias("zipf_intercept"),
        portable_round(
            (n * sxy - sx * sy)
            * (n * sxy - sx * sy)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        )
        .cast("double")
        .alias("r2"),
    )


@query(
    "q_containment",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, {sql_tokenize("text")} AS w
        FROM documents
    ),
    snip AS (
        SELECT doc_id + 2000000 AS snip_id, doc_id AS orig_id,
               w[1:greatest((len(w) * 2) // 5, 3)] AS sw
        FROM base WHERE doc_id % 7 = 0 AND len(w) >= 10
    ),
    sh_orig AS (
        SELECT doc_id,
               list_distinct({sql_word_shingles("w", 3)}) AS shingles
        FROM base
    ),
    sh_snip AS (
        SELECT snip_id, orig_id,
               list_distinct({sql_word_shingles("sw", 3)}) AS shingles
        FROM snip
    )
    SELECT s.snip_id, s.orig_id,
           CAST((CAST(floor(CAST((len(list_intersect(s.shingles, o.shingles))::DOUBLE
                      / len(s.shingles)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS containment,
           CAST((CAST(floor(CAST((len(list_intersect(s.shingles, o.shingles))::DOUBLE
                      / len(list_distinct(
                            list_concat(s.shingles, o.shingles)))) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0)
                AS DOUBLE) AS jaccard
    FROM sh_snip s JOIN sh_orig o ON o.doc_id = s.orig_id
    ORDER BY s.snip_id
    """,
)
def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-containment (doc-in-doc) detection: every 7th document
    spawns a snippet (its first 40% of words, integer arithmetic — no
    float boundary); containment |A∩B|/|A| of snippet shingles in the
    original is ≈1 while Jaccard stays low — the asymmetric metric that
    catches quotes/boilerplate embedded in longer documents, which
    Jaccard-based near-dup (q_ngram_jaccard, q_dedup_minhash) structurally
    misses. Array set ops JVM-side; pairs are formed by construction here
    (the oracle-able contract); at 100 TB candidates come from the SAME
    LSH band join as minhash dedup with containment replacing Jaccard in
    the verify stage (operators/dedup.py's banded design — min over A's
    signature only). One equi-join on orig_id, no all-pairs stage."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", tokenize(F.col("text")).alias("w")
    )
    n_keep = F.greatest(
        F.expr("(size(w) * 2) div 5").cast("int"), F.lit(3)
    )
    snip = (
        base.filter((F.col("doc_id") % 7 == 0) & (F.size("w") >= 10))
        .select(
            (F.col("doc_id") + 2_000_000).alias("snip_id"),
            F.col("doc_id").alias("orig_id"),
            F.slice(F.col("w"), F.lit(1), n_keep).alias("sw"),
        )
    )
    sh_orig = base.select(
        F.col("doc_id"),
        F.array_distinct(word_shingles(F.col("w"), 3)).alias("sh_o"),
    )
    sh_snip = snip.select(
        "snip_id",
        "orig_id",
        F.array_distinct(word_shingles(F.col("sw"), 3)).alias("sh_s"),
    )
    inter = F.size(F.array_intersect("sh_s", "sh_o")).cast("double")
    return (
        sh_snip.join(sh_orig, F.col("doc_id") == F.col("orig_id"))
        .select(
            "snip_id",
            "orig_id",
            portable_round(inter / F.size("sh_s"), 4).alias("containment"),
            portable_round(inter / F.size(F.array_union("sh_s", "sh_o")), 4).alias(
                "jaccard"
            ),
        )
        .orderBy("snip_id")
    )


@query(
    "q_feature_scale",
    oracle="""
    WITH ex AS (
        SELECT vec_id, u.idx, u.val
        FROM embeddings,
             LATERAL (SELECT UNNEST(generate_series(1, len(embedding))) AS idx,
                             UNNEST(CAST(embedding AS DOUBLE[])) AS val) u
    ),
    stats AS (
        SELECT idx,
               CAST(SUM(CAST((CAST(floor(CAST(val AS DOUBLE) * 1000000000000.0 + 0.5) AS DOUBLE) / 1000000000000.0) AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*)
                 AS mu,
               sqrt(CAST(SUM(CAST((CAST(floor(CAST(val * val AS DOUBLE) * 1000000000000.0 + 0.5) AS DOUBLE) / 1000000000000.0) AS DECIMAL(38,12))) AS DOUBLE)
                    / COUNT(*)
                    - (CAST(SUM(CAST((CAST(floor(CAST(val AS DOUBLE) * 1000000000000.0 + 0.5) AS DOUBLE) / 1000000000000.0) AS DECIMAL(38,12))) AS DOUBLE)
                       / COUNT(*))
                      * (CAST(SUM(CAST((CAST(floor(CAST(val AS DOUBLE) * 1000000000000.0 + 0.5) AS DOUBLE) / 1000000000000.0) AS DECIMAL(38,12))) AS DOUBLE)
                         / COUNT(*))) AS sigma
        FROM ex GROUP BY idx
    )
    SELECT e.vec_id, e.idx,
           CAST((CAST(floor(CAST(((e.val - s.mu) / s.sigma) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS scaled
    FROM ex e JOIN stats s ON s.idx = e.idx
    WHERE e.vec_id < 50
    ORDER BY e.vec_id, e.idx
    """,
)
def q_feature_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension standardization (the StandardScaler fit+transform):
    posexplode the embedding column, per-dimension μ/σ from exact-decimal
    moment sums over the WHOLE table, z-scale each component via a
    broadcast join of the 64-row stats table — the feature-engineering
    step every downstream model expects, expressed as explode → agg →
    broadcast map-back. μ and σ compute in identical-tree double from the
    exact sums; population σ matches the oracle formula term-for-term.
    Scales: the explode is map-side (×64 rows but no shuffle until the
    64-key agg, which partial-aggregates); transform output is projected
    to the vec_id<50 sample per the display contract."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "idx0", "val"
        ),
    ).select("vec_id", (F.col("idx0") + 1).alias("idx"), "val")
    # round-then-cast (scale == rounding digits): a raw double→DECIMAL
    # conversion is engine-asymmetric below double precision (the
    # q_levene_bf root cause — see stats_q2._dterm); |val| < 1 so 12dp
    # is far inside the int64 floor bound
    dec12 = "decimal(38,12)"
    s_val = F.sum(portable_round(F.col("val"), 12).cast(dec12))
    s_val2 = F.sum(
        portable_round(F.col("val") * F.col("val"), 12).cast(dec12)
    )
    stats = ex.groupBy("idx").agg(
        (s_val.cast("double") / F.count(F.lit(1))).alias("mu"),
        F.sqrt(
            s_val2.cast("double") / F.count(F.lit(1))
            - (s_val.cast("double") / F.count(F.lit(1)))
            * (s_val.cast("double") / F.count(F.lit(1)))
        ).alias("sigma"),
    )
    return (
        ex.filter(F.col("vec_id") < 50)
        .join(F.broadcast(stats), "idx")
        .select(
            "vec_id",
            "idx",
            portable_round((F.col("val") - F.col("mu")) / F.col("sigma"), 6)
            .cast("double")
            .alias("scaled"),
        )
        .orderBy("vec_id", "idx")
    )


@query(
    "q_one_hot_encode",
    oracle="""
    WITH cats AS (
        SELECT event_type,
               CAST(row_number() OVER (ORDER BY event_type) AS INTEGER)
                 AS type_idx,
               CAST(COUNT(*) OVER () AS INTEGER) AS n_types
        FROM (SELECT DISTINCT event_type FROM events)
    )
    SELECT e.event_id, e.event_type, c.type_idx,
           array_to_string(
               list_transform(generate_series(1, c.n_types),
                              i -> CASE WHEN i = c.type_idx
                                        THEN '1' ELSE '0' END), '') AS onehot
    FROM events e JOIN cats c ON c.event_type = e.event_type
    WHERE e.event_id < 500
    ORDER BY e.event_id
    """,
)
def q_one_hot_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-hot encoding of a categorical column: the vocabulary (distinct
    event types, ordered) becomes an index, each row gets its indicator
    vector built with a JVM array lambda — the canonical categorical→
    numeric feature transform. The vocabulary is dimension-sized and
    broadcast; the encode itself is map-only (transform over a generated
    sequence — no per-category column explosion, no Python). Output
    projected to event_id<500 per the display contract. The indicator
    vector is emitted as a '010…0' bit STRING (not array<int>): top-level
    array columns break pandas-sort-based result canonicalizers, so the
    engine's output contract forbids them."""
    ev = load_table(spark, sf_dir, "events")
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cats = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.row_number()
            .over(Window.orderBy("event_type"))
            .cast("int")
            .alias("type_idx"),
            F.count(F.lit(1)).over(w_all).cast("int").alias("n_types"),
        )
    )
    return (
        ev.filter(F.col("event_id") < 500)
        .join(F.broadcast(cats), "event_type")
        .select(
            "event_id",
            "event_type",
            "type_idx",
            F.concat_ws(
                "",
                F.transform(
                    F.sequence(F.lit(1), F.col("n_types")),
                    lambda i: F.when(
                        i == F.col("type_idx"), F.lit("1")
                    ).otherwise(F.lit("0")),
                ),
            ).alias("onehot"),
        )
        .orderBy("event_id")
    )





def _pi_iteration_sql(vprev: str, tag: str) -> str:
    """One unrolled power-iteration level for the oracle: scores s_i =
    <x_i, v>, unnormalized next w_d = Σ x_id·s_i, l2-normalize, 12dp."""
    return f"""
    s{tag} AS (
        SELECT e.vec_id,
               (CAST(floor(CAST(({sql_term_sum("e.val * v.comp", 12)}) AS DOUBLE) * 1000000000000.0 + 0.5) AS DOUBLE) / 1000000000000.0) AS s
        FROM ex e JOIN {vprev} v ON v.idx = e.idx
        GROUP BY e.vec_id
    ),
    w{tag} AS (
        SELECT e.idx,
               (CAST(floor(CAST(({sql_term_sum("e.val * s.s", 12)}) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS w
        FROM ex e JOIN s{tag} s ON s.vec_id = e.vec_id
        GROUP BY e.idx
    ),
    n{tag} AS (
        SELECT sqrt({sql_split_term_sum("w * w", 12, 6)})
                 AS nrm
        FROM w{tag}
    ),
    v{tag} AS (
        SELECT w.idx, (CAST(floor(CAST((w.w / n.nrm) AS DOUBLE) * 1000000000000.0 + 0.5) AS DOUBLE) / 1000000000000.0) AS comp
        FROM w{tag} w CROSS JOIN n{tag} n
    )"""


@query(
    "q_power_iteration",
    oracle=f"""
    WITH ex AS (
        SELECT vec_id, u.idx, u.val
        FROM embeddings,
             LATERAL (SELECT UNNEST(generate_series(1, len(embedding))) AS idx,
                             UNNEST(CAST(embedding AS DOUBLE[])) AS val) u
    ),
    v0 AS (
        SELECT u.idx, (CAST(floor(CAST((u.val) AS DOUBLE) * 1000000000000.0 + 0.5) AS DOUBLE) / 1000000000000.0) AS comp
        FROM embeddings,
             LATERAL (SELECT UNNEST(generate_series(1, len(embedding))) AS idx,
                             UNNEST(CAST(embedding AS DOUBLE[])) AS val) u
        WHERE vec_id = 0
    ),
    {_pi_iteration_sql('v0', '1')},
    {_pi_iteration_sql('v1', '2')},
    {_pi_iteration_sql('v2', '3')}
    SELECT v.idx, CAST(v.comp AS DOUBLE) AS component,
           CAST((CAST(floor(CAST((n.nrm) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS eigenvalue_est
    FROM v3 v CROSS JOIN n3 n
    ORDER BY v.idx
    """,
)
def q_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant eigenvector of the embedding Gram matrix XᵀX by THREE
    power-iteration supersteps — iterative linear algebra expressed as
    pure DataFrame joins/aggs (the PCA-direction primitive; with
    q_pagerank_iter and q_kmeans_assign this completes the iterative-
    algorithm family). Per step: scores s_i = ⟨x_i, v⟩ (explode + 64-row
    broadcast join + per-vector agg), update w_d = Σ x_id·s_i (second
    agg keyed by dimension), l2-normalize via a 1-row cross join. No
    collect anywhere — v stays a 64-row DataFrame between supersteps,
    exactly the Pregel shape. Determinism: every accumulation runs
    through DECIMAL(38,18); scores and components round (12dp, w at 6dp)
    each step on BOTH engines, so float trajectories cannot drift; the
    seed is vec 0's raw components. Eigenvalue estimate = final
    pre-normalization norm (Rayleigh-style). Scales: the exploded table
    shuffles on vec_id/idx only — state per superstep is one dim-sized
    vector, the same posture as PageRank's rank table."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "idx0", "val"
        ),
    ).select("vec_id", (F.col("idx0") + 1).alias("idx"), "val")
    from stockmarketdata_dwb_etl_spark.operators.cache import bounded_persist

    ex = bounded_persist(ex, "power-iter-components")

    def unit(w: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(w / ‖w‖ as ``comp``, the 1-row norm)."""
        nrm_df = w.agg(
            F.sqrt(split_term_sum(F.col("w") * F.col("w"), 12, 6)).alias("nrm")
        )
        v = w.crossJoin(F.broadcast(nrm_df)).select(
            "idx", portable_round(F.col("w") / F.col("nrm"), 12).alias("comp")
        )
        return v, nrm_df

    def power_step(w: DataFrame, i: int) -> DataFrame:
        """w ← Xᵀ(X v) for v = the seed (first step) or w / ‖w‖."""
        v = w if i == 0 else unit(w)[0]
        s = (
            ex.join(F.broadcast(v), "idx")
            .groupBy("vec_id")
            .agg(
                portable_round(
                    term_sum(F.col("val") * F.col("comp"), 12),
                    12,
                ).alias("s")
            )
        )
        return (
            ex.join(F.broadcast(s), "vec_id")
            .groupBy("idx")
            .agg(
                portable_round(
                    term_sum(F.col("val") * F.col("s"), 12),
                    6,
                ).alias("w")
            )
        )

    # w is 64 rows, but uncut every later broadcast re-executes the whole
    # prior-iteration lineage (measured: 43 exchanges / 53 broadcasts for
    # 3 steps uncut vs one superstep per stage cut)
    seed = ex.filter(F.col("vec_id") == 0).select(
        "idx", portable_round(F.col("val"), 12).alias("comp")
    )
    v, nrm_df = unit(iterate(seed, power_step, 3, eager=True))
    return (
        v.crossJoin(F.broadcast(nrm_df))
        .select(
            "idx",
            F.col("comp").cast("double").alias("component"),
            portable_round(F.col("nrm"), 4).cast("double").alias("eigenvalue_est"),
        )
        .orderBy("idx")
    )


@query(
    "q_dedup_cross_corpus",
    oracle=f"""
    WITH corp AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id, text || ' qq1 qq2 qq3' AS text
        FROM documents WHERE doc_id % 14 = 0
    ),
    hold AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
    aug AS (SELECT * FROM corp UNION ALL SELECT * FROM hold),
    sh AS (
        SELECT doc_id,
               list_distinct({sql_word_shingles("w", 3)}) AS shingles
        FROM (SELECT doc_id,
                     {sql_tokenize("text")} AS w
              FROM aug)
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jac AS (
        SELECT i.id_a, i.id_b,
               CAST((CAST(floor(CAST((i.c::DOUBLE / (sa.n + sb.n - i.c)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE)
                   AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE (CAST(floor(CAST((i.c::DOUBLE / (sa.n + sb.n - i.c)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) >= 0.7
    )
    SELECT CAST(CASE WHEN id_a % 7 = 0 THEN id_b ELSE id_a END AS BIGINT)
               AS corpus_id,
           CAST(CASE WHEN id_a % 7 = 0 THEN id_a ELSE id_b END AS BIGINT)
               AS holdout_id,
           jaccard
    FROM jac
    WHERE (id_a % 7 = 0) <> (id_b % 7 = 0)
    ORDER BY corpus_id, holdout_id
    """,
)
def q_dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination by NEAR-duplicate match — the fuzzy
    complement to q_contamination's exact 8-gram check (the Dolma /
    FineWeb decontamination step): find training-corpus documents whose
    shingle Jaccard against any held-out benchmark document clears 0.7,
    via the same MinHash-LSH + exact-verify pipeline as q_dedup_minhash
    (one LSH pass over the union; cross-side pairs selected after
    verification, so corpus-corpus dup pairs ride along free). The
    fixture plants contaminated docs (every 14th holdout doc re-entered
    with a 3-word suffix under a shifted id); the oracle computes exact
    ground truth via the inverted shingle index, certifying LSH recall,
    and the id%7 side rule is engine-exact integer arithmetic. Scale:
    identical posture to q_dedup_minhash — shuffles on doc_id/band_hash
    only — with two cross-specific bounds (VERDICT r03 #6): candidates
    are generated per band bucket as corpus×holdout ONLY (never
    corpus×corpus, ~3× fewer pairs verified on this fixture), and the
    holdout side is capped per bucket (blocked_edit's bounded-bucket
    policy), so a boilerplate bucket's pair fan-out stays linear in the
    corpus members. The holdout side is MBs in production, so its bands
    could broadcast, but the union plan needs no such special case."""
    docs = load_table(spark, sf_dir, "documents")
    corp = docs.filter(F.col("doc_id") % 7 != 0).select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 14 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat("text", F.lit(" qq1 qq2 qq3")).alias("text"),
    )
    hold = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text")
    aug = corp.unionByName(planted).unionByName(hold)

    from stockmarketdata_dwb_etl_spark.operators.dedup import (
        minhash_cross_near_dups,
    )

    # holdout rule: id % 7 == 0 (planted re-entries land at % 7 == 2)
    pairs = minhash_cross_near_dups(
        aug, lambda c: c % 7 == 0, id_col="doc_id", text_col="text"
    )
    a_hold = F.col("id_a") % 7 == 0
    return (
        pairs
        .select(
            F.when(a_hold, F.col("id_b"))
            .otherwise(F.col("id_a"))
            .cast("bigint")
            .alias("corpus_id"),
            F.when(a_hold, F.col("id_a"))
            .otherwise(F.col("id_b"))
            .cast("bigint")
            .alias("holdout_id"),
            "jaccard",
        )
        # land in a shuffle before the presentation sort: the global
        # orderBy's range sampling would re-execute the cross-side
        # Jaccard verify; both passes read the interposed exchange
        .repartition("corpus_id")
        .orderBy("corpus_id", "holdout_id")
    )


@query(
    "q_quality_classifier",
    oracle=f"""
    WITH scored AS ({sql_classifier_scored("doc_id")})
    SELECT CAST(least(CAST(floor(score * 10) AS BIGINT), 9) AS BIGINT)
               AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST((CAST(floor(CAST((CAST(SUM(CAST(score AS DECIMAL(38,6))) AS DOUBLE)
                      / COUNT(*)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS avg_score
    FROM scored GROUP BY 1 ORDER BY 1
    """,
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality scorer — the deterministic stand-in for the
    fastText/classifier quality gate every LLM corpus pipeline runs
    (FineWeb-Edu-style): per-doc features (word count capped at 200,
    mean word length, stopword ratio, digit ratio) combined by fixed
    literal weights through a sigmoid, bucketed into score deciles.
    Features are exact integer counts over the split-on-space token
    array; the sigmoid runs in double with the IDENTICAL expression
    tree on both engines and rounds to 6dp before bucketing, so decile
    assignment is engine-exact; per-bucket means accumulate the rounded
    scores in exact DECIMAL. Scale: map-only feature extraction (0
    shuffles until the decile hash-agg) — streams the corpus once, the
    same posture as q_text_quality / q_quality_gate."""
    docs = load_table(spark, sf_dir, "documents")
    scored = classifier_scored(docs, "doc_id")
    return (
        scored.groupBy(
            F.least(F.floor(F.col("score") * 10).cast("bigint"), F.lit(9))
            .cast("bigint")
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            portable_round(
                F.sum(F.col("score").cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            )
            .cast("double")
            .alias("avg_score"),
        )
        .orderBy("bucket")
    )


@query(
    "q_multimodal_dedup",
    oracle="""
    WITH aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 3000000 AS doc_id, text FROM documents
        WHERE doc_id % 9 = 0
    ),
    h AS (
        SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS media_type,
               md5(text) AS ph,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(MAX(strlen(text)) AS BIGINT) AS nb
        FROM aug GROUP BY 1, 2
    )
    SELECT media_type,
           CAST(SUM(cnt) AS BIGINT) AS n_blobs,
           CAST(COUNT(*) AS BIGINT) AS n_unique,
           CAST(SUM(cnt - 1) AS BIGINT) AS n_dup_rows,
           CAST(SUM((cnt - 1) * nb) AS BIGINT) AS bytes_saved
    FROM h GROUP BY media_type ORDER BY media_type
    """,
)
def q_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact byte-level dedup over opaque media payloads — the
    content-addressable-storage report every multimodal corpus runs
    before training (identical frames/clips re-crawled under new ids):
    blobs group by md5(payload) per media type; the report counts rows,
    unique payloads, duplicate rows, and the exact bytes a
    store-by-digest layout would save. The fixture plants duplicate
    payloads (every 9th doc re-entered under a shifted id — the +3M
    shift is ≡0 mod 3, so the copy keeps its media_type and the oracle's
    id-derived type rule stays exact). md5 is standardized → the oracle
    reproduces digests bit-for-bit from the same bytes. Scale: ONE
    hash-agg shuffle keyed on (type, digest) carrying digests + sizes —
    payload bytes never shuffle (the digest is computed map-side); the
    rollup is a second tiny agg."""
    from stockmarketdata_dwb_etl_spark.sources.multimodal import build_media_table

    media = build_media_table(spark, sf_dir)
    planted = (
        media.filter(F.col("doc_id") % 9 == 0)
        .withColumn("doc_id", F.col("doc_id") + 3_000_000)
    )
    allm = media.unionByName(planted)
    per_hash = allm.groupBy(
        "media_type", F.md5("payload").alias("ph")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.max(F.col("meta.n_bytes")).cast("bigint").alias("nb"),
    )
    return (
        per_hash.groupBy("media_type")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_blobs"),
            F.count(F.lit(1)).cast("bigint").alias("n_unique"),
            F.sum(F.col("cnt") - 1).cast("bigint").alias("n_dup_rows"),
            F.sum((F.col("cnt") - 1) * F.col("nb"))
            .cast("bigint")
            .alias("bytes_saved"),
        )
        .orderBy("media_type")
    )


@query(
    "q_embed_norm_audit",
    oracle="""
    WITH norms AS (
        SELECT vec_id,
               CAST(len(embedding) AS BIGINT) AS dim,
               sqrt(list_sum(list_transform(embedding,
                                            x -> CAST(x AS DOUBLE)
                                                 * CAST(x AS DOUBLE))))
                   AS nrm
        FROM embeddings
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(MIN(dim) AS BIGINT) AS min_dim,
           CAST(MAX(dim) AS BIGINT) AS max_dim,
           CAST(COUNT(*) FILTER (WHERE nrm < 1e-12) AS BIGINT) AS n_zero,
           CAST((CAST(floor(CAST((MIN(nrm)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS min_norm,
           CAST((CAST(floor(CAST((MAX(nrm)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS max_norm,
           CAST((CAST(floor(CAST((CAST(SUM(CAST(ROUND(nrm, 6) AS DECIMAL(38,6)))
                           AS DOUBLE) / COUNT(*)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS avg_norm
    FROM norms
    """,
)
def q_embed_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table health audit — the pre-flight check before any
    similarity/ANN job: vector count, dimension constancy (min=max
    proves no ragged rows), zero-norm vectors (which poison cosine), and
    the L2-norm envelope. Per-vector norms fold float32 components
    upcast to double in the IDENTICAL left-fold order on both engines
    (the established embedding-family convention); the mean accumulates
    6dp-rounded norms in exact DECIMAL so partition order cannot move
    the 4dp output. Scale: map-only norm computation (0 shuffles) into
    one global agg — streams the embedding table once."""
    emb = load_table(spark, sf_dir, "embeddings")
    norms = emb.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.sqrt(
            F.aggregate(
                "embedding",
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ).alias("nrm"),
    )
    return norms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.min("dim").cast("bigint").alias("min_dim"),
        F.max("dim").cast("bigint").alias("max_dim"),
        F.count(F.when(F.col("nrm") < 1e-12, 1)).cast("bigint").alias("n_zero"),
        portable_round(F.min("nrm"), 4).cast("double").alias("min_norm"),
        portable_round(F.max("nrm"), 4).cast("double").alias("max_norm"),
        portable_round(
            # 6dp-pre-rounded norms cast at their OWN scale: exact on
            # both engines (k <= ~1e10 << 2^53)
            term_sum(F.col("nrm"), 6)
            / F.count(F.lit(1)),
            4,
        )
        .cast("double")
        .alias("avg_norm"),
    )


@query(
    "q_token_budget_trim",
    oracle=f"""
    WITH scored AS ({sql_classifier_scored("doc_id", "source", n_words="n_tokens")}),
    budget AS (
        SELECT CAST(ceil(0.25 * SUM(n_tokens)) AS BIGINT) AS b FROM scored
    ),
    ranked AS (
        SELECT doc_id, source, n_tokens, score,
               SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM scored
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept,
           CAST((CAST(floor(CAST((CAST(SUM(CAST(score AS DECIMAL(38,6))) AS DOUBLE)
                      / COUNT(*)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS avg_score
    FROM ranked, budget
    WHERE cum <= budget.b
    GROUP BY source ORDER BY source
    """,
)
def q_token_budget_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus trim — the data-mixing cut every LLM pipeline
    runs ("keep the best 25% of tokens"): documents score through the
    SAME fixed-weight sigmoid as q_quality_classifier, order by (score
    desc, doc_id), and the cut keeps the prefix whose cumulative token
    count fits the budget. The cumulative sum runs through
    ``operators/rank.global_prefix_sum`` (range shuffle + P-row offset
    stitch, same as sequence packing) — NO single-reducer window over
    the corpus, which is what makes a deterministic global
    quality-ranked cut feasible at 100 TB; the oracle states the
    identical cut with a plain SQL window at fixture scale. Scores
    round to 6dp before ordering so the rank order is engine-exact;
    doc_id breaks ties."""
    from stockmarketdata_dwb_etl_spark.operators.rank import global_prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    scored = classifier_scored(docs, "doc_id", "source", n_words="n_tokens")
    budget = scored.agg(
        F.ceil(F.lit(0.25) * F.sum("n_tokens")).cast("bigint").alias("b")
    )
    ranked = global_prefix_sum(
        scored,
        "n_tokens",
        [F.col("score").desc(), F.col("doc_id")],
        out="prefix",
    )
    kept = (
        ranked.crossJoin(F.broadcast(budget))
        .filter(F.col("prefix") + F.col("n_tokens") <= F.col("b"))
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs_kept"),
            F.sum("n_tokens").cast("bigint").alias("tokens_kept"),
            portable_round(
                F.sum(F.col("score").cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            )
            .cast("double")
            .alias("avg_score"),
        )
        .orderBy("source")
    )


@query(
    "q_dedup_chunks",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 4000000 AS doc_id, text FROM documents
        WHERE doc_id % 11 = 0
    ),
    w AS (
        SELECT doc_id,
               {sql_tokenize("text")} AS ws
        FROM aug
    ),
    ch AS (
        SELECT doc_id, i - 1 AS pos,
               array_to_string(
                   list_slice(ws, (i - 1) * 10 + 1,
                              least(i * 10, len(ws))), ' ') AS chunk
        FROM w, LATERAL (
            SELECT UNNEST(generate_series(
                1, CAST(ceil(len(ws) / 10.0) AS BIGINT))) AS i)
        WHERE len(ws) > 0
    ),
    keyed AS (
        SELECT doc_id, pos, md5(chunk) AS h,
               printf('%012d-%06d', doc_id, pos) AS k
        FROM ch
    ),
    keeper AS (
        SELECT h, MIN(k) AS keep_k FROM keyed GROUP BY h
    )
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) FILTER (WHERE c.k = kp.keep_k) AS BIGINT)
               AS n_retained,
           CAST((CAST(floor(CAST((CAST(COUNT(*) FILTER (WHERE c.k = kp.keep_k)
                           AS DOUBLE) / COUNT(*)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE)
               AS retained_ratio
    FROM keyed c JOIN keeper kp ON kp.h = c.h
    GROUP BY c.doc_id ORDER BY c.doc_id
    """,
)
def q_dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document chunk dedup — the paragraph-granularity removal
    transform (Dolma-style) that whole-doc dedup cannot express: split
    every document into fixed 10-word chunks, keep each distinct chunk
    only at its FIRST global occurrence (min (doc_id, pos), encoded as
    a zero-padded sortable key so the keeper choice is engine-exact),
    and report per-document retention. The fixture plants full copies
    (every 11th doc re-entered at a shifted id) whose chunks all lose
    to their originals — retained_ratio 0 by construction, proving the
    transform. Scale: chunks shuffle on the md5 hash only (chunk text
    rides to the verify join but never re-shuffles per band — one
    hash-agg + one join); chunking itself is a map-side array
    comprehension."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") % 11 == 0).select(
            (F.col("doc_id") + 4_000_000).alias("doc_id"), "text"
        )
    )
    ws = tokenize("text")
    w = aug.select("doc_id", ws.alias("ws")).filter(F.size("ws") > 0)
    n_ch = F.ceil(F.size("ws") / F.lit(10.0)).cast("int")
    chunks = w.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), n_ch),
                lambda i: F.struct(
                    (i - 1).alias("pos"),
                    F.array_join(
                        F.slice("ws", (i - 1) * 10 + 1, 10), " "
                    ).alias("chunk"),
                ),
            )
        ).alias("c"),
    ).select("doc_id", "c.pos", "c.chunk")
    keyed = chunks.select(
        "doc_id",
        "pos",
        F.md5("chunk").alias("h"),
        F.format_string("%012d-%06d", "doc_id", "pos").alias("k"),
    )
    keeper = keyed.groupBy("h").agg(F.min("k").alias("keep_k"))
    return (
        keyed.join(keeper, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.count(F.when(F.col("k") == F.col("keep_k"), 1))
            .cast("bigint")
            .alias("n_retained"),
            portable_round(
                F.count(F.when(F.col("k") == F.col("keep_k"), 1)).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                4,
            )
            .cast("double")
            .alias("retained_ratio"),
        )
        .orderBy("doc_id")
    )


# The classifier-metric fixture: a quality-classifier sigmoid scoring
# lang='en' membership, as (y, score) pairs. Shared by the classifier
# queries here and in dataops7, dataops20 and dataops22.
SQL_SCORED_EN = f"""
    scored AS (
        SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, score
        FROM ({sql_classifier_scored("lang")})
    )
"""


def scored_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of :data:`SQL_SCORED_EN`."""
    docs = load_table(spark, sf_dir, "documents")
    return classifier_scored(docs, "lang").select(
        (F.col("lang") == "en").cast("int").alias("y"), "score"
    )


@query(
    "q_roc_auc",
    oracle=f"""
    WITH {SQL_SCORED_EN},
    grp AS (
        SELECT score,
               CAST(SUM(y) AS BIGINT) AS pos_at,
               CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg_at
        FROM scored GROUP BY score
    ),
    cum AS (
        SELECT pos_at, neg_at,
               CAST(COALESCE(SUM(neg_at) OVER (ORDER BY score
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS BIGINT)
                   AS neg_below
        FROM grp
    ),
    agg AS (
        SELECT CAST(SUM(2 * neg_below * pos_at + pos_at * neg_at)
                    AS BIGINT) AS num2,
               CAST((SELECT SUM(pos_at) FROM grp) AS BIGINT) AS n_pos,
               CAST((SELECT SUM(neg_at) FROM grp) AS BIGINT) AS n_neg
        FROM cum
    )
    SELECT n_pos, n_neg,
           CAST((10000 * num2 + n_pos * n_neg)
                // (2 * n_pos * n_neg) AS BIGINT) AS auc_x10000
    FROM agg
    """,
)
def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC of the quality-classifier score predicting
    lang='en' — warehouse-scale model evaluation with no ML library:
    the Mann–Whitney formulation over score groups, 2·AUC·n₊·n₋ =
    Σ(2·negs_below·pos_at + pos_at·neg_at) (the half-credit tie term
    kept integral by the factor 2), so the WHOLE computation is exact
    integer arithmetic — no rank floats, no float boundary; the final
    AUC emits integer-scaled 1e-4 with integer half-up rounding. Scale:
    one score hash-agg + a cumulative window over DISTINCT score values
    (bounded by score resolution, not rows) + one tiny agg — this is
    how AUC stays one pass at 1e12 rows."""
    scored = scored_en(spark, sf_dir)
    grp = scored.groupBy("score").agg(
        F.sum("y").cast("bigint").alias("pos_at"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("neg_at"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    cum = grp.select(
        "pos_at",
        "neg_at",
        F.coalesce(F.sum("neg_at").over(w), F.lit(0))
        .cast("bigint")
        .alias("neg_below"),
    )
    agg = cum.agg(
        F.sum(
            F.lit(2) * F.col("neg_below") * F.col("pos_at")
            + F.col("pos_at") * F.col("neg_at")
        )
        .cast("bigint")
        .alias("num2"),
        F.sum("pos_at").cast("bigint").alias("n_pos"),
        F.sum("neg_at").cast("bigint").alias("n_neg"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.expr("(10000 * num2 + n_pos * n_neg) div (2 * n_pos * n_neg)")
        .cast("bigint")
        .alias("auc_x10000"),
    )


@query(
    "q_pr_curve",
    oracle=f"""
    WITH {SQL_SCORED_EN},
    thresholds AS (
        SELECT UNNEST(generate_series(1, 9)) / 10.0 AS t
    ),
    counts AS (
        SELECT t.t,
               CAST(COUNT(*) FILTER (WHERE s.score >= t.t AND s.y = 1)
                    AS BIGINT) AS tp,
               CAST(COUNT(*) FILTER (WHERE s.score >= t.t AND s.y = 0)
                    AS BIGINT) AS fp,
               CAST(COUNT(*) FILTER (WHERE s.score < t.t AND s.y = 1)
                    AS BIGINT) AS fn
        FROM scored s CROSS JOIN thresholds t
        GROUP BY t.t
    )
    SELECT CAST(t AS DOUBLE) AS threshold, tp, fp, fn,
           CAST(CASE WHEN tp + fp = 0 THEN NULL
                ELSE (2 * 10000 * tp + (tp + fp)) // (2 * (tp + fp)) END
                AS BIGINT) AS precision_x10000,
           CAST(CASE WHEN tp + fn = 0 THEN NULL
                ELSE (2 * 10000 * tp + (tp + fn)) // (2 * (tp + fn)) END
                AS BIGINT) AS recall_x10000,
           CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
                ELSE (2 * 10000 * 2 * tp + (2 * tp + fp + fn))
                     // (2 * (2 * tp + fp + fn)) END
                AS BIGINT) AS f1_x10000
    FROM counts ORDER BY threshold
    """,
)
def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 at nine score thresholds — the operating-
    point table that accompanies q_roc_auc when a cut must actually be
    chosen: TP/FP/FN are exact integer counts per threshold (one pass,
    thresholds broadcast), precision/recall/F1 emit integer-scaled 1e-4
    with pure integer half-up rounding (F1 = 2TP/(2TP+FP+FN) stays a
    ratio of integers). Degenerate denominators yield NULL on both
    engines. Scale: scored corpus × 9 thresholds, partial+final agg —
    one shuffle of 9-key width."""
    scored = scored_en(spark, sf_dir)
    thresholds = spark.range(1, 10).select(
        (F.col("id") / 10.0).alias("t")
    )
    counts = (
        scored.crossJoin(F.broadcast(thresholds))
        .groupBy("t")
        .agg(
            F.count(F.when((F.col("score") >= F.col("t")) & (F.col("y") == 1), 1))
            .cast("bigint")
            .alias("tp"),
            F.count(F.when((F.col("score") >= F.col("t")) & (F.col("y") == 0), 1))
            .cast("bigint")
            .alias("fp"),
            F.count(F.when((F.col("score") < F.col("t")) & (F.col("y") == 1), 1))
            .cast("bigint")
            .alias("fn"),
        )
    )
    return counts.select(
        F.col("t").cast("double").alias("threshold"),
        "tp",
        "fp",
        "fn",
        F.when(F.col("tp") + F.col("fp") == 0, F.lit(None).cast("bigint"))
        .otherwise(
            F.expr("(2 * 10000 * tp + (tp + fp)) div (2 * (tp + fp))")
        )
        .cast("bigint")
        .alias("precision_x10000"),
        F.when(F.col("tp") + F.col("fn") == 0, F.lit(None).cast("bigint"))
        .otherwise(
            F.expr("(2 * 10000 * tp + (tp + fn)) div (2 * (tp + fn))")
        )
        .cast("bigint")
        .alias("recall_x10000"),
        F.when(
            F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn") == 0,
            F.lit(None).cast("bigint"),
        )
        .otherwise(
            F.expr(
                "(2 * 10000 * 2 * tp + (2 * tp + fp + fn))"
                " div (2 * (2 * tp + fp + fn))"
            )
        )
        .cast("bigint")
        .alias("f1_x10000"),
    ).orderBy("threshold")


@query(
    "q_calibration_bins",
    oracle=f"""
    WITH {SQL_SCORED_EN},
    binned AS (
        SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS bin,
               y, CAST(score AS DECIMAL(18,6)) AS s6
        FROM scored
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(y) AS BIGINT) AS n_positive,
           CAST((2 * 10000 * SUM(y) + COUNT(*)) // (2 * COUNT(*))
                AS BIGINT) AS actual_rate_x10000,
           CAST((2 * 10000 * CAST(SUM(s6) * 1000000 AS BIGINT)
                 + 1000000 * COUNT(*))
                // (2 * 1000000 * COUNT(*)) AS BIGINT)
               AS predicted_rate_x10000
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability table for the classifier score: per
    score decile, the ACTUAL positive rate vs the mean PREDICTED score
    — the diagram that tells you whether 0.8 means 80%. Actual rate is
    a pure integer ratio; the predicted mean accumulates 6dp scores as
    exact DECIMAL then converts to integer 1e-6 units, so BOTH rates
    emit integer-scaled 1e-4 with integer half-up rounding — no float
    at any output boundary. Scale: map-side binning into a 10-key
    partial+final agg."""
    scored = scored_en(spark, sf_dir)
    binned = scored.select(
        F.least(F.floor(F.col("score") * 10).cast("bigint"), F.lit(9)).alias(
            "bin"
        ),
        "y",
        F.col("score").cast("decimal(18,6)").alias("s6"),
    )
    g = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("y").cast("bigint").alias("n_positive"),
        (F.sum("s6") * 1_000_000).cast("bigint").alias("__s_units"),
    )
    return g.select(
        "bin",
        "n_docs",
        "n_positive",
        F.expr("(2 * 10000 * n_positive + n_docs) div (2 * n_docs)")
        .cast("bigint")
        .alias("actual_rate_x10000"),
        F.expr(
            "(2 * 10000 * __s_units + 1000000 * n_docs)"
            " div (2 * 1000000 * n_docs)"
        )
        .cast("bigint")
        .alias("predicted_rate_x10000"),
    ).orderBy("bin")


@query(
    "q_lsh_tuning_curve",
    oracle="""
    WITH configs(bands, rows_per_band) AS (
        VALUES (32, 1), (16, 2), (8, 4), (4, 8)
    ),
    grid AS (
        SELECT UNNEST(generate_series(1, 19)) AS i
    )
    SELECT c.bands, c.rows_per_band,
           CAST(g.i / 20.0 AS DOUBLE) AS jaccard,
           CAST((CAST(floor(CAST((1.0 - pow(1.0 - pow(g.i / 20.0, c.rows_per_band),
                                c.bands)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS p_candidate
    FROM configs c CROSS JOIN grid g
    ORDER BY bands, rows_per_band, jaccard
    """,
)
def q_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH S-curve tuning table — the parameter-selection tool behind
    every banded dedup in this repo: P(candidate | jaccard) =
    1 − (1 − j^r)^b over a jaccard grid for the four standard
    32-permutation band splits. Pure generated computation (no table
    scan — the one query whose input is the parameter space itself);
    both engines evaluate the identical pow tree on identical grid
    doubles, 6dp round. This is how 16×2 was chosen for
    q_dedup_minhash: at j=0.7 the curve reads ≈0.99998 (the recall the
    oracle certifies) while at j=0.3 it reads ≈0.08 — the
    false-candidate rate the verify stage absorbs."""
    configs = spark.createDataFrame(
        [(32, 1), (16, 2), (8, 4), (4, 8)], "bands int, rows_per_band int"
    )
    grid = spark.range(1, 20).select((F.col("id") / 20.0).alias("jaccard"))
    return (
        configs.crossJoin(grid)
        .select(
            "bands",
            "rows_per_band",
            F.col("jaccard").cast("double").alias("jaccard"),
            portable_round(
                F.lit(1.0)
                - F.pow(
                    F.lit(1.0) - F.pow("jaccard", F.col("rows_per_band")),
                    F.col("bands"),
                ),
                6,
            )
            .cast("double")
            .alias("p_candidate"),
        )
        .orderBy("bands", "rows_per_band", "jaccard")
    )


@query(
    "q_gram_matrix",
    oracle=f"""
    WITH ex AS (
        SELECT vec_id, u.idx, u.val
        FROM embeddings,
             LATERAL (SELECT UNNEST(generate_series(1, len(embedding))) AS idx,
                             UNNEST(embedding) AS val) u
    )
    SELECT a.idx AS i, b.idx AS j,
           CAST((CAST(floor(CAST(({sql_term_sum("CAST(a.val AS DOUBLE) * CAST(b.val AS DOUBLE)", 12)}) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS gram
    FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.idx <= b.idx
    GROUP BY a.idx, b.idx
    ORDER BY i, j
    """,
)
def q_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gram matrix XᵀX of the embedding table (upper triangle — the
    matrix is symmetric), the one-pass precursor to PCA / whitening /
    covariance at corpus scale: each row contributes its outer product
    MAP-SIDE (a JVM array comprehension flattens v⊗v to (i, j, x·y)
    triples — no self-join, no shuffle of vector data), and the only
    exchange is the partial+final agg over the fixed d(d+1)/2 = 2080
    cell keys. Per-term products are float32 upcast to double
    (identical bits), cell sums accumulate in exact DECIMAL. Paired
    with q_power_iteration (which extracts the dominant eigenvector),
    this is the distributed linear-algebra kit a 100 TB embedding
    corpus needs: reducer state is bounded by d², never by rows."""
    from stockmarketdata_dwb_etl_spark.functions.vectors import spread_rows

    # the d(d+1)/2-per-row fan is CPU-bound: spread a split-starved
    # small scan across the session's cores first (no-op at scale where
    # input splits provide the parallelism — see vectors.spread_rows)
    emb = spread_rows(load_table(spark, sf_dir, "embeddings"))
    v = F.transform("embedding", lambda x: x.cast("double"))
    triples = emb.select(
        F.explode(
            F.flatten(
                F.transform(
                    v,
                    lambda x, i: F.filter(
                        F.transform(
                            v,
                            lambda y, j: F.struct(
                                (i + 1).alias("i"),
                                (j + 1).alias("j"),
                                (x * y).alias("p"),
                            ),
                        ),
                        lambda s: s["j"] >= s["i"],
                    ),
                )
            )
        ).alias("t")
    ).select("t.i", "t.j", "t.p")
    # component products are < 1 (|f32 comp| < 0.6), so the 12dp scaled
    # term fits the two-long-bucket sum (r13: the DECIMAL(38,12) agg was
    # 2.2× the plain-long agg cost on this d²·n-row stage; hilo_term_sum is
    # bit-identical — same exact rational, one double cast per group —
    # and its 9.2e12-rows-per-group overflow bound dwarfs any corpus)
    hi, lo = hilo_term_sum(F.col("p"), 12)
    return (
        triples.groupBy("i", "j")
        .agg(hi.alias("sh"), lo.alias("sl"))
        .select(
            "i",
            "j",
            portable_round(hilo_finish(F.col("sh"), F.col("sl"), 12), 6)
            .cast("double")
            .alias("gram"),
        )
        .orderBy("i", "j")
    )


@query(
    "q_vocab_coverage",
    oracle=f"""
    WITH counts AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT UNNEST({sql_tokenize("text")}) AS word
              FROM documents)
        GROUP BY word
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts),
    ranked AS (
        SELECT cnt,
               row_number() OVER (ORDER BY cnt DESC, word) AS rk,
               SUM(cnt) OVER (ORDER BY cnt DESC, word
                              ROWS UNBOUNDED PRECEDING) AS cum
        FROM counts
    ),
    levels(p) AS (VALUES (50), (90), (99))
    SELECT l.p AS coverage_pct,
           CAST(MIN(r.rk) AS BIGINT) AS n_words_needed,
           CAST(t.total AS BIGINT) AS total_tokens
    FROM levels l
    CROSS JOIN tot t
    JOIN ranked r ON 100 * r.cum >= l.p * t.total
    GROUP BY l.p, t.total
    ORDER BY coverage_pct
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-sizing statistic: the
    number of distinct words (ranked by frequency, word tie-break)
    needed to cover 50/90/99% of all tokens. The coverage boundary
    compares integer-scaled (100·cum ≥ p·total) so no float touches
    the threshold; the cumulative window runs over the VOCABULARY
    table (distinct words — bounded by language, not corpus size; at
    true web scale this window routes through global_prefix_sum like
    q_token_budget_trim). One corpus explode + word hash-agg is the
    only full-data stage."""
    docs = load_table(spark, sf_dir, "documents")
    words = tokenize("text")
    counts = (
        docs.select(F.explode(words).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    tot = counts.agg(F.sum("cnt").cast("bigint").alias("total"))
    w = Window.orderBy(F.col("cnt").desc(), "word")
    ranked = counts.select(
        "cnt",
        F.row_number().over(w).alias("rk"),
        F.sum("cnt")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    )
    levels = spark.createDataFrame([(50,), (90,), (99,)], "p int")
    return (
        levels.crossJoin(F.broadcast(tot))
        .join(
            ranked,
            F.lit(100) * F.col("cum") >= F.col("p") * F.col("total"),
        )
        .groupBy(F.col("p").alias("coverage_pct"), "total")
        .agg(F.min("rk").cast("bigint").alias("n_words_needed"))
        .select(
            "coverage_pct",
            "n_words_needed",
            F.col("total").cast("bigint").alias("total_tokens"),
        )
        .orderBy("coverage_pct")
    )


@query(
    "q_source_overlap",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT source,
               unnest({sql_word_shingles("w", 3)}) AS s
        FROM (SELECT source,
                     {sql_tokenize("text")} AS w
              FROM documents)
    ),
    sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_shingles
        FROM sh GROUP BY source
    ),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b, i.n_shared,
           sa.n_shingles AS n_a, sb.n_shingles AS n_b,
           CAST((2 * 10000 * i.n_shared
                 + least(sa.n_shingles, sb.n_shingles))
                // (2 * least(sa.n_shingles, sb.n_shingles)) AS BIGINT)
               AS containment_x10000
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    WHERE i.n_shared >= 5
    ORDER BY source_a, source_b
    """,
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix — the provenance diagnostic
    that catches the same content crawled under two source labels:
    per-source DISTINCT 3-word shingle sets, pairwise shared-shingle
    counts via the inverted-index join (only pairs sharing ≥1 shingle
    materialize — never all-pairs), and max-containment
    |A∩B|/min(|A|,|B|) integer-scaled (containment, not Jaccard —
    a small source fully inside a big one should read 100%). The ≥5
    shared floor keeps output to meaningful pairs. Scale: shuffles on
    the shingle string only; per-shingle fanout is
    sources-sharing-that-shingle — bounded by the source catalog."""
    docs = load_table(spark, sf_dir, "documents")
    from stockmarketdata_dwb_etl_spark.functions.text import word_shingles

    from stockmarketdata_dwb_etl_spark.operators.cache import bounded_persist

    words = tokenize("text")
    # ONE shuffle keyed on the shingle builds each shingle's sorted
    # source set (collect_set doubles as the DISTINCT); the inverted
    # index persists in a bounded slot because sizes and pair counts
    # both consume it — un-persisted, the tokenize+shingle+shuffle
    # pipeline would rebuild once per consumer
    by_sh = bounded_persist(
        docs.select("source", F.explode(word_shingles(words, 3)).alias("s"))
        .groupBy("s")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs")),
        "source-overlap-index",
    )
    sizes = (
        by_sh.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shingles"))
    )
    # srcs is sorted and distinct, so the in-array comprehension emits
    # exactly the source_a < source_b pairs per shingle — map-side, the
    # lsh_candidate_pairs pattern; fanout is bounded by the source
    # catalog, never all-pairs across shingles
    pair_list = F.expr(
        "flatten(transform(srcs, (x, i) ->"
        " transform(slice(srcs, i + 2, size(srcs)),"
        " y -> struct(x AS source_a, y AS source_b))))"
    )
    inter = (
        by_sh.select(F.explode(pair_list).alias("p"))
        .select("p.source_a", "p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= 5)
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n_shingles").alias("n_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("n_shingles").alias("n_b")
    )
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            F.expr(
                "(2 * 10000 * n_shared + least(n_a, n_b))"
                " div (2 * least(n_a, n_b))"
            )
            .cast("bigint")
            .alias("containment_x10000"),
        )
        .orderBy("source_a", "source_b")
    )


@query(
    "q_dup_cluster_histogram",
    oracle="""
    WITH aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 5000000 AS doc_id, text FROM documents
        WHERE doc_id % 6 = 0
        UNION ALL
        SELECT doc_id + 6000000 AS doc_id, text FROM documents
        WHERE doc_id % 12 = 0
    ),
    clusters AS (
        SELECT md5(text) AS fp, CAST(COUNT(*) AS BIGINT) AS sz
        FROM aug GROUP BY md5(text)
    )
    SELECT sz AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST(SUM(sz - 1) AS BIGINT) AS n_removable
    FROM clusters GROUP BY sz ORDER BY cluster_size
    """,
)
def q_dup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram — the dedup PLANNING report
    (how much will dedup remove, and is duplication a few huge
    clusters or many pairs?): exact-dup clusters by content md5 over a
    fixture with two planted duplication waves (every 6th doc copied
    once, every 12th twice — so size-2 and size-3 clusters both
    provably exist), histogrammed by cluster size with removable-copy
    counts. All integer. Scale: one hash-agg on the fingerprint + one
    tiny agg on the size histogram — the same single-shuffle posture
    as q_dedup_exact, turned into the report that justifies running
    it."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    aug = (
        docs.unionByName(
            docs.filter(F.col("doc_id") % 6 == 0).select(
                (F.col("doc_id") + 5_000_000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 12 == 0).select(
                (F.col("doc_id") + 6_000_000).alias("doc_id"), "text"
            )
        )
    )
    clusters = aug.groupBy(F.md5("text").alias("fp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return (
        clusters.groupBy(F.col("sz").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("sz").cast("bigint").alias("n_docs"),
            F.sum(F.col("sz") - 1).cast("bigint").alias("n_removable"),
        )
        .orderBy("cluster_size")
    )


@query(
    "q_ttr_by_length",
    oracle=f"""
    WITH per_doc AS (
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(w)) AS BIGINT) AS n_types
        FROM (SELECT doc_id,
                     {sql_tokenize("text")} AS w
              FROM documents)
        WHERE len(w) > 0
    ),
    binned AS (
        SELECT least(n_tokens // 50, 5) AS len_bucket,
               n_tokens, n_types
        FROM per_doc
    )
    SELECT len_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_types) AS BIGINT) AS total_types,
           CAST((2 * 10000 * SUM(n_types) + SUM(n_tokens))
                // (2 * SUM(n_tokens)) AS BIGINT) AS pooled_ttr_x10000
    FROM binned GROUP BY len_bucket ORDER BY len_bucket
    """,
)
def q_ttr_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio by document-length bucket — the lexical-
    diversity curve (TTR falls with length by Heaps' law, so comparing
    raw TTRs across lengths misleads; bucketing is the standard fix):
    per-doc type and token counts are exact integers from the split
    array, docs bin into 50-token buckets (capped at 6), and the
    pooled per-bucket TTR emits integer-scaled with integer half-up
    rounding — no float anywhere. Complements q_repetition_score
    (within-doc) and q_word_entropy (corpus-level). Map-only
    extraction into one 6-key hash-agg."""
    docs = load_table(spark, sf_dir, "documents")
    words = tokenize("text")
    per_doc = (
        docs.select("doc_id", words.alias("w"))
        .filter(F.size("w") > 0)
        .select(
            F.size("w").cast("bigint").alias("n_tokens"),
            F.size(F.array_distinct("w")).cast("bigint").alias("n_types"),
        )
    )
    binned = per_doc.select(
        F.least(
            F.floor(F.col("n_tokens") / 50).cast("bigint"), F.lit(5)
        ).alias("len_bucket"),
        "n_tokens",
        "n_types",
    )
    return (
        binned.groupBy("len_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_types").cast("bigint").alias("total_types"),
            F.expr(
                "(2 * 10000 * sum(n_types) + sum(n_tokens))"
                " div (2 * sum(n_tokens))"
            )
            .cast("bigint")
            .alias("pooled_ttr_x10000"),
        )
        .orderBy("len_bucket")
    )


@query(
    "q_chunk_documents",
    oracle=f"""
    WITH w AS (
        SELECT doc_id,
               {sql_tokenize("text")} AS words
        FROM documents
    ),
    st AS (
        SELECT doc_id, words,
               UNNEST(generate_series(0, len(words) - 1, 48)) AS st0
        FROM w WHERE len(words) > 0
    )
    SELECT doc_id,
           CAST(st0 / 48 AS BIGINT) AS chunk_id,
           CAST(len(list_slice(words, st0 + 1, st0 + 64)) AS BIGINT)
               AS n_tokens,
           array_to_string(list_slice(words, st0 + 1, st0 + 64), ' ')
               AS chunk_text
    FROM st
    ORDER BY doc_id, chunk_id
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window document chunking — the RAG / pretraining prep step
    that turns documents into fixed-size overlapping training windows:
    64-token chunks at stride 48 (16-token overlap so no boundary
    context is lost), each chunk carrying (doc_id, chunk_id, n_tokens,
    text). Deterministic by construction: whitespace tokens, start
    offsets 0, 48, 96, … < n_words, slice semantics identical on both
    engines (Spark slice(arr, start, length) vs DuckDB 1-based
    inclusive list_slice — same window). Complements q_dedup_chunks
    (which DEDUPS chunked text) and q_pack_sequences (which packs to a
    token budget) by owning the chunking step itself.

    Scale: pure map-side — tokenize, sequence-explode, slice, join —
    zero shuffles before the presentation sort; output is corpus ×
    (n_words/stride) rows, the fan-out any chunker pays."""
    docs = load_table(spark, sf_dir, "documents")
    words = tokenize("text")
    w = docs.select("doc_id", words.alias("w")).filter(F.size("w") > 0)
    st = w.select(
        "doc_id",
        "w",
        F.explode(
            F.sequence(F.lit(0), F.size("w") - 1, F.lit(48))
        ).alias("st0"),
    )
    chunk = F.slice("w", F.col("st0") + 1, 64)
    return st.select(
        "doc_id",
        (F.col("st0") / 48).cast("bigint").alias("chunk_id"),
        F.size(chunk).cast("bigint").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    ).orderBy("doc_id", "chunk_id")


@query(
    "q_sequence_packing",
    oracle=f"""
    WITH t AS (
        SELECT source, doc_id,
               CAST(len({sql_tokenize("text")})
                    AS BIGINT) AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT source, doc_id, n_tokens,
               COALESCE(CAST(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS BIGINT), 0) // 2048 AS seq_id
        FROM t
    ),
    seqs AS (
        SELECT source, seq_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        FROM packed GROUP BY source, seq_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_seqs,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST((CAST(floor(CAST((CAST(SUM(n_docs) AS DOUBLE) / COUNT(*))
                AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE)
               AS docs_per_seq,
           CAST((CAST(floor(CAST((CAST(SUM(n_tokens) AS DOUBLE)
                / (COUNT(*) * 2048)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE)
                / 10000.0) AS DOUBLE) AS fill_ratio
    FROM seqs
    GROUP BY source
    ORDER BY source
    """,
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequential PACKING of documents into fixed 2048-token
    training sequences — the batch-construction step a pretraining data
    loader runs after curation (docs too short to fill a context window
    concatenate; the metric that matters is fill ratio, the padding
    waste a packed dataset avoids). Assignment is the cumsum-floor
    pattern proven by q_dollar_bars: within each source stream, ordered
    by doc_id, a doc joins sequence floor(tokens_before / 2048) —
    integer arithmetic end-to-end, so the per-source window is
    bit-deterministic on both engines (doc_id is the unique order key;
    COALESCE(...,0) pins the first row's empty frame identically).
    Output is per-source packing efficiency (sequences, docs/seq, fill
    ratio vs the 2048 capacity). A doc longer than the capacity keeps
    its whole token count in its starting sequence (the skipped bin ids
    are simply unoccupied), so an occupied sequence's fill can exceed
    1.0 — the OVERALL fill ratio still measures padding waste exactly,
    because total tokens and occupied-sequence count are both exact.
    Scale: ONE window shuffle on source (the packing key — in
    production the curation pipeline's split or shard id), one
    partial-agg rollup; no data-dependent plan."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        "doc_id",
        F.size(tokenize(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint")
    packed = t.select(
        "source",
        "n_tokens",
        cum_before.alias("__cb"),
    ).select(
        "source",
        "n_tokens",
        F.expr("__cb div 2048").cast("bigint").alias("seq_id"),
    )
    seqs = packed.groupBy("source", "seq_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )
    return (
        seqs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_seqs"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            portable_round(
                F.sum("n_docs").cast("double") / F.count(F.lit(1)), 4
            )
            .cast("double")
            .alias("docs_per_seq"),
            portable_round(
                F.sum("n_tokens").cast("double")
                / (F.count(F.lit(1)) * F.lit(2048)),
                4,
            )
            .cast("double")
            .alias("fill_ratio"),
        )
        .orderBy("source")
    )


@query(
    "q_destutter",
    oracle=f"""
    WITH t AS (
        SELECT source,
               {sql_tokenize("text")} AS ws
        FROM documents
    ),
    marked AS (
        SELECT source,
               CAST(len(ws) AS BIGINT) AS n_before,
               CAST(len(list_filter(
                   list_zip(ws, list_prepend(
                       NULL, ws[1:greatest(len(ws) - 1, 0)])),
                   p -> p[1] IS DISTINCT FROM p[2])) AS BIGINT) AS n_after
        FROM t
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_after < n_before THEN 1 ELSE 0 END)
                AS BIGINT) AS n_stuttered_docs,
           CAST(SUM(n_before) AS BIGINT) AS tokens_before,
           CAST(SUM(n_after) AS BIGINT) AS tokens_after,
           CAST((CAST(floor(CAST((CAST(SUM(n_before) - SUM(n_after)
                AS DOUBLE) / SUM(n_before)) AS DOUBLE) * 1000000.0 + 0.5)
                AS DOUBLE) / 1000000.0) AS DOUBLE) AS removed_ratio
    FROM marked
    GROUP BY source
    ORDER BY source
    """,
)
def q_destutter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-duplicate-token removal accounting (de-stuttering —
    the C4/Dolma line-dedup rule at word grain): a token survives iff it
    differs from its immediate predecessor, so 'table table table' keeps
    one. The survivor mark is a ZIP of the token array against its
    1-shifted self — two bounded references to the array, never an
    element_at-per-position comprehension (the round-7 pushdown-inlining
    bug class), and the null-safe inequality pins the first token's
    NULL-predecessor case identically on both engines (eqNullSafe /
    IS DISTINCT FROM). Map-only per document; ONE (source) hash-agg for
    the corpus accounting — at 100 TB this pass rides the same scan as
    the other quality signals. Integer counts; one final ratio."""
    docs = load_table(spark, sf_dir, "documents")
    ws = tokenize(F.col("text"))
    t = docs.select("source", ws.alias("ws"))
    prev = F.concat(
        F.array(F.lit(None).cast("string")),
        F.slice(F.col("ws"), 1, F.greatest(F.size("ws") - 1, F.lit(0))),
    )
    keep_marks = F.zip_with(
        F.col("ws"), prev, lambda c, p: (~c.eqNullSafe(p)).cast("int")
    )
    marked = t.select(
        "source",
        F.size("ws").cast("bigint").alias("n_before"),
        F.aggregate(
            keep_marks, F.lit(0).cast("bigint"), lambda acc, m: acc + m
        ).alias("n_after"),
    )
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(
                F.when(F.col("n_after") < F.col("n_before"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_stuttered_docs"),
            F.sum("n_before").cast("bigint").alias("tokens_before"),
            F.sum("n_after").cast("bigint").alias("tokens_after"),
            portable_round(
                (F.sum("n_before") - F.sum("n_after")).cast("double")
                / F.sum("n_before"),
                6,
            )
            .cast("double")
            .alias("removed_ratio"),
        )
        .orderBy("source")
    )


@query(
    "q_gopher_repetition",
    oracle=f"""
    WITH t AS (
        SELECT source,
               {sql_tokenize("text")} AS ws
        FROM documents
    ),
    g AS (
        SELECT source,
               {sql_word_shingles("ws", 2)} AS g2
        FROM t
    ),
    sig AS (
        SELECT source,
               CAST(len(g2) AS BIGINT) AS n_2grams,
               CASE WHEN len(g2) = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(len(list_filter(g2,
                         x -> x = list_aggregate(g2, 'mode'))) AS BIGINT)
               END AS max_freq
        FROM g
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_2grams > 0
                         AND CAST(max_freq AS DOUBLE) / n_2grams > 0.2
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(SUM(max_freq) AS BIGINT) AS sum_max_freq,
           CAST(SUM(n_2grams) AS BIGINT) AS sum_2grams,
           CAST((CAST(floor(CAST((CAST(SUM(max_freq) AS DOUBLE)
                / SUM(n_2grams)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE)
                / 1000000.0) AS DOUBLE) AS avg_top2_fraction
    FROM sig
    GROUP BY source
    ORDER BY source
    """,
)
def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher repetition rule the distinct-ratio signals miss: the
    TOP-2-GRAM FRACTION (share of a document's 2-grams taken by its
    single most frequent 2-gram; Gopher drops docs above 0.20 — a page
    that repeats one phrase scores high here while its distinct ratio
    can still look healthy). The max frequency computes MAP-SIDE as the
    longest run of the doc's SORTED 2-gram array via one expression
    fold carrying (prev, run, best) — no explode, no per-doc shuffle;
    the oracle takes the equivalent mode-count over the same list. The
    2-grams come from the bounded-reference slice/zip shingle form
    (never element_at comprehensions). Per-source accounting: docs
    flagged at the 0.2 threshold and the corpus-level average fraction.
    One (source) hash-agg; integer counts until the final ratio."""
    docs = load_table(spark, sf_dir, "documents")
    g2 = F.array_sort(word_shingles(tokenize(F.col("text")), 2))
    acc0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("bigint").alias("run"),
        F.lit(0).cast("bigint").alias("best"),
    )

    def step(a, x):
        run = (
            F.when(x == a["prev"], a["run"] + F.lit(1))
            .otherwise(F.lit(1))
            .cast("bigint")
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(a["best"], run).alias("best"),
        )

    max_freq = F.aggregate(g2, acc0, step, lambda a: a["best"])
    sig = docs.select(
        "source",
        F.size(g2).cast("bigint").alias("n_2grams"),
        max_freq.alias("max_freq"),
    )
    flagged = (F.col("n_2grams") > 0) & (
        F.col("max_freq").cast("double") / F.col("n_2grams") > 0.2
    )
    return (
        sig.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(flagged, 1).otherwise(0))
            .cast("bigint")
            .alias("n_flagged"),
            F.sum("max_freq").cast("bigint").alias("sum_max_freq"),
            F.sum("n_2grams").cast("bigint").alias("sum_2grams"),
            portable_round(
                F.sum("max_freq").cast("double") / F.sum("n_2grams"), 6
            )
            .cast("double")
            .alias("avg_top2_fraction"),
        )
        .orderBy("source")
    )
