"""Corpus-curation batch 8: DSIR-style importance weighting and the
language-ID confusion audit.

Both round out the LLM training-data surface the reference's warehouse
tier exists to serve (/root/reference/dump_bigq.py:135-149): hashed
n-gram importance resampling (Xie et al. 2023, "Data Selection for
Language Models via Importance Resampling" — the select-like-the-target
step between the quality gate and the token-budget cut) and the
eval-vs-label confusion matrix for the q_lang_id heuristic (the audit
that says whether a cheap in-engine classifier is safe to gate on).

Determinism policy: token->bucket assignment uses the md5 hex-bucket
idiom (queries/reports.py::hash_bucket — engine-portable by MD5's
standardization); all counts are exact integers; per-bucket log-ratios
are single ln() calls over identical division trees, 12dp-rounded and
DECIMAL-accumulated per doc sized so products never overflow decimal
range (partition-order independent);
presentation rounds are the portable floor form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    sql_portable_round,
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
from stockmarketdata_dwb_etl_spark.operators.cache import bounded_persist
from stockmarketdata_dwb_etl_spark.queries.reports import _HEX
from stockmarketdata_dwb_etl_spark.registry import query

#: token -> [0,256) bucket, engine-portable (first two md5 hex digits).
_DUCK_TOK_BUCKET = (
    f"(strpos('{_HEX}', substr(md5(tok), 1, 1)) - 1) * 16"
    f" + (strpos('{_HEX}', substr(md5(tok), 2, 1)) - 1)"
)


@query(
    "q_dsir_importance",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang,
               unnest({sql_tokenize("text")})
                   AS tok
        FROM documents
    ),
    db AS (
        SELECT doc_id, lang, {_DUCK_TOK_BUCKET} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM toks GROUP BY 1, 2, 3
    ),
    bt AS (
        SELECT bucket,
               CAST(SUM(CASE WHEN lang = 'en' THEN n ELSE 0 END) AS BIGINT)
                   AS ct,
               CAST(SUM(n) AS BIGINT) AS cb
        FROM db GROUP BY bucket
    ),
    tot AS (
        SELECT CAST(SUM(ct) AS BIGINT) AS nt,
               CAST(SUM(cb) AS BIGINT) AS nb
        FROM bt
    ),
    w AS (
        -- DECIMAL(20,12), NOT (38,18): the n x w product must stay
        -- inside decimal range on both engines (DuckDB silently
        -- promotes an overflowing decimal product to DOUBLE, which
        -- reintroduces order-dependent summation)
        SELECT bucket,
               CAST({sql_portable_round(
                   "ln((CAST(ct + 1 AS DOUBLE) / (nt + 256.0))"
                   " / (CAST(cb + 1 AS DOUBLE) / (nb + 256.0)))", 12)}
                   AS DECIMAL(20,12)) AS w
        FROM bt CROSS JOIN tot
    )
    SELECT db.doc_id, db.lang,
           CAST(SUM(db.n) AS BIGINT) AS n_tokens,
           CAST({sql_portable_round(
               "CAST(SUM(CAST(db.n AS DECIMAL(12,0)) * w.w) AS DOUBLE)",
               6)} AS DOUBLE) AS weight
    FROM db JOIN w ON w.bucket = db.bucket
    GROUP BY db.doc_id, db.lang
    ORDER BY db.doc_id
    """,
)
def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style hashed-unigram importance weight per document: tokens
    hash into 256 md5 buckets; the target distribution is the English
    sub-corpus, the background is the whole corpus; each doc scores
    Σ_tokens ln(p_target(bucket)/p_background(bucket)) with add-one
    smoothing — docs that look like the target get positive weights and
    survive importance resampling (Xie et al. 2023). The feature space
    is hash-BOUNDED (256 rows of sufficient statistics regardless of
    corpus size), which is the whole point at 100 TB: the bucket table
    broadcasts, so after the one (doc,bucket) shuffle the scoring is
    map-side. Counts are exact integers; per-bucket log-ratios are
    single ln() calls on identical trees, 12dp-rounded, and the per-doc
    sum is exact DECIMAL (integer n × decimal w)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = F.explode(tokenize(F.col("text"))).alias("tok")
    h = F.md5(F.col("tok"))
    bucket = (
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("bucket")
    )
    # doc-grain bucket counts: ONE shuffle; everything after is derived
    # from this bounded table (doc count x <=256 rows), persisted once
    # for its two consumers (bucket totals + per-doc scoring)
    db = bounded_persist(
        docs.select("doc_id", "lang", tok)
        .select("doc_id", "lang", bucket)
        .groupBy("doc_id", "lang", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n")),
        "dsir-doc-buckets",
    )
    bt = db.groupBy("bucket").agg(
        F.sum(F.when(F.col("lang") == "en", F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("ct"),
        F.sum("n").cast("bigint").alias("cb"),
    )
    tot = bt.agg(
        F.sum("ct").cast("bigint").alias("nt"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    lr = F.log(
        ((F.col("ct") + 1).cast("double") / (F.col("nt") + 256.0))
        / ((F.col("cb") + 1).cast("double") / (F.col("nb") + 256.0))
    )
    # DECIMAL(20,12) / DECIMAL(12,0): keeps the n x w product inside
    # decimal range on both engines (see the oracle comment)
    w = bt.crossJoin(F.broadcast(tot)).select(
        "bucket", portable_round(lr, 12).cast("decimal(20,12)").alias("w")
    )
    return (
        db.join(F.broadcast(w), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("n").cast("bigint").alias("n_tokens"),
            portable_round(
                F.sum(F.col("n").cast("decimal(12,0)") * F.col("w")).cast(
                    "double"
                ),
                6,
            )
            .cast("double")
            .alias("weight"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_lang_id_confusion",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               {sql_lang_score_columns(sql_tokenize("text"))}
        FROM documents),
    pred AS (
        SELECT doc_id, lang,
               {sql_lang_id(LANG_SCORE_COLUMNS)} AS predicted
        FROM scored),
    cells AS (
        SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM pred GROUP BY lang, predicted)
    SELECT lang, predicted, n_docs,
           CAST((CAST(floor(CAST((CAST(n_docs AS DOUBLE)
                / SUM(n_docs) OVER (PARTITION BY lang)) AS DOUBLE)
                * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE)
               AS row_share,
           CAST(CASE WHEN lang = predicted THEN 1 ELSE 0 END AS INTEGER)
               AS correct
    FROM cells
    ORDER BY lang, predicted
    """,
)
def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the q_lang_id stopword heuristic against the
    labeled ``lang`` column — the audit that decides whether a cheap
    in-engine classifier may gate a corpus (langs outside the
    heuristic's {{en,es,de}} range expose its failure mode as off-range
    rows whose recall is structurally 0). Cells are exact integer
    counts; row_share is ONE double division of exact integers (the
    row-normalized confusion matrix); the window for row totals runs
    over the label-cardinality-sized cell table, never the corpus.
    Scale: one scan + one (lang,predicted) hash-agg."""
    docs = load_table(spark, sf_dir, "documents")
    scores = lang_scores(tokenize(F.col("text")))
    pred = docs.select("lang", lang_id(scores).alias("predicted"))
    cells = pred.groupBy("lang", "predicted").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    from pyspark.sql.window import Window

    wlang = Window.partitionBy("lang")
    return cells.select(
        "lang",
        "predicted",
        "n_docs",
        portable_round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(wlang), 4
        )
        .cast("double")
        .alias("row_share"),
        F.when(F.col("lang") == F.col("predicted"), 1)
        .otherwise(0)
        .cast("int")
        .alias("correct"),
    ).orderBy("lang", "predicted")


@query(
    "q_mips_norm_augment",
    oracle=f"""
    WITH vecs AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    probe AS (
        SELECT v AS pv, sqrt(list_dot_product(v, v)) AS pnorm
        FROM vecs WHERE vec_id = 0
    ),
    docs AS (
        SELECT vec_id, label, v,
               list_dot_product(v, v) AS norm2
        FROM vecs WHERE vec_id <> 0
    ),
    mx AS (SELECT MAX(norm2) AS m2 FROM docs),
    scored AS (
        SELECT d.vec_id, d.label,
               list_dot_product(d.v, p.pv) AS ip,
               sqrt(greatest(m.m2 - d.norm2, 0.0)) AS aug_dim,
               list_dot_product(d.v, p.pv)
                   / nullif(sqrt(m.m2) * p.pnorm, 0.0) AS cos_aug
        FROM docs d CROSS JOIN probe p CROSS JOIN mx m
    )
    SELECT vec_id, label,
           CAST({sql_portable_round("ip", 6)} AS DOUBLE) AS ip,
           CAST({sql_portable_round("aug_dim", 6)} AS DOUBLE) AS aug_dim,
           CAST({sql_portable_round("cos_aug", 6)} AS DOUBLE) AS cos_aug
    FROM scored
    ORDER BY ip DESC, vec_id
    LIMIT 10
    """,
)
def q_mips_norm_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product search via the norm-augmentation reduction
    (Bachrach et al. 2014): append sqrt(M² − |x|²) to every doc vector
    (M = max norm) and a 0 to the query — all augmented docs then share
    norm M, so cosine order on the augmented space EQUALS inner-product
    order on the original (cos_aug = ip/(M·|q|), a positive monotone
    map; the output carries ip, the augmented dimension, and cos_aug so
    the equivalence is checkable row-by-row). This is the bridge that
    lets every cosine-ANN structure in the repo (hyperplane LSH, IVF)
    serve MIPS workloads — recommendation scoring — without new index
    code. Exact top-10 by ip here is the ground-truth baseline (the
    q_cosine_topk posture: broadcast probe + one scan + TakeOrdered);
    fold order of the JVM aggregate matches DuckDB's list_dot_product
    index order, single divisions, 6dp portable rounds."""
    from stockmarketdata_dwb_etl_spark.functions.vectors import dot, norm

    emb = load_table(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("pv"),
        norm(F.col("embedding")).alias("pnorm"),
    )
    docs = emb.filter(F.col("vec_id") != 0).select(
        "vec_id",
        "label",
        "embedding",
        dot(F.col("embedding"), F.col("embedding")).alias("norm2"),
    )
    mx = docs.agg(F.max("norm2").alias("m2"))
    scored = docs.crossJoin(F.broadcast(probe)).crossJoin(
        F.broadcast(mx)
    ).select(
        "vec_id",
        "label",
        dot(F.col("embedding"), F.col("pv")).alias("ip"),
        F.sqrt(F.greatest(F.col("m2") - F.col("norm2"), F.lit(0.0))).alias(
            "aug_dim"
        ),
        (
            dot(F.col("embedding"), F.col("pv"))
            / F.nullif(F.sqrt(F.col("m2")) * F.col("pnorm"), F.lit(0.0))
        ).alias("cos_aug"),
    )
    # round BEFORE the top-k sort: DuckDB's ORDER BY ip binds the
    # rounded output alias, so Spark must rank on the rounded value too
    # or 6dp-equal raw values tie-break differently across engines
    return (
        scored.select(
            "vec_id",
            "label",
            portable_round("ip", 6).cast("double").alias("ip"),
            portable_round("aug_dim", 6).cast("double").alias("aug_dim"),
            portable_round("cos_aug", 6).cast("double").alias("cos_aug"),
        )
        .orderBy(F.col("ip").desc(), "vec_id")
        .limit(10)
    )
