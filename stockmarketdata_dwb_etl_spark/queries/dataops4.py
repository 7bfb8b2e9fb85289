"""Corpus-curation operators round 3: retrieval-grade relevance scoring
(BM25), robust outlier detection (median absolute deviation), cohort
distribution-drift measurement (PSI), and per-document word entropy.

These extend the text-quality / data-quality surface the reference's
clean-then-load stage implies (``/root/reference/dump_bigq.py:88-132``
runs fixed row transforms before the warehouse write; a 100 TB corpus
needs corpus-level quality signals too). Every query carries a full
DuckDB oracle.

Determinism policy (SURVEY.md §2B): integer counts everywhere possible;
``ln`` only over ratios of exact integers or identically-derived doubles;
any cross-row float sum goes through the decimal cast so accumulation
order cannot matter; ordering keys are rounded values with an integer
tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stockmarketdata_dwb_etl_spark.functions.exact import portable_round, term
from stockmarketdata_dwb_etl_spark.functions.text import (
    sql_tokenize,
    sql_word_shingles,
    tokenize,
    word_shingles,
)
from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.operators.iterate import iterate
from stockmarketdata_dwb_etl_spark.registry import query

# Fixed retrieval query for BM25 — terms present across fixture vintages
# (the documents fixture draws from a small engine-vocabulary).
_BM25_TERMS = ("table", "join", "hash", "scan")
_BM25_K1 = 1.2
_BM25_B = 0.75


@query(
    "q_bm25_topk",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, {sql_tokenize("text")} AS w FROM documents
    ), dl AS (
        SELECT doc_id, len(w) AS dl FROM tok
    ), corpus AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CAST(dl AS BIGINT)) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ), tf AS (
        SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(w) AS word FROM tok)
        WHERE word IN ('table', 'join', 'hash', 'scan')
        GROUP BY doc_id, word
    ), df AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY word
    ), scored AS (
        SELECT t.doc_id,
               CAST(
                 LN((c.n_docs - f.df + 0.5) / (f.df + 0.5) + 1)
                 * (t.tf * ({_BM25_K1} + 1))
                 / (t.tf + {_BM25_K1} * (1 - {_BM25_B}
                        + {_BM25_B} * d.dl / c.avgdl))
               AS DECIMAL(38,12)) AS term_score
        FROM tf t
        JOIN df f USING (word)
        JOIN dl d USING (doc_id)
        CROSS JOIN corpus c
    )
    SELECT doc_id,
           CAST((CAST(floor(CAST((SUM(term_score)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS bm25
    FROM scored
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT 10
    """,
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every document against a fixed term set; top 10.

    The retrieval primitive of corpus curation (quality-weighted sampling,
    eval-set mining). tf/df/dl are exact integers; idf feeds ln a rational
    of integers; the per-term scores are summed as decimals so the ≤4-term
    accumulation order cannot diverge between engines; final ordering is
    (rounded score, doc_id). Scale: one explode of the token stream
    filtered to the query terms (predicate pushed before the shuffle), a
    (doc, term) partial-agg, a broadcast of the |T|-row df table and the
    2-scalar corpus stats — the document table is never shuffled whole.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", tokenize(F.col("text")).alias("w"))
    dl = tok.select("doc_id", F.size("w").alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.col("dl").cast("bigint")).cast("double") / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    tf = (
        tok.select("doc_id", F.explode("w").alias("word"))
        .filter(F.col("word").isin(*_BM25_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    term_score = (
        idf
        * (F.col("tf") * (_BM25_K1 + 1))
        / (
            F.col("tf")
            + _BM25_K1
            * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    ).cast("decimal(38,12)")
    return (
        tf.join(F.broadcast(df), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select("doc_id", term_score.alias("term_score"))
        .groupBy("doc_id")
        .agg(portable_round(F.sum("term_score"), 4).cast("double").alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(10)
    )


@query(
    "q_dedup_keep_canonical",
    oracle=f"""
    WITH RECURSIVE aug AS (
        SELECT doc_id, text, source FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text || ' zz1 zz2 zz3' AS text,
               source
        FROM documents WHERE doc_id % 10 = 0
    ), sh AS (
        SELECT doc_id,
               list_distinct({sql_word_shingles("w", 3)}) AS shingles
        FROM (SELECT doc_id, {sql_tokenize("text")} AS w
              FROM aug)
    ), sizes AS (
        SELECT doc_id, len(shingles) AS n FROM sh
    ), ex AS (
        SELECT doc_id, unnest(shingles) AS s FROM sh
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT i.id_a AS a, i.id_b AS b
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE (CAST(floor(CAST((i.c::DOUBLE / (sa.n + sb.n - i.c)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) >= 0.7
    ), und AS (
        SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
    ), reach AS (
        SELECT a AS v, a AS r FROM (SELECT DISTINCT a FROM und)
        UNION
        SELECT und.b AS v, reach.r FROM reach JOIN und ON und.a = reach.v
    ), comp AS (
        SELECT v AS doc_id, MIN(r) AS rep FROM reach GROUP BY v
    ), labeled AS (
        SELECT d.doc_id, d.source, length(d.text) AS len,
               COALESCE(c.rep, d.doc_id) AS rep
        FROM aug d LEFT JOIN comp c USING (doc_id)
    ), ranked AS (
        SELECT source,
               row_number() OVER (PARTITION BY rep
                                  ORDER BY len DESC, doc_id) AS rn
        FROM labeled
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT)
               AS n_dropped
    FROM ranked GROUP BY source
    """,
)
def q_dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's FINAL step, composed end-to-end: MinHash-LSH
    near-dup pairs → transitive closure into clusters → keep ONE canonical
    document per cluster (longest text, doc_id tie-break) → per-source
    survival counts. This is the operator a training-data pipeline
    actually ships: q_dedup_minhash finds pairs, q_dedup_transitive
    groups them, this emits the kept corpus.

    Output is integer counts only — no float determinism surface. The
    oracle recomputes ground-truth pairs (inverted shingle index), the
    same closure via a recursive CTE, and the same keep rule. Scale: the
    pair/closure stages inherit the banded-LSH and O(diameter)
    label-propagation postures; canonical selection is one window over
    clustered docs (clusters are tiny; singletons never shuffle — they
    join `left` against the small component table)."""
    from stockmarketdata_dwb_etl_spark.operators.dedup import (
        connected_components,
        minhash_near_dups,
    )
    from stockmarketdata_dwb_etl_spark.queries.dataops2 import (
        _docs_with_near_dups,
    )
    from pyspark.sql.window import Window

    aug = _docs_with_near_dups(spark, sf_dir)
    pairs = minhash_near_dups(aug)
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        # verified LSH pairs are distinct (id_a < id_b) by construction
        assume_distinct=True,
    ).select(F.col("id").alias("doc_id"), F.col("cluster_rep").alias("rep"))
    labeled = (
        aug.select("doc_id", "source", F.length("text").alias("len"))
        .join(F.broadcast(comp), "doc_id", "left")
        .select(
            "source", "len", "doc_id",
            F.coalesce("rep", F.col("doc_id")).alias("rep"),
        )
    )
    w = Window.partitionBy("rep").orderBy(F.desc("len"), "doc_id")
    ranked = labeled.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(F.when(F.col("rn") == 1, 0).otherwise(1))
        .cast("bigint")
        .alias("n_dropped"),
    )


@query(
    "q_skew_report",
    oracle="""
    WITH counts AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY user_id
    ), tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(MAX(n) AS BIGINT) AS max_n
        FROM counts
    )
    SELECT c.user_id, c.n,
           CAST((CAST(floor(CAST((c.n::DOUBLE / t.total) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS share,
           CAST((CAST(floor(CAST((c.n * t.n_keys::DOUBLE / t.total) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE)
               AS skew_x
    FROM counts c CROSS JOIN tot t
    ORDER BY c.n DESC, c.user_id
    LIMIT 10
    """,
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-skew diagnostic over the natural shuffle key (user_id):
    the top-10 heaviest keys with their share of all rows and skew factor
    (count ÷ mean-count). This is the report that decides whether a
    join/agg on this key needs salting (q_join_salted_skew /
    q_agg_salted_skew are the remediations) — at 100 TB you run the
    diagnostic BEFORE the shuffle, on a sample or the previous run's
    stats. One partial-agg shuffle + a 1-row broadcast of the totals +
    TakeOrdered; shares are single double divisions of exact integers
    (no cross-row float sums)."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(
        F.sum("n").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("n").cast("bigint").alias("max_n"),
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "n",
            portable_round(F.col("n").cast("double") / F.col("total"), 4).alias("share"),
            portable_round(
                F.col("n") * F.col("n_keys").cast("double") / F.col("total"), 4
            ).alias("skew_x"),
        )
        .orderBy(F.desc("n"), "user_id")
        .limit(10)
    )


@query(
    "q_mad_outliers",
    oracle="""
    WITH med AS (
        SELECT event_type,
               (CAST(floor(CAST((quantile_cont(value, 0.5)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS med
        FROM events GROUP BY event_type
    ), dev AS (
        SELECT e.event_type, m.med, ABS(e.value - m.med) AS adev
        FROM events e JOIN med m USING (event_type)
    ), mad AS (
        SELECT event_type, med,
               (CAST(floor(CAST((quantile_cont(adev, 0.5)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS mad
        FROM dev GROUP BY event_type, med
    )
    SELECT d.event_type,
           CAST((CAST(floor(CAST((m.med) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS med,
           CAST((CAST(floor(CAST((m.mad) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS mad,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type, med)
    GROUP BY d.event_type, m.med, m.mad
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event_type: median absolute deviation,
    flagging |value − median| > 3·MAD.

    The robust alternative to q_zscore_outliers (a single corrupted batch
    moves a mean, not a median). Exact interpolated medians on both
    engines (Spark ``percentile``, DuckDB ``quantile_cont``), rounded to
    6dp BEFORE the threshold compare so a last-ulp interpolation
    difference cannot flip a boundary row's outlier flag. Scale note:
    exact percentile is a sort-based aggregate; at 100 TB the same
    pipeline runs with ``approx_percentile`` (documented trade — the
    oracle contract needs the exact form), and the two-pass shape
    (median, then deviations vs a broadcast 5-row median table) is the
    scale-correct design either way.
    """
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        portable_round(F.expr("percentile(value, 0.5)"), 6).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type", "med").agg(
        portable_round(F.expr("percentile(adev, 0.5)"), 6).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), ["event_type", "med"])
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
        )
        .select(
            "event_type",
            portable_round("med", 4).cast("double").alias("med"),
            portable_round("mad", 4).cast("double").alias("mad"),
            "n",
            "n_outliers",
        )
    )


@query(
    "q_psi_drift",
    oracle="""
    WITH rng AS (
        SELECT MIN(value) AS lo, MAX(value) AS hi FROM events
    ), binned AS (
        SELECT event_type, event_id % 2 AS cohort,
               LEAST(CAST(FLOOR((value - r.lo) / ((r.hi - r.lo) / 10))
                          AS BIGINT), 9) AS bin
        FROM events CROSS JOIN rng r
    ), counts AS (
        SELECT event_type, cohort, bin, CAST(COUNT(*) AS BIGINT) AS c
        FROM binned GROUP BY event_type, cohort, bin
    ), grid AS (
        SELECT g.event_type, b.bin,
               COALESCE(a.c, 0) AS ca, COALESCE(bb.c, 0) AS cb
        FROM (SELECT DISTINCT event_type FROM counts) g
        CROSS JOIN (SELECT UNNEST(generate_series(0, 9)) AS bin) b
        LEFT JOIN counts a
               ON a.event_type = g.event_type AND a.bin = b.bin
              AND a.cohort = 0
        LEFT JOIN counts bb
               ON bb.event_type = g.event_type AND bb.bin = b.bin
              AND bb.cohort = 1
    ), tot AS (
        SELECT event_type,
               CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
        FROM grid GROUP BY event_type
    ), terms AS (
        SELECT g.event_type,
               CAST(
                 ((g.cb + 0.5) / (t.nb + 5.0) - (g.ca + 0.5) / (t.na + 5.0))
                 * LN(((g.cb + 0.5) / (t.nb + 5.0))
                      / ((g.ca + 0.5) / (t.na + 5.0)))
               AS DECIMAL(38,12)) AS term
        FROM grid g JOIN tot t USING (event_type)
    )
    SELECT event_type,
           CAST((CAST(floor(CAST((SUM(term)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS psi
    FROM terms GROUP BY event_type
    """,
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two hash-split cohorts of the
    event stream, per event_type — the standard drift alarm between a
    reference window and a live window (here the deterministic
    ``event_id % 2`` A/B split, the same sanity check a production
    pipeline runs to validate its own traffic splitter: PSI ≈ 0).

    values → 10 equal-width bins over the global [min, max] (bin edges
    derived identically on both engines), Laplace-smoothed shares, and
    PSI = Σ (p_b − p_a)·ln(p_b/p_a) accumulated as decimals so the
    10-term sum order cannot matter. Scale: two scans (global min/max,
    then a single (type, cohort, bin) partial-agg); the dense
    type×bin grid and totals are tiny broadcasts.
    """
    ev = load_table(spark, sf_dir, "events")
    rng = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    binned = ev.crossJoin(F.broadcast(rng)).select(
        "event_type",
        (F.col("event_id") % 2).alias("cohort"),
        F.least(
            F.floor(
                (F.col("value") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / 10)
            ).cast("bigint"),
            F.lit(9).cast("bigint"),
        ).alias("bin"),
    )
    from stockmarketdata_dwb_etl_spark.operators.cache import bounded_persist

    # the (type, cohort, bin) histogram is catalog-sized but consumed by
    # the type list and BOTH cohort sides of the grid — persist it once
    # or every consumer re-scans the fact table
    counts = bounded_persist(
        binned.groupBy("event_type", "cohort", "bin").agg(
            F.count(F.lit(1)).alias("c")
        ),
        "psi-drift-counts",
    )
    types = counts.select("event_type").distinct()
    bins = spark.range(0, 10).select(F.col("id").alias("bin"))
    grid = (
        types.crossJoin(F.broadcast(bins))
        .join(
            F.broadcast(
                counts.filter(F.col("cohort") == 0).select(
                    "event_type", "bin", F.col("c").alias("ca")
                )
            ),
            ["event_type", "bin"],
            "left",
        )
        .join(
            F.broadcast(
                counts.filter(F.col("cohort") == 1).select(
                    "event_type", "bin", F.col("c").alias("cb")
                )
            ),
            ["event_type", "bin"],
            "left",
        )
        .select(
            "event_type",
            "bin",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    tot = grid.groupBy("event_type").agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    pa = (F.col("ca") + 0.5) / (F.col("na") + 5.0)
    pb = (F.col("cb") + 0.5) / (F.col("nb") + 5.0)
    term = ((pb - pa) * F.log(pb / pa)).cast("decimal(38,12)")
    return (
        grid.join(F.broadcast(tot), "event_type")
        .select("event_type", term.alias("term"))
        .groupBy("event_type")
        .agg(portable_round(F.sum("term"), 4).cast("double").alias("psi"))
    )


@query(
    "q_word_entropy",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, source, {sql_tokenize("text")} AS w FROM documents
    ), wc AS (
        SELECT doc_id, source, word, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT doc_id, source, unnest(w) AS word FROM tok)
        GROUP BY doc_id, source, word
    ), dtot AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM wc GROUP BY doc_id
    ), ent AS (
        SELECT w.doc_id, w.source,
               (CAST(floor(CAST((SUM(CAST(
                   -(w.c::DOUBLE / d.n) * LN(w.c::DOUBLE / d.n)
               AS DECIMAL(38,12)))) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS h
        FROM wc w JOIN dtot d USING (doc_id)
        GROUP BY w.doc_id, w.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST((CAST(floor(CAST((SUM(CAST(h AS DECIMAL(38,6))) / COUNT(*)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0)
                AS DOUBLE) AS avg_entropy,
           CAST((CAST(floor(CAST((MIN(h)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS min_entropy
    FROM ent GROUP BY source
    """,
)
def q_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon word entropy per document, aggregated per source — the
    classic gibberish/boilerplate detector (low entropy ⇒ repetitive
    template text; degenerate docs sink the per-source minimum).

    Each −p·ln p term feeds ln the same rational (c/n of exact integer
    counts) on both engines and is cast to decimal before BOTH cross-row
    sums (per-doc terms, per-source entropy average), so no accumulation
    order anywhere. Scale: one token explode into a (doc, word)
    partial-agg — the same shuffle profile as q_tokenize_wordcount — then
    per-doc and per-source hash-aggs over already-tiny keyed rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(
            "doc_id", "source", F.explode(tokenize(F.col("text"))).alias("word")
        )
        .groupBy("doc_id", "source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    dtot = wc.groupBy("doc_id").agg(F.sum("c").cast("bigint").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    ent = (
        wc.join(dtot, "doc_id")
        .select(
            "doc_id", "source", (-p * F.log(p)).cast("decimal(38,12)").alias("t")
        )
        .groupBy("doc_id", "source")
        .agg(portable_round(F.sum("t"), 6).alias("h"))
    )
    return ent.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        portable_round(
            F.sum(F.col("h").cast("decimal(38,6)")) / F.count(F.lit(1)), 4
        )
        .cast("double")
        .alias("avg_entropy"),
        portable_round(F.min("h"), 4).cast("double").alias("min_entropy"),
    )


@query(
    "q_embed_quantize",
    oracle="""
    WITH scaled AS (
        SELECT vec_id, embedding,
               CAST(list_max(list_transform(embedding, x -> abs(x)))
                    AS DOUBLE) / 127.0 AS scale
        FROM embeddings
    ),
    elems AS (
        SELECT vec_id, scale,
               CAST(e AS DOUBLE) AS v
        FROM scaled, unnest(embedding) AS t(e)
    ),
    quant AS (
        SELECT vec_id, scale,
               CASE WHEN scale > 0 THEN floor(v / scale + 0.5) ELSE 0 END AS q,
               v
        FROM elems
    )
    SELECT vec_id,
           CAST((CAST(floor(CAST((scale) AS DOUBLE) * 1000000000.0 + 0.5) AS DOUBLE) / 1000000000.0) AS DOUBLE) AS scale,
           CAST((CAST(floor(CAST((SUM(CAST(
                               (CAST(floor(CAST(((v - q * scale)
                               * (v - q * scale)) AS DOUBLE)
                               * 1000000000000.0 + 0.5) AS DOUBLE)
                               / 1000000000000.0)
                               AS DECIMAL(38,12)))) AS DOUBLE) * 1000000000.0 + 0.5) AS DOUBLE) / 1000000000.0) AS DOUBLE) AS l2_err,
           CAST(SUM(CASE WHEN q <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nnz
    FROM quant
    GROUP BY vec_id, scale
    ORDER BY vec_id
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the storage/
    bandwidth move every billion-vector ANN index makes (4 bytes → 1 byte
    per dim) — reporting per-vector scale, reconstruction L2 error, and
    nonzero count. Quantization is floor(v/scale + 0.5): floor is
    unambiguous on every engine, unlike (CAST(floor(CAST(() AS DOUBLE) * 1.0 + 0.5) AS DOUBLE) / 1.0) whose half-way tie rule
    differs (Spark HALF_UP vs banker's variants). Element arithmetic stays
    per-value double (bit-identical), the error sum goes through
    DECIMAL(38,18) so fold order cannot matter. Scales: posexplode is a
    map-side flatMap, the agg groups by vec_id — one narrow shuffle;
    at 100 TB the same plan streams (in production the quantized bytes
    would be re-packed to binary via F.transform, no explode needed —
    the explode here exists to share the exact-sum contract)."""
    emb = load_table(spark, sf_dir, "embeddings")
    scale = (
        F.array_max(F.transform("embedding", lambda x: F.abs(x))).cast("double")
        / 127.0
    )
    scaled = emb.select("vec_id", "embedding", scale.alias("scale"))
    elems = scaled.select(
        "vec_id",
        "scale",
        F.explode("embedding").alias("e"),
    ).select("vec_id", "scale", F.col("e").cast("double").alias("v"))
    q = F.when(
        F.col("scale") > 0, F.floor(F.col("v") / F.col("scale") + 0.5)
    ).otherwise(F.lit(0))
    quant = elems.select("vec_id", "scale", q.alias("q"), "v")
    err = (F.col("v") - F.col("q") * F.col("scale")) * (
        F.col("v") - F.col("q") * F.col("scale")
    )
    return (
        quant.groupBy("vec_id", "scale")
        .agg(
            # quantization residuals² ≤ (scale/2)² ≤ ~1: round at 12dp
            # before the exact-DECIMAL sum (raw double→DECIMAL casts are
            # engine-asymmetric), well under the 2^53 round-trip bound
            portable_round(
                F.sum(term(err, 12)), 9
            )
            .cast("double")
            .alias("l2_err"),
            F.sum(F.when(F.col("q") != 0, 1).otherwise(0))
            .cast("bigint")
            .alias("nnz"),
        )
        .select(
            "vec_id",
            portable_round("scale", 9).cast("double").alias("scale"),
            "l2_err",
            "nnz",
        )
        .orderBy("vec_id")
    )


@query(
    "q_pair_affinity",
    oracle="""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS ok, p_brand AS b
        FROM lineitem JOIN part ON p_partkey = l_partkey
    ),
    marg AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS nb FROM basket GROUP BY b
    ),
    total AS (
        SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM basket
    ),
    pairs AS (
        SELECT a.b AS brand_a, c.b AS brand_b,
               CAST(COUNT(*) AS BIGINT) AS n_pair
        FROM basket a JOIN basket c ON a.ok = c.ok AND a.b < c.b
        GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, n_pair,
           CAST((CAST(floor(CAST((CAST(n_pair AS DOUBLE) * n_orders
                      / (ma.nb * mb.nb)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS lift
    FROM pairs
    JOIN marg ma ON ma.b = brand_a
    JOIN marg mb ON mb.b = brand_b
    CROSS JOIN total
    WHERE n_pair >= 2
    ORDER BY n_pair DESC, brand_a, brand_b
    """,
)
def q_pair_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair affinity: brand co-occurrence within an order
    with lift = P(a,b) / (P(a)·P(b)) — the 2-itemset A-priori step.
    The basket self-join keys on l_orderkey, so pair expansion is bounded
    by basket size squared (baskets are small by contract — the classic
    A-priori assumption), and the join co-locates on the already-shuffled
    order key. Marginals and the 1-row total broadcast back; lift is one
    double expression over exact integers, rounded before ordering.
    Scales: no all-pairs stage ever materializes across orders."""
    from stockmarketdata_dwb_etl_spark.operators.cache import bounded_persist

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # ONE shuffle on the order key builds each basket's sorted brand set;
    # pairs then generate MAP-SIDE from the in-array comprehension (the
    # lsh_candidate_pairs pattern) instead of a basket self-join, and the
    # basket table persists in a bounded slot because marginals, total,
    # and pairs all consume it (un-persisted, the lineitem⨝part distinct
    # would rebuild once per consumer)
    sets = bounded_persist(
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("b"))
        .groupBy("ok")
        .agg(F.sort_array(F.collect_set("b")).alias("bs")),
        "pair-affinity-baskets",
    )
    marg = (
        sets.select(F.explode("bs").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nb"))
    )
    total = sets.agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    # bs is sorted ascending and de-duplicated, so slicing past position
    # i yields exactly the brand_a < brand_b pairs
    pair_list = F.expr(
        "flatten(transform(bs, (x, i) ->"
        " transform(slice(bs, i + 2, size(bs)),"
        " y -> struct(x AS brand_a, y AS brand_b))))"
    )
    pairs = (
        sets.select(F.explode(pair_list).alias("p"))
        .select("p.brand_a", "p.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pair"))
        .filter(F.col("n_pair") >= 2)
    )
    ma = marg.select(F.col("b").alias("brand_a"), F.col("nb").alias("na_"))
    mb = marg.select(F.col("b").alias("brand_b"), F.col("nb").alias("nb_"))
    return (
        pairs.join(F.broadcast(ma), "brand_a")
        .join(F.broadcast(mb), "brand_b")
        .join(F.broadcast(total))
        .select(
            "brand_a",
            "brand_b",
            "n_pair",
            portable_round(
                F.col("n_pair").cast("double")
                * F.col("n_orders")
                / (F.col("na_") * F.col("nb_")),
                6,
            )
            .cast("double")
            .alias("lift"),
        )
        .orderBy(F.desc("n_pair"), "brand_a", "brand_b")
    )


@query(
    "q_bpe_pair_counts",
    oracle=f"""
    WITH wf AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT unnest({sql_tokenize("text")}) AS word FROM documents)
        GROUP BY word
    ),
    p AS (
        SELECT substring(word, CAST(i AS INTEGER), 2) AS pair, n
        FROM wf, unnest(range(1, length(word))) AS t(i)
        WHERE length(word) >= 2
    )
    SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt
    FROM p GROUP BY pair
    ORDER BY cnt DESC, pair
    LIMIT 20
    """,
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first merge step of BPE tokenizer training: corpus-weighted
    adjacent-character-pair frequencies, top-20 by (count, pair). The
    scale-critical design point: pairs are counted on the DISTINCT
    VOCABULARY weighted by word frequency, not by re-scanning the corpus
    per pair — the corpus is read once for the word-count agg (vocabulary
    is Zipf-small even at 100 TB), and the pair explode runs over vocab
    rows only. Integer counts end-to-end; substring is 1-based on both
    engines."""
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .filter(F.length("word") >= 2)
    )
    pairs = wf.select(
        F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
        "word",
        "n",
    ).select(F.expr("substring(word, i, 2)").alias("pair"), "n")
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(20)
    )


_BPE_K = 4


def _bpe_ctes(k: int = _BPE_K) -> str:
    """Generated CTE chain for k BPE merge rounds: each round is a
    (pair-count, argmax, rewrite) CTE triple — the bounded loop
    unrolled, which keeps the oracle plain SQL instead of a recursive
    CTE carrying the whole vocabulary as list state. The rewrite is the
    delimiter-anchored greedy fold (see q_bpe_merge_iterative). The
    final vocabulary CTE ``v{k}`` carries (word, syms, n); the per-round
    winners are ``b1..b{k}``."""
    ctes = [
        f"""wf AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT unnest({sql_tokenize("text")}) AS word FROM documents)
        WHERE regexp_matches(word, '^[a-z0-9]+$')
        GROUP BY word
    ),
    v0 AS (
        SELECT word, array_to_string(list_transform(
                   range(1, length(word) + 1),
                   i -> substring(word, i, 1)), '|') AS syms, n
        FROM wf WHERE length(word) >= 2
    )"""
    ]
    for r in range(1, k + 1):
        ctes.append(f"""p{r} AS (
        SELECT u.pr.sym_a AS sym_a, u.pr.sym_b AS sym_b,
               CAST(SUM(u.n) AS BIGINT) AS cnt
        FROM (
            SELECT unnest(list_transform(
                       range(1, len(s)),
                       i -> struct_pack(sym_a := s[i], sym_b := s[i+1])))
                       AS pr, n
            FROM (SELECT string_split(syms, '|') AS s, n FROM v{r - 1})
        ) u
        GROUP BY 1, 2
    ),
    b{r} AS (
        SELECT sym_a, sym_b, cnt FROM p{r}
        ORDER BY cnt DESC, sym_a, sym_b LIMIT 1
    ),
    v{r} AS (
        SELECT v.word,
               list_reduce(string_split(v.syms, '|'),
                   (acc, s) -> CASE WHEN (acc = b.sym_a
                                          OR ends_with(acc, '|' || b.sym_a))
                                         AND s = b.sym_b
                               THEN acc || s ELSE acc || '|' || s END) AS syms,
               v.n
        FROM v{r - 1} v CROSS JOIN b{r} b
    )""")
    return "WITH " + ",\n    ".join(ctes)


def _bpe_oracle(k: int = _BPE_K) -> str:
    unions = "\n        UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_round, sym_a, sym_b,"
        f" sym_a || sym_b AS merged, cnt FROM b{r}"
        for r in range(1, k + 1)
    )
    return (
        _bpe_ctes(k)
        + f"""
    SELECT * FROM ({unions})
    ORDER BY merge_round
    """
    )


def _bpe_learn(
    spark: SparkSession, sf_dir: str, k: int = _BPE_K, rewrite_last: bool = True
) -> tuple[DataFrame, list[DataFrame]]:
    """Run k BPE merge rounds over the distinct corpus vocabulary.

    Returns (vocab, merges): vocab is the (word, syms, n) table after the
    rewrites (after k rounds when ``rewrite_last``, else after k-1 — the
    merge-table-only caller skips the unobserved final rewrite), merges a
    list of k 1-row (merge_round, sym_a, sym_b, cnt) DataFrames. Both are
    localCheckpointed at every superstep boundary — see
    q_bpe_merge_iterative's docstring for the scale rationale."""
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("word"))
        .filter(F.col("word").rlike("^[a-z0-9]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .filter(F.length("word") >= 2)
    )
    vocab = wf.select(
        "word",
        F.filter(F.split("word", ""), lambda c: c != "").alias("syms"),
        "n",
    ).localCheckpoint(eager=True)

    def pair_counts(v: DataFrame) -> DataFrame:
        return (
            v.select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("syms") - 1),
                        lambda i: F.struct(
                            F.get(F.col("syms"), i - 1).alias("sym_a"),
                            F.get(F.col("syms"), i).alias("sym_b"),
                        ),
                    )
                ).alias("p"),
                "n",
            )
            .groupBy("p.sym_a", "p.sym_b")
            .agg(F.sum("n").cast("bigint").alias("cnt"))
        )

    bests = []

    def half_round(state: tuple, i: int) -> tuple:
        """Even i: the round's best pair (1 row, read by the merge table
        and the rewrite); odd i: the vocabulary rewritten by it."""
        vocab, best = state
        if i % 2 == 0:
            return vocab, pair_counts(vocab).orderBy(
                F.desc("cnt"), "sym_a", "sym_b"
            ).limit(1)
        bests.append(best)
        a, b = F.col("sym_a"), F.col("sym_b")
        rewritten = F.aggregate(
            "syms",
            F.array().cast("array<string>"),
            # F.get is null-safe: on the empty accumulator the tail read
            # yields NULL, the condition is false, and the fold appends
            lambda acc, s: F.when(
                (F.get(acc, F.size(acc) - 1) == a) & (s == b),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat(a, b)),
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        return (
            vocab.crossJoin(F.broadcast(best.select("sym_a", "sym_b")))
            .select("word", rewritten.alias("syms"), "n"),
            best,
        )

    # the merge table reads every superseded best: retain
    iters = 2 * k if rewrite_last else 2 * k - 1
    vocab, best = iterate((vocab, None), half_round, iters, eager=True, retain=True)
    if not rewrite_last:
        bests.append(best)
    merges = [
        b.select(F.lit(r).cast("bigint").alias("merge_round"), "*")
        for r, b in enumerate(bests, 1)
    ]
    return vocab, merges


@query("q_bpe_merge_iterative", oracle=_bpe_oracle())
def q_bpe_merge_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATIVE BPE tokenizer training — the bounded merge loop on top
    of q_bpe_pair_counts' single step (VERDICT r06 #8): k rounds of
    (count adjacent symbol pairs weighted by word frequency) → (argmax
    pair, ties broken by pair text) → (merge every greedy left-to-right
    occurrence in the vocabulary), returning the learned merge table
    (merge_round, sym_a, sym_b, merged, cnt) — the artifact a real BPE
    trainer ships. Scale design: the loop runs over the DISTINCT
    VOCABULARY (Zipf-small even at 100 TB — the corpus is scanned once
    for word counts), each superstep is ONE pair-count shuffle plus a
    broadcast of the single winning pair into a map-side fold rewrite
    (array `aggregate`, no explode of rewritten words), and the
    vocabulary localCheckpoints at every superstep boundary so round
    r+1's plan does not re-execute rounds 1..r (the pagerank superstep
    rule). The greedy fold merges strictly left-to-right with the
    PRE-merge tail check, so 'lllll' under (l,l) becomes (ll)(ll)(l) —
    canonical BPE semantics, reproduced bit-identically by the oracle's
    delimiter-anchored string fold. k is a constant (4): driver-side
    loop bounds are data-independent, so the physical plan count never
    depends on the corpus."""
    _, merges = _bpe_learn(spark, sf_dir, _BPE_K, rewrite_last=False)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out.select(
        "merge_round",
        "sym_a",
        "sym_b",
        F.concat("sym_a", "sym_b").alias("merged"),
        "cnt",
    ).orderBy("merge_round")


def _bpe_apply_oracle(k: int = _BPE_K) -> str:
    return (
        _bpe_ctes(k)
        + f""",
    vk AS (
        SELECT word, CAST(len(string_split(syms, '|')) AS BIGINT) AS n_tok
        FROM v{k}
    ),
    corpus AS (
        SELECT source, word
        FROM (SELECT source, unnest({sql_tokenize("text")}) AS word FROM documents)
        WHERE regexp_matches(word, '^[a-z0-9]+$') AND length(word) >= 2
    )
    SELECT c.source,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(length(c.word)) AS BIGINT) AS n_chars,
           CAST(SUM(vk.n_tok) AS BIGINT) AS n_tokens,
           CAST((CAST(floor(CAST((CAST(SUM(vk.n_tok) AS DOUBLE)
                / COUNT(*)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE)
                / 1000000.0) AS DOUBLE) AS tokens_per_word,
           CAST((CAST(floor(CAST((CAST(SUM(length(c.word)) AS DOUBLE)
                / SUM(vk.n_tok)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE)
                / 1000000.0) AS DOUBLE) AS chars_per_token
    FROM corpus c JOIN vk ON vk.word = c.word
    GROUP BY c.source
    ORDER BY c.source
    """
    )


@query("q_bpe_apply", oracle=_bpe_apply_oracle())
def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE tokenizer back to the corpus — the second
    half of the train→apply pipeline (q_bpe_merge_iterative learns the
    merge table; this measures what it bought): per source, corpus word
    occurrences join the post-merge vocabulary for their token counts,
    reporting tokens-per-word and chars-per-token compression. Scale
    design: the vocabulary (word → n_tokens after k merges) is the
    Zipf-small trained artifact, so the application is ONE broadcast
    join onto the exploded corpus words — the corpus is never rewritten
    row-by-row, and the per-source aggregate is a partial-agg shuffle on
    source. Only trainable words (alnum, len ≥ 2, the training filter)
    are scored, identically on both engines. Integer counts; the two
    ratios are single divisions rounded via the portable floor form."""
    k = _BPE_K
    vocab, _ = _bpe_learn(spark, sf_dir, k, rewrite_last=True)
    vk = vocab.select("word", F.size("syms").cast("bigint").alias("n_tok"))
    docs = load_table(spark, sf_dir, "documents")
    corpus = (
        docs.select("source", F.explode(tokenize(F.col("text"))).alias("word"))
        .filter(F.col("word").rlike("^[a-z0-9]+$") & (F.length("word") >= 2))
    )
    return (
        corpus.join(F.broadcast(vk), "word")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum(F.length("word")).cast("bigint").alias("n_chars"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            portable_round(
                F.sum("n_tok").cast("double") / F.count(F.lit(1)), 6
            )
            .cast("double")
            .alias("tokens_per_word"),
            portable_round(
                F.sum(F.length("word")).cast("double") / F.sum("n_tok"), 6
            )
            .cast("double")
            .alias("chars_per_token"),
        )
        .orderBy("source")
    )


@query(
    "q_boilerplate_ratio",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct({sql_word_shingles("w", 3)}) AS shingles
        FROM (SELECT doc_id, {sql_tokenize("text")} AS w FROM documents)
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    df AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n_docs FROM ex GROUP BY s)
    SELECT ex.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           CAST((CAST(floor(CAST((CAST(SUM(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END)
                           AS DOUBLE) / COUNT(*)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS ratio
    FROM ex JOIN df ON df.s = ex.s
    GROUP BY ex.doc_id
    ORDER BY ex.doc_id
    """,
)
def q_boilerplate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: per document, the fraction of its distinct
    3-word shingles that appear in at least one OTHER document (shingle
    document-frequency >= 2) — the corpus-level signal for template/nav
    text that per-document quality scores (q_text_quality) cannot see.
    Inverted-index shape WITHOUT the index join-back: a doc's shingles
    are distinct, so n_shared = n_shingles − (its count of SINGLETON
    shingles), and a singleton shingle (df = 1) names its one owner doc
    in the same hash-agg that counts it (min(doc_id) over a 1-row
    group). That drops the former full (doc_id,shingle)⋈df shuffle join
    — the probe-measured hot stage at ×10 data — for a singleton-only
    doc_id agg plus a doc-grain join. Shuffles key on shingle then
    doc_id, never all-pairs. Integer counts + single division. The
    doc-grain shingle-array table feeds BOTH the explode and the
    per-doc size(), so it persists once (bounded slot, same leak guard
    as the dedup family) and the regex tokenize+shingle pass, the CPU
    cost of the whole query, runs once over the corpus."""
    from stockmarketdata_dwb_etl_spark.operators.dedup import (
        _persist_shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = _persist_shingles(
        docs.select(
            "doc_id",
            F.array_distinct(word_shingles(tokenize(F.col("text")), 3)).alias("sh"),
        )
    )
    ex = sh.select("doc_id", F.explode("sh").alias("s"))
    uniques = (
        ex.groupBy("s")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("doc_id"))
        .filter(F.col("n_docs") == 1)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_unique"))
    )
    per_doc = sh.select(
        "doc_id", F.size("sh").cast("bigint").alias("n_shingles")
    ).filter(F.col("n_shingles") > 0)
    return (
        per_doc.join(uniques, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            (
                F.col("n_shingles") - F.coalesce(F.col("n_unique"), F.lit(0))
            )
            .cast("bigint")
            .alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            portable_round(
                F.col("n_shared").cast("double") / F.col("n_shingles"), 6
            )
            .cast("double")
            .alias("ratio"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_association_rules",
    oracle="""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS ok, p_brand AS b
        FROM lineitem JOIN part ON p_partkey = l_partkey
    ),
    marg AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS n_b FROM basket GROUP BY b
    ),
    tot AS (
        SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM basket
    ),
    pairs AS (
        SELECT x.b AS antecedent, y.b AS consequent,
               CAST(COUNT(*) AS BIGINT) AS n_both
        FROM basket x JOIN basket y ON x.ok = y.ok AND x.b <> y.b
        GROUP BY 1, 2
    )
    SELECT p.antecedent, p.consequent, p.n_both,
           ma.n_b AS n_antecedent,
           CAST((2 * 10000 * p.n_both + ma.n_b) // (2 * ma.n_b) AS BIGINT)
               AS confidence_x10000,
           CAST((2 * 10000 * p.n_both + t.n_orders) // (2 * t.n_orders)
                AS BIGINT) AS support_x10000
    FROM pairs p
    JOIN marg ma ON ma.b = p.antecedent
    CROSS JOIN tot t
    WHERE 100 * p.n_both >= 2 * t.n_orders
    ORDER BY antecedent, consequent
    """,
)
def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules a→b over brand baskets — the step
    after q_pair_affinity's symmetric lift: asymmetric CONFIDENCE
    P(b|a) = n_ab/n_a (a→b and b→a differ, which is what makes rules
    actionable) plus support, both integer-scaled with integer half-up
    rounding, floored at 2% support (integer-scaled compare — no float
    at the cut). Directed pairs come from the same orderkey-co-located
    basket self-join (bounded by basket size); marginals broadcast
    back. One shuffle family on the order key."""
    from stockmarketdata_dwb_etl_spark.operators.cache import bounded_persist

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # same one-shuffle basket design as q_pair_affinity: collect each
    # order's distinct brand set once (persisted — marginals, total, and
    # pairs all consume it), generate the DIRECTED a≠b pairs map-side
    # from the in-array comprehension instead of a basket self-join
    sets = bounded_persist(
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("b"))
        .groupBy("ok")
        .agg(F.sort_array(F.collect_set("b")).alias("bs")),
        "assoc-rules-baskets",
    )
    marg = (
        sets.select(F.explode("bs").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_b"))
    )
    tot = sets.agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    pair_list = F.expr(
        "flatten(transform(bs, x ->"
        " transform(filter(bs, y -> y != x),"
        " y -> struct(x AS antecedent, y AS consequent))))"
    )
    pairs = (
        sets.select(F.explode(pair_list).alias("p"))
        .select("p.antecedent", "p.consequent")
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    ma = marg.select(
        F.col("b").alias("antecedent"), F.col("n_b").alias("n_antecedent")
    )
    return (
        pairs.join(F.broadcast(ma), "antecedent")
        .crossJoin(F.broadcast(tot))
        .filter(F.lit(100) * F.col("n_both") >= F.lit(2) * F.col("n_orders"))
        .select(
            "antecedent",
            "consequent",
            "n_both",
            "n_antecedent",
            F.expr(
                "(2 * 10000 * n_both + n_antecedent) div (2 * n_antecedent)"
            )
            .cast("bigint")
            .alias("confidence_x10000"),
            F.expr("(2 * 10000 * n_both + n_orders) div (2 * n_orders)")
            .cast("bigint")
            .alias("support_x10000"),
        )
        .orderBy("antecedent", "consequent")
    )
