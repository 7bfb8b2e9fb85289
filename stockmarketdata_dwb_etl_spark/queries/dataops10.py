"""LLM-corpus operations, part 10: hybrid-retrieval rank fusion,
preference-pair construction, and the mergeable histogram quantile
sketch.

Three north-star operators a 100 TB training-data pipeline runs daily
(no analog in the 683-LoC scraper reference — this is the engine surface
the reference's warehouse would host):

- RRF fusion is the standard hybrid-retrieval recipe (Cormack et al.
  2009): fuse a lexical top-k and a semantic (embedding) top-k by
  reciprocal rank, so neither ranker's score scale matters.
- Preference pairs are the DPO/RLHF data-prep step: per group, the
  highest- and lowest-quality document become (chosen, rejected).
- The histogram quantile sketch is the mergeable-summary pattern:
  fixed-width bins make the sketch state O(#bins) per partition and
  exactly mergeable by addition — the only way percentile monitoring
  works on a 1000-executor scan.

Determinism policy: embedding dots/norms accumulate per-term
12dp-rounded DECIMAL (functions/exact.py::sql_term_sum/fold_term_sum);
ranks, scores and bin counts are exact integers; every emitted double
passes portable_round through the identical tree on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.exact import (
    fold_term_sum,
    portable_round,
    sql_portable_round,
    sql_term_sum,
)
from stockmarketdata_dwb_etl_spark.functions.text import (
    sql_tokenize,
    sql_word_shingles,
    tokenize,
)
from stockmarketdata_dwb_etl_spark.registry import query

# the three lexical query terms for the hybrid-retrieval demo (present
# in the synthetic corpus vocabulary) and the RRF smoothing constant
_RRF_TERMS = ("spark", "window", "merge")
_RRF_K = 60
_TOPK = 100


@query(
    "q_rrf_fusion",
    oracle=f"""
    WITH lex AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '),
                               t -> t IN ('spark', 'window', 'merge')))
                 AS lex
        FROM documents WHERE doc_id <> 0
    ), lexr AS (
        SELECT doc_id, r_lex FROM (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY lex DESC, doc_id)
                        AS INTEGER) AS r_lex
            FROM lex)
        WHERE r_lex <= {_TOPK}
    ), ex AS (
        SELECT vec_id, u.idx, u.val
        FROM embeddings,
             LATERAL (SELECT UNNEST(generate_series(1, len(embedding))) AS idx,
                             UNNEST(embedding) AS val) u
    ), pv AS (
        SELECT idx, val FROM ex WHERE vec_id = 0
    ), nrm AS (
        SELECT vec_id,
               {sql_portable_round(sql_term_sum("val * val", 12), 9)} AS n2
        FROM ex GROUP BY vec_id
    ), dots AS (
        SELECT e.vec_id AS doc_id,
               {sql_portable_round(sql_term_sum("e.val * p.val", 12), 9)} AS dot
        FROM ex e JOIN pv p ON p.idx = e.idx
        WHERE e.vec_id <> 0
        GROUP BY e.vec_id
    ), sem AS (
        SELECT d.doc_id,
               {sql_portable_round("d.dot / sqrt(na.n2 * n0.n2)", 9)} AS cos
        FROM dots d
        JOIN nrm na ON na.vec_id = d.doc_id
        CROSS JOIN (SELECT n2 FROM nrm WHERE vec_id = 0) n0
    ), semr AS (
        SELECT doc_id, r_sem FROM (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
                        AS INTEGER) AS r_sem
            FROM sem)
        WHERE r_sem <= {_TOPK}
    ), fused AS (
        SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id, l.r_lex, s.r_sem
        FROM lexr l FULL JOIN semr s ON s.doc_id = l.doc_id
    )
    SELECT doc_id, r_lex, r_sem,
           CAST({sql_portable_round(
               f"COALESCE(1.0 / ({_RRF_K} + r_lex), 0.0)"
               f" + COALESCE(1.0 / ({_RRF_K} + r_sem), 0.0)", 9)}
               AS DOUBLE) AS rrf_score
    FROM fused
    ORDER BY rrf_score DESC, doc_id
    LIMIT 20
    """,
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack 2009): a
    lexical ranker (query-term token count over documents.text) and a
    semantic ranker (cosine vs the probe embedding, vec_id=0 — the
    q_cosine_topk convention; doc_id↔vec_id is the fixture's aligned
    corpus) each produce a top-100 list; every candidate's fused score
    is Σ 1/(60+rank) over the lists it appears in, top-20 emitted.
    Ranks, not scores, cross the fusion boundary — the property that
    makes RRF robust to incomparable score scales. Scale: each ranker
    is one scan + TakeOrdered top-k (no global sort, no corpus-wide
    window — rank assignment happens on the k-row result), the fusion
    is a k-row full outer join; dots/norms accumulate per-term decimal
    so no reassociation ulp can flip a rank near a cosine tie."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    lex_score = F.size(
        F.filter(
            F.split(F.col("text"), " "), lambda t: t.isin(*_RRF_TERMS)
        )
    )
    lex100 = (
        docs.filter(F.col("doc_id") != 0)
        .select("doc_id", lex_score.alias("lex"))
        .orderBy(F.col("lex").desc(), "doc_id")
        .limit(_TOPK)
    )
    # the window runs over the TakeOrdered 100-row result, not the corpus
    lexr = lex100.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("lex").desc(), "doc_id"))
        .cast("int")
        .alias("r_lex"),
    )

    probe = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("pv"),
        portable_round(
            fold_term_sum(F.transform("embedding", lambda x: x * x), 12), 9
        ).alias("n0"),
    )
    sem100 = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select(
            F.col("vec_id").alias("doc_id"),
            portable_round(
                portable_round(
                    fold_term_sum(
                        F.zip_with("embedding", "pv", lambda x, y: x * y), 12
                    ),
                    9,
                )
                / F.sqrt(
                    portable_round(
                        fold_term_sum(
                            F.transform("embedding", lambda x: x * x), 12
                        ),
                        9,
                    )
                    * F.col("n0")
                ),
                9,
            ).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), "doc_id")
        .limit(_TOPK)
    )
    semr = sem100.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("cos").desc(), "doc_id"))
        .cast("int")
        .alias("r_sem"),
    )

    fused = lexr.join(semr, "doc_id", "full")
    rrf = portable_round(
        F.coalesce(
            F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_lex")), F.lit(0.0)
        )
        + F.coalesce(
            F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_sem")), F.lit(0.0)
        ),
        9,
    )
    return (
        fused.select(
            "doc_id",
            "r_lex",
            "r_sem",
            rrf.cast("double").alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(20)
    )


@query(
    "q_preference_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang,
               {sql_tokenize("text")} AS w
        FROM documents
    ), scored AS (
        SELECT doc_id, lang,
               CAST(10000 * len(list_distinct(w))
                    // greatest(len(w), 1) AS BIGINT) AS score
        FROM toks
    ), g AS (
        SELECT lang,
               CAST(MAX(score) AS BIGINT) AS smax,
               CAST(MIN(score) AS BIGINT) AS smin,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM scored GROUP BY lang
    )
    SELECT s.lang,
           CAST(MIN(CASE WHEN s.score = g.smax THEN s.doc_id END)
                AS BIGINT) AS chosen_id,
           CAST(MIN(CASE WHEN s.score = g.smin THEN s.doc_id END)
                AS BIGINT) AS rejected_id,
           CAST(g.smax AS BIGINT) AS chosen_score,
           CAST(g.smin AS BIGINT) AS rejected_score,
           CAST(g.smax - g.smin AS BIGINT) AS margin,
           g.n_docs
    FROM scored s JOIN g ON g.lang = s.lang
    WHERE g.n_docs >= 2 AND g.smax > g.smin
    GROUP BY s.lang, g.smax, g.smin, g.n_docs
    ORDER BY s.lang
    """,
)
def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO/RLHF preference-pair construction: per group (lang — the
    prompt-family stand-in), the highest-scoring document becomes
    `chosen` and the lowest `rejected`, with the quality margin. The
    quality score is a pure-integer lexical-diversity ratio
    (10000·distinct_tokens div tokens — exact on both engines, no float
    threshold anywhere; the repetition-penalizing signal the Gopher
    rules use); ties
    break to the lowest doc_id; degenerate groups (margin 0 or <2 docs)
    are dropped — a zero-margin pair teaches a DPO objective nothing.
    Scale: one hash-agg for the group extremes (catalog-sized result,
    broadcast back) + one conditional agg over the scored scan — no
    window, no per-group sort, the exact two-pass argmax shape that
    survives a billion-doc group."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        F.expr(
            "CAST(10000 * size(array_distinct("
            "  filter(split(text, ' '), x -> x != '')))"
            " div greatest(size(filter(split(text, ' '), x -> x != '')), 1)"
            " AS BIGINT)"
        ).alias("score"),
    )
    g = scored.groupBy("lang").agg(
        F.max("score").cast("bigint").alias("smax"),
        F.min("score").cast("bigint").alias("smin"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    return (
        scored.join(F.broadcast(g), "lang")
        .filter((F.col("n_docs") >= 2) & (F.col("smax") > F.col("smin")))
        .groupBy("lang", "smax", "smin", "n_docs")
        .agg(
            F.min(
                F.when(F.col("score") == F.col("smax"), F.col("doc_id"))
            )
            .cast("bigint")
            .alias("chosen_id"),
            F.min(
                F.when(F.col("score") == F.col("smin"), F.col("doc_id"))
            )
            .cast("bigint")
            .alias("rejected_id"),
        )
        .select(
            "lang",
            "chosen_id",
            "rejected_id",
            F.col("smax").alias("chosen_score"),
            F.col("smin").alias("rejected_score"),
            (F.col("smax") - F.col("smin")).cast("bigint").alias("margin"),
            "n_docs",
        )
        .orderBy("lang")
    )


_QS_WIDTH = 2000.0  # literal bin width — the sketch's only parameter


@query(
    "q_quantile_sketch",
    oracle=f"""
    WITH bins AS (
        SELECT CAST(floor(CAST(o_totalprice AS DOUBLE) / {_QS_WIDTH})
                    AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1
    ), cum AS (
        SELECT bin, cnt,
               CAST(SUM(cnt) OVER (ORDER BY bin
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS n_le,
               CAST(SUM(cnt) OVER () AS BIGINT) AS n_total
        FROM bins
    ), levels(p) AS (VALUES (50), (90), (99))
    SELECT l.p,
           CAST(MIN(c.bin) AS BIGINT) AS bin,
           CAST(MIN(c.bin) * {_QS_WIDTH} AS DOUBLE) AS est_lo,
           CAST((MIN(c.bin) + 1) * {_QS_WIDTH} AS DOUBLE) AS est_hi,
           CAST(t.n_total AS BIGINT) AS n_total
    FROM levels l
    CROSS JOIN (SELECT MAX(n_total) AS n_total FROM cum) t
    JOIN cum c ON 100 * c.n_le >= l.p * t.n_total
    GROUP BY l.p, t.n_total
    ORDER BY l.p
    """,
)
def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram quantile sketch over orders.o_totalprice:
    fixed-width bins (floor(x/w) — one double op, identical both
    engines), per-bin counts, and the p50/p90/p99 estimate as the first
    bin whose cumulative count crosses p%·N (integer-scaled comparison
    100·cum ≥ p·N — no float touches the threshold). Emits the bin and
    its [lo, hi) edges: the estimate's error is bounded by the bin
    width by construction. Scale: the sketch state is O(#bins) per
    partition and merges by ADDITION (partial aggregation is the merge
    — this is exactly how a 1000-executor percentile monitor avoids a
    global sort); the cumulative window runs over the bin table, whose
    size is fixed by the value range, not the row count."""
    orders = load_table(spark, sf_dir, "orders")
    bins = orders.groupBy(
        F.floor(F.col("o_totalprice").cast("double") / F.lit(_QS_WIDTH))
        .cast("bigint")
        .alias("bin")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    w_cum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = bins.select(
        "bin",
        "cnt",
        F.sum("cnt").over(w_cum).cast("bigint").alias("n_le"),
        F.sum("cnt").over(w_all).cast("bigint").alias("n_total"),
    )
    levels = spark.range(1).select(
        F.explode(F.array(F.lit(50), F.lit(90), F.lit(99))).alias("p")
    )
    return (
        levels.crossJoin(F.broadcast(cum))
        .filter(F.lit(100) * F.col("n_le") >= F.col("p") * F.col("n_total"))
        .groupBy("p", "n_total")
        .agg(F.min("bin").cast("bigint").alias("bin"))
        .select(
            "p",
            "bin",
            (F.col("bin") * F.lit(_QS_WIDTH)).cast("double").alias("est_lo"),
            ((F.col("bin") + 1) * F.lit(_QS_WIDTH))
            .cast("double")
            .alias("est_hi"),
            "n_total",
        )
        .orderBy("p")
    )


_MIX_BUDGET = 1_000_000  # literal token budget for the mixture plan


@query(
    "q_mixture_epochs",
    oracle=f"""
    WITH avail AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len({sql_tokenize("text")})) AS BIGINT)
                 AS avail_tokens,
               CAST(100 + 50 * (COALESCE(TRY_CAST(substr(source, 4)
                                         AS INTEGER), 0) % 8)
                    AS BIGINT) AS weight_bp
        FROM documents GROUP BY source
    ), tot AS (
        SELECT CAST(SUM(weight_bp) AS BIGINT) AS total_bp FROM avail
    )
    SELECT a.source, a.n_docs, a.avail_tokens, a.weight_bp,
           CAST(a.weight_bp * {_MIX_BUDGET} // t.total_bp AS BIGINT)
               AS wanted_tokens,
           CAST((a.weight_bp * {_MIX_BUDGET} // t.total_bp
                 + a.avail_tokens - 1) // a.avail_tokens AS BIGINT)
               AS epochs,
           CAST({sql_portable_round(
               f"CAST(a.weight_bp * {_MIX_BUDGET} // t.total_bp AS DOUBLE)"
               " / a.avail_tokens", 4)} AS DOUBLE) AS upsample
    FROM avail a CROSS JOIN tot t
    ORDER BY a.source
    """,
)
def q_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data mixture planning (the DoReMi/data-mixing prep
    step): given per-source mixture weights (basis points, derived
    deterministically from the source id) and a literal token budget,
    compute each source's token allocation, the REPEAT FACTOR (epochs =
    ceil(wanted/available) — how many passes over a small-but-upweighted
    source the sampler must take), and the upsampling ratio. Every
    quantity is exact integer arithmetic (wanted = bp·budget div Σbp;
    ceil via (x+a−1) div a); the only double is the 4dp-rounded ratio of
    two exact integers (identical division both engines). Scale: one
    hash-agg over the corpus for availability + a 1-row total broadcast —
    the mixture table is source-count-sized at any corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    ntok = F.size(tokenize("text"))
    avail = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(ntok).cast("bigint").alias("avail_tokens"),
        # TRY_CAST/COALESCE on BOTH sides: a regenerated fixture vintage
        # with non-numeric source names must degrade identically (weight
        # floor 100bp), not DuckDB-error vs Spark-NULL
        (
            F.lit(100)
            + F.lit(50)
            * (
                F.coalesce(
                    # unbounded substring (no length arg), matching the
                    # oracle's substr(source, 4): an 11+-digit suffix must
                    # overflow-to-NULL identically in both engines instead
                    # of Spark int-casting a 10-char truncation
                    F.expr("substring(max(source), 4)").cast("int"),
                    F.lit(0),
                )
                % 8
            )
        )
        .cast("bigint")
        .alias("weight_bp"),
    )
    tot = avail.agg(F.sum("weight_bp").cast("bigint").alias("total_bp"))
    wanted = F.expr(f"CAST(weight_bp * {_MIX_BUDGET} div total_bp AS BIGINT)")
    return (
        avail.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "avail_tokens",
            "weight_bp",
            wanted.alias("wanted_tokens"),
            F.expr(
                f"CAST((weight_bp * {_MIX_BUDGET} div total_bp"
                " + avail_tokens - 1) div avail_tokens AS BIGINT)"
            ).alias("epochs"),
            portable_round(
                wanted.cast("double") / F.col("avail_tokens"), 4
            )
            .cast("double")
            .alias("upsample"),
        )
        .orderBy("source")
    )


@query(
    "q_dedup_soft_weights",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_id AS a, doc_id + 1000000 AS b
        FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 1000000 AS a, doc_id + 2000000 AS b
        FROM documents WHERE doc_id % 10 = 0
    ), und AS (
        SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
    ), verts AS (
        SELECT DISTINCT a AS v FROM und
    ), reach AS (
        SELECT v, v AS r FROM verts
        UNION
        SELECT und.b AS v, reach.r FROM reach JOIN und ON und.a = reach.v
    ), comp AS (
        SELECT v AS doc_id, MIN(r) AS rep FROM reach GROUP BY v
    ), allv AS (
        SELECT d.doc_id, COALESCE(c.rep, d.doc_id) AS rep
        FROM (SELECT doc_id FROM documents
              UNION ALL
              SELECT doc_id + 1000000 FROM documents WHERE doc_id % 10 = 0
              UNION ALL
              SELECT doc_id + 2000000 FROM documents WHERE doc_id % 10 = 0) d
        LEFT JOIN comp c ON c.doc_id = d.doc_id
    ), sizes AS (
        SELECT rep, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM allv GROUP BY rep
    )
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
           CAST({sql_portable_round("1.0 / cluster_size", 6)} AS DOUBLE)
               AS weight
    FROM sizes GROUP BY cluster_size ORDER BY cluster_size
    """,
)
def q_dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup (down-weight, don't drop): every document in a
    near-dup cluster gets train-time weight 1/cluster_size so the
    cluster contributes ONE document's worth of gradient signal — the
    alternative to hard removal when duplicates carry distribution
    information. Clusters come from the same transitive-closure
    machinery as q_dedup_transitive (min-label propagation over the
    synthetic dup chains; operators/dedup.py::connected_components);
    docs in no pair are size-1 singletons at weight 1.0. Emitted as the
    (cluster_size → n_clusters, n_docs, weight) histogram — the corpus
    health report a soft-dedup run publishes. Weight is the 6dp round
    of 1/size (exact integer inputs, identical division). Scale: the
    closure is O(diameter) rounds shuffling edges only; the histogram
    is two hash-aggs; the per-doc weight join-back (not emitted) is a
    broadcast of the rep→size dim."""
    from stockmarketdata_dwb_etl_spark.operators.dedup import (
        connected_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    gen0 = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    edges = gen0.select(
        F.col("doc_id").alias("src"),
        (F.col("doc_id") + 1_000_000).alias("dst"),
    ).unionByName(
        gen0.select(
            (F.col("doc_id") + 1_000_000).alias("src"),
            (F.col("doc_id") + 2_000_000).alias("dst"),
        )
    )
    # synthetic chain edges: one row per generator doc, ids disjoint
    comp = connected_components(edges, assume_distinct=True).select(
        F.col("id").alias("doc_id"), "cluster_rep"
    )
    allv = (
        docs.select("doc_id")
        .unionByName(gen0.select((F.col("doc_id") + 1_000_000).alias("doc_id")))
        .unionByName(gen0.select((F.col("doc_id") + 2_000_000).alias("doc_id")))
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_rep"), F.col("doc_id")).alias("rep"),
        )
    )
    sizes = allv.groupBy("rep").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("cluster_size").cast("bigint").alias("n_docs"),
        )
        .select(
            "cluster_size",
            "n_clusters",
            "n_docs",
            portable_round(F.lit(1.0) / F.col("cluster_size"), 6)
            .cast("double")
            .alias("weight"),
        )
        .orderBy("cluster_size")
    )


@query(
    "q_cdc_chunks",
    oracle=f"""
    WITH toks AS (
        SELECT d.doc_id, d.lang, u.pos, u.tok
        FROM (SELECT doc_id, lang,
                     {sql_tokenize("text")} AS ws
              FROM documents) d,
             LATERAL (SELECT UNNEST(generate_series(1, len(ws))) AS pos,
                             UNNEST(ws) AS tok) u
    ), flagged AS (
        SELECT doc_id, lang, pos, tok,
               CASE WHEN substr(md5(tok), 2, 1) = '0'
                    THEN 1 ELSE 0 END AS b
        FROM toks
    ), cid AS (
        SELECT doc_id, lang, pos, tok,
               COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING), 0)
                 AS chunk_id
        FROM flagged
    ), chunks AS (
        SELECT doc_id, lang, chunk_id,
               md5(string_agg(tok, ' ' ORDER BY pos)) AS h,
               CAST(COUNT(*) AS BIGINT) AS n_toks
        FROM cid GROUP BY doc_id, lang, chunk_id
    ), hs AS (
        SELECT lang, h,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(n_toks) AS BIGINT) AS toks
        FROM chunks GROUP BY lang, h
    )
    SELECT lang,
           CAST(SUM(cnt) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
               AS n_dup_chunks,
           CAST({sql_portable_round(
               "CAST(SUM(toks) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)", 4)}
               AS DOUBLE) AS avg_chunk_tokens
    FROM hs GROUP BY lang ORDER BY lang
    """,
)
def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the FastCDC/rsync idea at token
    granularity): a chunk boundary falls AFTER every token whose md5's
    second hex digit is '0' (a stateless 1/16 content gate), so chunk
    identities are ANCHORED TO CONTENT — inserting or editing one token
    reshapes at most the chunks touching the edit, while fixed-window
    chunking (q_chunk_documents) shifts every downstream chunk. That
    stability is what makes chunk-hash dedup work on near-identical
    documents with small edits. Emits the per-lang chunk-dedup health
    report: chunk count, distinct chunk hashes, duplicated-chunk mass,
    4dp mean chunk length (ratio of exact integers). Scale: one
    doc-partitioned window for the running boundary count (partitions
    are document-sized), chunk reassembly is a (doc, chunk) hash-agg
    with the proven array_sort(collect_list) fold, and the dedup report
    shuffles md5 digests only — fixed-width keys, vocabulary-sized
    state, no document ever joins another document."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.posexplode(tokenize("text")).alias("pos0", "tok"),
    ).select("doc_id", "lang", (F.col("pos0") + 1).alias("pos"), "tok")
    b = F.when(F.substring(F.md5("tok"), 2, 1) == "0", 1).otherwise(0)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cid = toks.select(
        "doc_id",
        "lang",
        "pos",
        "tok",
        F.coalesce(F.sum(b).over(w), F.lit(0)).alias("chunk_id"),
    )
    chunks = cid.groupBy("doc_id", "lang", "chunk_id").agg(
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            )
        ).alias("h"),
        F.count(F.lit(1)).cast("bigint").alias("n_toks"),
    )
    hs = chunks.groupBy("lang", "h").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("n_toks").cast("bigint").alias("toks"),
    )
    return (
        hs.groupBy("lang")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_chunks"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("n_dup_chunks"),
            portable_round(
                F.sum("toks").cast("double")
                / F.sum("cnt").cast("double"),
                4,
            )
            .cast("double")
            .alias("avg_chunk_tokens"),
        )
        .orderBy("lang")
    )


# oracle is IDENTICAL to q_dedup_cross_corpus's: the materialized-index
# probe must produce exactly the pairs the in-plan pipeline produces
# (same split, same LSH parameters, same exact-verify threshold) — the
# only difference is WHERE the corpus signatures come from.
_CROSS_CORPUS_ORACLE = f"""
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
"""


@query("q_dedup_index_probe", oracle=_CROSS_CORPUS_ORACLE)
def q_dedup_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a MATERIALIZED MinHash signature index —
    the daily-ingest shape of near-dup decontamination: the corpus's
    signatures are computed ONCE and written to parquet (the dedup twin
    of q_ann_ivf_pruned's materialized IVF index); each probe batch
    (here the holdout split) computes only ITS OWN signatures, unions
    them with the stored table, and runs the banded cross-candidate join
    + exact-Jaccard verify. At 100 TB this is the difference between
    re-shingling the whole corpus per ingest batch and touching only the
    day's arrivals plus a signature table ~1000× smaller than the text.
    Same split, LSH parameters, and 0.7 verify threshold as
    q_dedup_cross_corpus, so the oracle is IDENTICAL and
    tests/test_round9_ops.py asserts result equality with the in-plan
    pipeline — proof the index path loses nothing. Verify re-reads only
    candidate documents' shingles; probe-side bucket caps and the
    size-ratio prefilter carry over unchanged."""
    import os

    from stockmarketdata_dwb_etl_spark.operators.dedup import (
        _persist_shingles,
        lsh_cross_candidate_pairs,
        minhash_signatures,
        shingle_sets,
        verify_jaccard,
    )
    from stockmarketdata_dwb_etl_spark.scratch import fixture_tag

    docs = load_table(spark, sf_dir, "documents")
    corp = docs.filter(F.col("doc_id") % 7 != 0).select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 14 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat("text", F.lit(" qq1 qq2 qq3")).alias("text"),
    )
    hold = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text")
    corpus_side = corp.unionByName(planted)

    # cache key folds the signature parameters (n_perm/seed/shingle_k,
    # read from minhash_signatures' actual defaults so a parameter
    # change can never silently desynchronize the key) into the
    # directory name; build under a temp dir + atomic rename so a
    # concurrent session either sees the finished index or none at all
    import inspect

    sig_defaults = {
        p.name: p.default
        for p in inspect.signature(minhash_signatures).parameters.values()
    }
    tag = fixture_tag(sf_dir) + (
        f"_p{sig_defaults['n_perm']}"
        f"s{sig_defaults['seed']}"
        f"k{sig_defaults['shingle_k']}"
    )
    path = os.path.join("/root/repo/.scratch/minhash_index", tag)
    success = os.path.join(path, "_SUCCESS")
    if not os.path.exists(success):
        import shutil

        for attempt in range(3):
            tmp = path + f".tmp-{os.getpid()}-{attempt}"
            minhash_signatures(corpus_side).write.mode("overwrite").parquet(
                tmp
            )
            try:
                os.rename(tmp, path)
                break
            except OSError:
                shutil.rmtree(tmp, ignore_errors=True)
                if os.path.exists(success):
                    # Lost the publish race — another session renamed a
                    # finished index first. Read theirs.
                    break
                # Rename failed without a published index (stale
                # partial dir at path, cross-device tmp, ...): clear
                # the unpublished target and RETRY the tmp-write +
                # atomic-rename publish. NEVER write the final path in
                # place — a concurrent session that just passed the
                # _SUCCESS check, or is mid-read, must only ever
                # observe a complete renamed index, not a
                # mid-overwrite one.
                shutil.rmtree(path, ignore_errors=True)
        else:
            raise RuntimeError(
                f"could not publish minhash index at {path} after 3 "
                "tmp-write + atomic-rename attempts"
            )
    corpus_sigs = spark.read.parquet(path)
    probe_sigs = minhash_signatures(hold)

    sigs = corpus_sigs.unionByName(probe_sigs)
    cands = lsh_cross_candidate_pairs(
        sigs, lambda c: c % 7 == 0, size_ratio=0.7
    )
    shingled = _persist_shingles(
        shingle_sets(corpus_side.unionByName(hold), "doc_id", "text")
    )
    pairs = verify_jaccard(shingled, cands, 0.7)
    a_hold = F.col("id_a") % 7 == 0
    return (
        pairs.select(
            F.when(a_hold, F.col("id_b"))
            .otherwise(F.col("id_a"))
            .cast("bigint")
            .alias("corpus_id"),
            F.when(a_hold, F.col("id_a"))
            .otherwise(F.col("id_b"))
            .cast("bigint")
            .alias("holdout_id"),
            F.col("jaccard").cast("double").alias("jaccard"),
        )
        .orderBy("corpus_id", "holdout_id")
    )
