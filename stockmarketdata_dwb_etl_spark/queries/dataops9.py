"""LLM-corpus operations, part 9: deterministic epoch shuffling,
curriculum staging, URL canonicalization, and the quality-filter funnel.

Training-data pipeline operators beyond the reference's scrape surface
(the reference ships raw rows to a warehouse, ``/root/reference/
dump_bigq.py:131-149``; a 100 TB corpus pipeline additionally needs
reproducible shuffle order, difficulty staging, URL-level dedup keys and
filter observability). All four are map-side + hash-agg shapes: no
self-joins, no collect, engine-portable md5 keys where determinism must
survive an engine swap (the q_hash_split property).
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
    term_sum,
)
from stockmarketdata_dwb_etl_spark.functions.text import sql_word_shingles
from stockmarketdata_dwb_etl_spark.registry import query

_HEX = "0123456789abcdef"

# order-independent per-term decimal Σ (the round-9 hardening for every
# embedding dot/norm/d² — exact.py documents the ulp/threshold rationale)


def _duck_hex_bucket(expr: str, n: int) -> str:
    """First-two-hex-digit md5 bucket in [0, n) — DuckDB twin of
    reports.py::hash_bucket (md5 agrees bit-for-bit across engines)."""
    return (
        f"((strpos('{_HEX}', substr(md5({expr}), 1, 1)) - 1) * 16"
        f" + (strpos('{_HEX}', substr(md5({expr}), 2, 1)) - 1)) % {n}"
    )


@query(
    "q_epoch_shuffle",
    oracle=f"""
    WITH epochs AS (SELECT * FROM (VALUES (0), (1), (2)) e(epoch)),
    keyed AS (
        SELECT e.epoch, d.doc_id, d.n_chars,
               md5(CAST(e.epoch AS VARCHAR) || ':'
                   || CAST(d.doc_id AS VARCHAR)) AS k,
               {_duck_hex_bucket(
                   "CAST(e.epoch AS VARCHAR) || ':'"
                   " || CAST(d.doc_id AS VARCHAR)", 16)} AS shard
        FROM documents d CROSS JOIN epochs e
    )
    SELECT epoch, shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           arg_min(doc_id, k) AS first_doc_id
    FROM keyed GROUP BY epoch, shard ORDER BY epoch, shard
    """,
)
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-epoch corpus shuffle: each (epoch, doc) pair
    gets the order key md5(epoch:doc_id), docs are sharded by the first
    two hex digits of the same key, and within a shard the key IS the
    read order — so every epoch visits the corpus in a different but
    perfectly reproducible permutation with no persisted shuffle state
    (the property data loaders need for resumable training; compare
    q_hash_split's split assignment). Reported per (epoch, shard):
    size, char mass, and the first doc in shuffle order (arg_min by
    key) — enough for the oracle to pin both the assignment AND the
    head of the order. The epoch explode is a 3-literal array (no
    join); everything else is map-side + one hash-agg. At 100 TB the
    shard count scales with the cluster (16 here), and the md5 keys
    make the shuffle engine-portable."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("epoch"),
        "doc_id",
        "n_chars",
    ).withColumn(
        "k",
        F.md5(
            F.concat(
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ),
    )
    shard = F.conv(F.substring("k", 1, 2), 16, 10).cast("int") % F.lit(16)
    return (
        keyed.withColumn("shard", shard)
        .groupBy("epoch", "shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min_by("doc_id", F.col("k")).alias("first_doc_id"),
        )
        .orderBy("epoch", "shard")
    )


@query(
    "q_curriculum_buckets",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang, n_chars,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS lex_div
        FROM documents
    ),
    staged AS (
        SELECT lang, n_chars, lex_div,
               ntile(5) OVER (PARTITION BY lang
                              ORDER BY n_chars, lex_div, doc_id) AS stage
        FROM scored
    )
    SELECT lang, stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST({sql_portable_round(
               sql_term_sum("lex_div", 8) + " / COUNT(*)", 6)}
               AS DOUBLE) AS avg_lex_div
    FROM staged GROUP BY lang, stage ORDER BY lang, stage
    """,
)
def q_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum staging: rank documents per language by difficulty
    (length, then lexical diversity = distinct-word ratio) and cut the
    ordered corpus into 5 ntile stages — the short-and-simple-first
    schedule curriculum training consumes. The ntile order is made
    total with the doc_id tiebreak so stage assignment is deterministic
    on both engines; per-stage lexical diversity is an 8dp-rounded term
    in an exact DECIMAL mean. Scales: map-side scoring (split/distinct
    are per-row JVM array ops), ONE window shuffle on lang for the
    ntile, then a 5·|lang| hash-agg; at 100 TB the per-lang global sort
    is the distributed-sort price any exact quantile staging pays (the
    approximate alternative is q_decile_assign's percentile_approx
    path)."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    scored = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        (
            F.size(F.array_distinct(words)).cast("double") / F.size(words)
        ).alias("lex_div"),
    )
    stage = F.ntile(5).over(
        Window.partitionBy("lang").orderBy("n_chars", "lex_div", "doc_id")
    )
    return (
        scored.withColumn("stage", stage)
        .groupBy("lang", "stage")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
            portable_round(
                term_sum(F.col("lex_div"), 8)
                / F.count(F.lit(1)),
                6,
            )
            .cast("double")
            .alias("avg_lex_div"),
        )
        .orderBy("lang", "stage")
    )


# Deterministic messy synthetic URL per doc (the fixture ships no URL
# column — same convention as q_url_extract): mixed-case scheme/host,
# default ports, utm_* tracking params around a meaningful id param, and
# fragments. Both engines build the IDENTICAL string, then both apply
# the same canonicalization, so any divergence in the string ops
# themselves fails the differential.
_URL_HOSTS = [
    "EN.Wikipedia.org", "GitHub.COM", "arxiv.org",
    "News.YCombinator.com", "docs.Python.org",
]


def _duck_raw_url() -> str:
    hosts = ", ".join(f"'{h}'" for h in _URL_HOSTS)
    return f"""
        (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END)
        || '://' || list_extract([{hosts}], CAST(doc_id % 5 AS INT) + 1)
        || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
        || '/Articles/' || CAST(doc_id % 97 AS VARCHAR)
        || '?utm_source=feed&id=' || CAST(doc_id % 97 AS VARCHAR)
        || '&utm_campaign=x'
        || (CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END)
    """


@query(
    "q_url_canonicalize",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id, {_duck_raw_url()} AS url FROM documents
    ),
    canon AS (
        SELECT url,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         lower(substr(url, 1, strpos(url, '/Articles') - 1))
                           || substr(url, strpos(url, '/Articles')),
                         '#.*$', '', 'g'),
                       '&utm_[a-z]+=[^&#]*', '', 'g'),
                     '[?]utm_[a-z]+=[^&#]*&', '?', 'g'),
                   '[?]utm_[a-z]+=[^&#]*$', '', 'g'),
                 ':(443|80)/', '/', 'g') AS curl
        FROM raw
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_urls,
           CAST(COUNT(DISTINCT curl) AS BIGINT) AS n_canonical,
           CAST(MIN(curl) AS VARCHAR) AS sample_min,
           CAST(MAX(curl) AS VARCHAR) AS sample_max
    FROM canon
    """,
)
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization for web-corpus dedup keys: lowercase the
    scheme+host, strip the fragment, strip utm_* tracking params, strip
    default ports (:443/:80) — the normalization pass that turns a raw
    crawl's URL column into a dedup/join key (the step before
    q_dedup_exact on url). Each doc gets a deterministic MESSY synthetic
    URL (mixed-case host, tracking params, fragments — the fixture ships
    none), and BOTH engines apply the identical regexp chain, so the
    canonical-key cardinality collapse (n_raw_urls → n_canonical) is
    verified cross-engine along with min/max sample keys. Map-only +
    one global agg; the regexps are anchored single-pass patterns valid
    in both Java and RE2 regex dialects."""
    docs = load_table(spark, sf_dir, "documents")
    host = F.element_at(
        F.array(*[F.lit(h) for h in _URL_HOSTS]),
        (F.col("doc_id") % 5 + 1).cast("int"),
    )
    scheme = F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS")).otherwise(
        F.lit("https")
    )
    port = F.when(F.col("doc_id") % 3 == 0, F.lit(":443")).otherwise(F.lit(""))
    frag = F.when(F.col("doc_id") % 5 == 0, F.lit("#section-2")).otherwise(
        F.lit("")
    )
    slug = (F.col("doc_id") % 97).cast("string")
    url = F.concat(
        scheme, F.lit("://"), host, port, F.lit("/Articles/"), slug,
        F.lit("?utm_source=feed&id="), slug, F.lit("&utm_campaign=x"), frag,
    )
    # lowercase the authority (everything before the path — the path
    # itself stays case-sensitive per URL semantics; the synthetic path
    # always starts '/Articles'), then the same regexp chain as the
    # oracle (Spark regexp_replace is global by default; DuckDB needs
    # the explicit 'g' flag — an engine trap this oracle pins)
    sep = F.instr(url, "/Articles")
    lowered = F.concat(
        F.lower(F.substring(url, F.lit(1), sep - 1)),
        F.substr(url, sep),
    )
    # strip order matters for CONSECUTIVE leading utm params
    # ('?utm_a=1&utm_b=2&id=3'): the global '&utm_...' pass runs FIRST,
    # removing every non-leading utm (a left-to-right global replace
    # does not rescan across its own replacement, so '?utm_a=1&' → '?'
    # first would strand utm_b); at most ONE leading utm then remains
    # for the two '?'-anchored patterns.
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(lowered, F.lit("#.*$"), F.lit("")),
                    F.lit(r"&utm_[a-z]+=[^&#]*"),
                    F.lit(""),
                ),
                F.lit(r"[?]utm_[a-z]+=[^&#]*&"),
                F.lit("?"),
            ),
            F.lit(r"[?]utm_[a-z]+=[^&#]*$"),
            F.lit(""),
        ),
        F.lit(":(443|80)/"),
        F.lit("/"),
    )
    pairs = docs.select(url.alias("url"), curl.alias("curl"))
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("url").cast("bigint").alias("n_raw_urls"),
        F.countDistinct("curl").cast("bigint").alias("n_canonical"),
        F.min("curl").alias("sample_min"),
        F.max("curl").alias("sample_max"),
    )


@query(
    "q_filter_funnel",
    oracle=f"""
    WITH flags AS (
        SELECT n_chars BETWEEN 50 AND 20000 AS f_len,
               len(string_split(text, ' ')) >= 12 AS f_words,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) >= 0.3 AS f_diverse,
               lang IN ('en', 'es', 'de') AS f_lang
        FROM documents
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS c0,
               CAST(COUNT(*) FILTER (WHERE f_len) AS BIGINT) AS c1,
               CAST(COUNT(*) FILTER (WHERE f_len AND f_words) AS BIGINT)
                   AS c2,
               CAST(COUNT(*) FILTER (WHERE f_len AND f_words AND f_diverse)
                   AS BIGINT) AS c3,
               CAST(COUNT(*) FILTER (WHERE f_len AND f_words AND f_diverse
                                       AND f_lang) AS BIGINT) AS c4
        FROM flags
    )
    SELECT stage, stage_name, n_surviving,
           CAST({sql_portable_round(
               "CAST(n_surviving AS DOUBLE) / c0", 6)} AS DOUBLE)
               AS survival_rate
    FROM (
        SELECT 0 AS stage, 'all' AS stage_name, c0 AS n_surviving, c0 FROM agg
        UNION ALL SELECT 1, 'length', c1, c0 FROM agg
        UNION ALL SELECT 2, 'min_words', c2, c0 FROM agg
        UNION ALL SELECT 3, 'lexical_diversity', c3, c0 FROM agg
        UNION ALL SELECT 4, 'lang_allowlist', c4, c0 FROM agg
    )
    ORDER BY stage
    """,
)
def q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter funnel observability: apply the standard corpus
    gate stages CUMULATIVELY (length band → min word count → lexical
    diversity → language allowlist) and report survivors + survival
    rate per stage — the report a curation pipeline publishes so a
    sudden corpus-mix change is attributable to a specific gate (the
    monitoring face of q_quality_gate, which applies the gates; this
    measures them). Single pass: every flag is computed map-side once,
    the five cumulative counts come from ONE conditional aggregation
    (no re-scan per stage — the round-7 corpus-pipeline lesson), and
    the 5-row funnel is unpivoted from the single agg row with stack().
    At 100 TB this is one scan + a 1-row exchange."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    flags = docs.select(
        F.col("n_chars").between(50, 20000).alias("f_len"),
        (F.size(words) >= 12).alias("f_words"),
        (
            F.size(F.array_distinct(words)).cast("double") / F.size(words)
            >= 0.3
        ).alias("f_diverse"),
        F.col("lang").isin("en", "es", "de").alias("f_lang"),
    )
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    agg = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("c0"),
        cnt(F.col("f_len")).alias("c1"),
        cnt(F.col("f_len") & F.col("f_words")).alias("c2"),
        cnt(F.col("f_len") & F.col("f_words") & F.col("f_diverse")).alias(
            "c3"
        ),
        cnt(
            F.col("f_len")
            & F.col("f_words")
            & F.col("f_diverse")
            & F.col("f_lang")
        ).alias("c4"),
    )
    funnel = agg.select(
        F.expr(
            "stack(5, 0, 'all', c0, 1, 'length', c1, 2, 'min_words', c2,"
            " 3, 'lexical_diversity', c3, 4, 'lang_allowlist', c4)"
            " AS (stage, stage_name, n_surviving)"
        ),
        F.col("c0"),
    )
    return funnel.select(
        "stage",
        "stage_name",
        "n_surviving",
        portable_round(
            F.col("n_surviving").cast("double") / F.col("c0"), 6
        )
        .cast("double")
        .alias("survival_rate"),
    ).orderBy("stage")


@query(
    "q_ngram_coverage",
    oracle=f"""
    WITH base AS (
        SELECT lang,
               CASE WHEN {_duck_hex_bucket("CAST(doc_id AS VARCHAR)", 256)}
                         < 230 THEN 'train'
                    WHEN {_duck_hex_bucket("CAST(doc_id AS VARCHAR)", 256)}
                         >= 243 THEN 'test' END AS split,
               string_split(text, ' ') AS ws
        FROM documents
    ),
    bg AS (
        SELECT DISTINCT lang, split,
               unnest({sql_word_shingles("ws", 2)}) AS bg
        FROM base WHERE split IS NOT NULL AND len(ws) >= 2
    ),
    flags AS (
        SELECT lang, bg,
               SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) > 0
                   AS in_train,
               SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) > 0
                   AS in_test
        FROM bg GROUP BY lang, bg
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_test_bigrams,
           CAST(SUM(CASE WHEN in_train THEN 1 ELSE 0 END) AS BIGINT)
               AS n_covered,
           CAST({sql_portable_round(
               "CAST(SUM(CASE WHEN in_train THEN 1 ELSE 0 END) AS DOUBLE)"
               " / COUNT(*)", 6)} AS DOUBLE) AS coverage
    FROM flags WHERE in_test GROUP BY lang ORDER BY lang
    """,
)
def q_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test n-gram coverage: the fraction of the test split's
    DISTINCT word bigrams that also occur in the train split, per
    language — the generalization-pressure metric a corpus team reads
    next to q_contamination (contamination asks "did test LEAK into
    train?"; coverage asks "does train PREPARE you for test?"). Splits
    are the same md5 doc_id buckets as q_hash_split (engine-portable,
    join-free); bigrams come from the slice/zip_with form (bounded
    references — the round-7 pushdown-inlining defense), deduped per
    (lang, split) BEFORE the presence agg so the shuffle carries
    distinct bigrams, not corpus-sized token streams. Scales: explode →
    distinct hash-agg on (lang, split, bigram) → presence hash-agg on
    (lang, bigram) → 3-row report; vocabulary-sized state, never
    corpus-sized."""
    from stockmarketdata_dwb_etl_spark.queries.reports import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    bucket = hash_bucket("doc_id", 256)
    split = (
        F.when(bucket < 230, F.lit("train"))
        .when(bucket >= 243, F.lit("test"))
        .otherwise(F.lit(None).cast("string"))
    )
    bigrams = F.expr(
        "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1),"
        " (a, b) -> concat(a, ' ', b))"
    )
    bg = (
        docs.select(
            "lang",
            split.alias("split"),
            F.split(F.col("text"), " ").alias("ws"),
        )
        .filter(F.col("split").isNotNull() & (F.size("ws") >= 2))
        .select("lang", "split", F.explode(bigrams).alias("bg"))
        .distinct()
    )
    flags = bg.groupBy("lang", "bg").agg(
        (
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0)) > 0
        ).alias("in_train"),
        (
            F.sum(F.when(F.col("split") == "test", 1).otherwise(0)) > 0
        ).alias("in_test"),
    )
    return (
        flags.filter(F.col("in_test"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test_bigrams"),
            F.sum(F.when(F.col("in_train"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_covered"),
            portable_round(
                F.sum(F.when(F.col("in_train"), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            )
            .cast("double")
            .alias("coverage"),
        )
        .orderBy("lang")
    )


@query(
    "q_semdedup_clusters",
    oracle=f"""
    WITH ex AS (
        SELECT vec_id, label, u.idx, u.val
        FROM embeddings,
             LATERAL (SELECT UNNEST(generate_series(1, len(embedding))) AS idx,
                             UNNEST(embedding) AS val) u
    ), cent AS (
        SELECT label AS c_label, idx,
               CAST(SUM(CAST(val AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(*) AS mean_d
        FROM ex GROUP BY label, idx
    ), dist AS (
        SELECT e.vec_id, c.c_label,
               {sql_portable_round(sql_term_sum("(e.val - c.mean_d) * (e.val - c.mean_d)", 12), 9)} AS d2
        FROM ex e JOIN cent c ON e.idx = c.idx
        GROUP BY e.vec_id, c.c_label
    ), assign AS (
        SELECT vec_id, c_label AS cluster
        FROM (SELECT vec_id, c_label,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d2, c_label) AS rn
              FROM dist)
        WHERE rn = 1
    ), norms AS (
        SELECT vec_id,
               {sql_portable_round(sql_term_sum("val * val", 12), 9)} AS n2
        FROM ex GROUP BY vec_id
    ), pairs AS (
        SELECT a.cluster, ea.vec_id AS va, eb.vec_id AS vb,
               {sql_portable_round(sql_term_sum("ea.val * eb.val", 12), 9)} AS dot
        FROM ex ea
        JOIN assign a ON a.vec_id = ea.vec_id
        JOIN assign b ON b.cluster = a.cluster AND b.vec_id > a.vec_id
        JOIN ex eb ON eb.vec_id = b.vec_id AND eb.idx = ea.idx
        GROUP BY a.cluster, ea.vec_id, eb.vec_id
    ), edges AS (
        SELECT p.cluster, p.vb
        FROM pairs p
        JOIN norms na ON na.vec_id = p.va
        JOIN norms nb ON nb.vec_id = p.vb
        WHERE (CAST(floor(CAST((p.dot / sqrt(na.n2 * nb.n2)) AS DOUBLE) * 1000000000.0 + 0.5) AS DOUBLE) / 1000000000.0) >= 0.3
    ), dropped AS (
        SELECT cluster, vb AS vec_id FROM edges GROUP BY cluster, vb
    )
    SELECT a.cluster,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(COUNT(d.vec_id) AS BIGINT) AS n_dropped,
           CAST(COUNT(*) - COUNT(d.vec_id) AS BIGINT) AS n_kept
    FROM assign a
    LEFT JOIN dropped d ON d.cluster = a.cluster AND d.vec_id = a.vec_id
    GROUP BY a.cluster ORDER BY a.cluster
    """,
)
def q_semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    embedding space, then remove near-duplicates ONLY within a cluster —
    pairwise cosine runs on cluster-sized groups, never corpus×corpus
    (the trick that makes semantic dedup tractable at scale: k clusters
    cut the pair count by ~k). Clusters are the deterministic
    per-label decimal-exact centroids (q_kmeans_assign's proven E-step:
    broadcast centroids, 9dp-rounded L2 argmin with a label tie-break);
    a vector is DROPPED when a smaller-id cluster-mate has cosine ≥ 0.3
    (the keep-lowest-id greedy rule, no transitive closure needed).
    Dots/norms/d² accumulate per-term 12dp-rounded DECIMAL (sql_term_sum /
    fold_term_sum — bit-identical regardless of accumulation order, so no
    reassociation ulp can flip the cos ≥ 0.3 edge decision) and are
    9dp-rounded before the cosine. Reported per cluster: size,
    dropped, kept. Scale: the
    only data-sized exchanges are the centroid agg and ONE self-join on
    cluster id; at 100 TB k scales as ~√N so cluster-mate fan-in stays
    bounded — the documented SemDeDup recipe, not all-pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("idx0", "val")
    ).select("vec_id", "label", (F.col("idx0") + 1).alias("idx"), "val")
    cent = (
        ex.groupBy(F.col("label").alias("c_label"), "idx")
        .agg(
            (
                F.sum(F.col("val").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_d")
        )
        .groupBy("c_label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "mean_d"))),
                lambda s: s["mean_d"],
            ).alias("centroid")
        )
    )
    d2 = fold_term_sum(
        F.zip_with(
            F.col("embedding"),
            F.col("centroid"),
            lambda v, c: (v - c) * (v - c),
        ), 12
    )
    from stockmarketdata_dwb_etl_spark.operators.cache import (
        bounded_persist,
    )

    w = Window.partitionBy("vec_id").orderBy("d2", "c_label")
    assign = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "embedding",
            "c_label",
            portable_round(d2, 9).alias("d2"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("c_label").alias("cluster"),
            "embedding",
            portable_round(
                fold_term_sum(F.transform(F.col("embedding"), lambda x: x * x), 12),
                9,
            ).alias("n2"),
        )
    )
    # assign feeds three branches (both self-join sides + the final
    # count join) — persist once or the centroid+argmin pipeline
    # re-executes per branch (the round-4 multi-branch rule)
    assign = bounded_persist(assign, "semdedup-assign")
    a = assign.alias("a")
    b = assign.alias("b")
    dot = portable_round(
        fold_term_sum(
            F.zip_with(
                F.col("a.embedding"), F.col("b.embedding"), lambda x, y: x * y
            ), 12
        ),
        9,
    )
    edges = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.cluster").alias("cluster"),
            F.col("b.vec_id").alias("vb"),
            dot.alias("dot"),
            F.col("a.n2").alias("na2"),
            F.col("b.n2").alias("nb2"),
        )
        .withColumn(
            "cos9",
            portable_round(
                F.col("dot") / F.sqrt(F.col("na2") * F.col("nb2")), 9
            ),
        )
        .filter(F.col("cos9") >= 0.3)
        .select("cluster", "vb")
        .distinct()
    )
    return (
        assign.select("vec_id", "cluster")
        .join(
            edges.withColumnRenamed("vb", "vec_id").withColumn(
                "dropped", F.lit(1)
            ),
            ["cluster", "vec_id"],
            "left",
        )
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum(F.coalesce(F.col("dropped"), F.lit(0)))
            .cast("bigint")
            .alias("n_dropped"),
            (
                F.count(F.lit(1))
                - F.sum(F.coalesce(F.col("dropped"), F.lit(0)))
            )
            .cast("bigint")
            .alias("n_kept"),
        )
        .orderBy("cluster")
    )


@query(
    "q_context_window_stats",
    oracle=f"""
    WITH toks AS (
        SELECT lang, len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(*) FILTER (WHERE n_tokens <= 128) AS BIGINT)
                   AS f128,
               CAST(COUNT(*) FILTER (WHERE n_tokens <= 512) AS BIGINT)
                   AS f512,
               CAST(COUNT(*) FILTER (WHERE n_tokens <= 2048) AS BIGINT)
                   AS f2048,
               CAST(SUM(greatest(n_tokens - 128, 0)) AS BIGINT) AS l128,
               CAST(SUM(greatest(n_tokens - 512, 0)) AS BIGINT) AS l512,
               CAST(SUM(greatest(n_tokens - 2048, 0)) AS BIGINT) AS l2048,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        FROM toks
    )
    SELECT ctx, n_fit,
           CAST({sql_portable_round(
               "CAST(n_fit AS DOUBLE) / n_docs", 6)} AS DOUBLE)
               AS fit_share,
           tokens_truncated,
           CAST({sql_portable_round(
               "1.0 - CAST(tokens_truncated AS DOUBLE) / total_tokens",
               6)} AS DOUBLE) AS token_retention
    FROM (
        SELECT 128 AS ctx, f128 AS n_fit, l128 AS tokens_truncated,
               n_docs, total_tokens FROM agg
        UNION ALL SELECT 512, f512, l512, n_docs, total_tokens FROM agg
        UNION ALL SELECT 2048, f2048, l2048, n_docs, total_tokens FROM agg
    )
    ORDER BY ctx
    """,
)
def q_context_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window fit report: for each candidate training context
    length (128/512/2048 whitespace tokens), how many documents fit
    whole, and how many tokens a truncate-to-fit policy would discard —
    the sizing table read before choosing max_seq_len and between
    truncation vs q_chunk_documents / q_sequence_packing. One map-side
    token count feeds ONE conditional aggregation (every ctx column
    from the same scan — the q_filter_funnel shape), unpivoted to a
    3-row report. At 100 TB: one scan + a 1-row exchange."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.size(F.split(F.col("text"), " ")).alias("n_tokens"))
    fit = lambda c: F.sum(  # noqa: E731
        F.when(F.col("n_tokens") <= c, 1).otherwise(0)
    ).cast("bigint")
    lost = lambda c: F.sum(  # noqa: E731
        F.greatest(F.col("n_tokens") - c, F.lit(0))
    ).cast("bigint")
    agg = toks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        fit(128).alias("f128"),
        fit(512).alias("f512"),
        fit(2048).alias("f2048"),
        lost(128).alias("l128"),
        lost(512).alias("l512"),
        lost(2048).alias("l2048"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )
    rows = agg.select(
        F.expr(
            "stack(3, 128, f128, l128, 512, f512, l512,"
            " 2048, f2048, l2048) AS (ctx, n_fit, tokens_truncated)"
        ),
        "n_docs",
        "total_tokens",
    )
    return rows.select(
        "ctx",
        "n_fit",
        portable_round(F.col("n_fit").cast("double") / F.col("n_docs"), 6)
        .cast("double")
        .alias("fit_share"),
        "tokens_truncated",
        portable_round(
            F.lit(1.0)
            - F.col("tokens_truncated").cast("double")
            / F.col("total_tokens"),
            6,
        )
        .cast("double")
        .alias("token_retention"),
    ).orderBy("ctx")


@query(
    "q_embedding_outliers",
    oracle=f"""
    WITH ex AS (
        SELECT vec_id, label, u.idx, u.val
        FROM embeddings,
             LATERAL (SELECT UNNEST(generate_series(1, len(embedding))) AS idx,
                             UNNEST(embedding) AS val) u
    ), cent AS (
        SELECT label, idx,
               CAST(SUM(CAST(val AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(*) AS mean_d
        FROM ex GROUP BY label, idx
    ), d2 AS (
        SELECT e.vec_id, e.label,
               {sql_portable_round(sql_term_sum("(e.val - c.mean_d) * (e.val - c.mean_d)", 12), 9)} AS d2
        FROM ex e JOIN cent c ON c.label = e.label AND c.idx = e.idx
        GROUP BY e.vec_id, e.label
    ), mom AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(d2 AS DECIMAL(38,9))) AS DOUBLE) AS sd,
               CAST(SUM(CAST((CAST(floor(CAST((d2 * d2) AS DOUBLE) * 100000000.0 + 0.5) AS DOUBLE) / 100000000.0) AS DECIMAL(38,8))) AS DOUBLE) AS sdd
        FROM d2 GROUP BY label
    ), stats AS (
        SELECT label, n, sd / n AS mean_d2,
               sqrt((sdd - sd * sd / n) / (n - 1)) AS std_d2
        FROM mom WHERE n >= 2
    )
    SELECT s.label, s.n AS n_vecs,
           CAST((CAST(floor(CAST((s.mean_d2) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS mean_d2,
           CAST((CAST(floor(CAST((s.std_d2) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS std_d2,
           CAST(COUNT(*) FILTER (WHERE d.d2 > s.mean_d2 + 3.0 * s.std_d2)
               AS BIGINT) AS n_outliers
    FROM d2 d JOIN stats s ON s.label = d.label
    GROUP BY s.label, s.n, s.mean_d2, s.std_d2
    ORDER BY s.label
    """,
)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection per label: distance² to the
    OWN-label decimal-exact centroid, flag vectors beyond mean + 3σ —
    the mislabeled/noise-vector screen run before any embedding-derived
    training signal is trusted (the geometric sibling of
    q_zscore_outliers; SemDeDup removes near-DUPLICATES, this removes
    far-OUTLIERS). d² accumulates per-term 12dp-rounded DECIMAL
    (sql_term_sum/fold_term_sum — order-independent, no reassociation ulp at the
    3σ cut), is 9dp-rounded (the kmeans near-tie defense) and
    its moments are DECIMAL sums (d²² terms 8dp — magnitude ~1e6, far
    under the int64 floor bound); the 3σ cut runs through the identical
    double tree on both engines. Scale: one (label,dim) centroid agg, a
    broadcast join, map-side fold per vector, one label agg — no vector
    ever joins another vector."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("idx0", "val")
    ).select("vec_id", "label", (F.col("idx0") + 1).alias("idx"), "val")
    cent = (
        ex.groupBy("label", "idx")
        .agg(
            (
                F.sum(F.col("val").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_d")
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "mean_d"))),
                lambda s: s["mean_d"],
            ).alias("centroid")
        )
    )
    d2x = fold_term_sum(
        F.zip_with(
            F.col("embedding"),
            F.col("centroid"),
            lambda v, c: (v - c) * (v - c),
        ), 12
    )
    from stockmarketdata_dwb_etl_spark.operators.cache import bounded_persist

    d2 = bounded_persist(
        emb.join(F.broadcast(cent), "label").select(
            "vec_id", "label", portable_round(d2x, 9).alias("d2")
        ),
        "embed-outlier-d2",
    )
    mom = d2.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("d2").cast("decimal(38,9)")).cast("double").alias("sd"),
        term_sum(F.col("d2") * F.col("d2"), 8)
        .alias("sdd"),
    )
    stats = mom.filter(F.col("n") >= 2).select(
        "label",
        "n",
        (F.col("sd") / F.col("n")).alias("mean_d2"),
        F.sqrt(
            (F.col("sdd") - F.col("sd") * F.col("sd") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("std_d2"),
    )
    return (
        d2.join(F.broadcast(stats), "label")
        .groupBy("label", "n", "mean_d2", "std_d2")
        .agg(
            F.sum(
                F.when(
                    F.col("d2")
                    > F.col("mean_d2") + F.lit(3.0) * F.col("std_d2"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers")
        )
        .select(
            "label",
            F.col("n").alias("n_vecs"),
            portable_round("mean_d2", 6).cast("double").alias("mean_d2"),
            portable_round("std_d2", 6).cast("double").alias("std_d2"),
            "n_outliers",
        )
        .orderBy("label")
    )


@query(
    "q_dup_ngram_mass",
    oracle=f"""
    WITH d AS (
        SELECT lang, string_split(text, ' ') AS ws FROM documents
    ),
    g AS (
        SELECT lang,
               md5(unnest({sql_word_shingles("ws", 5)})) AS h
        FROM d WHERE len(ws) >= 5
    ),
    c AS (
        SELECT lang, h, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM g GROUP BY lang, h
    )
    SELECT lang,
           CAST(SUM(cnt) AS BIGINT) AS n_grams,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
               AS dup_mass,
           CAST({sql_portable_round(
               "CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)"
               " / SUM(cnt)", 6)} AS DOUBLE) AS dup_share
    FROM c GROUP BY lang ORDER BY lang
    """,
)
def q_dup_ngram_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicate n-gram mass per language: the share of all
    word 5-grams whose gram occurs more than once ANYWHERE in the
    corpus — the cross-document repetition-health metric (FineWeb-class
    corpus audit) complementing q_gopher_repetition's WITHIN-document
    score and q_contamination's cross-split probe. Grams shuffle as
    md5 DIGESTS, never as raw strings (fixed 32-byte keys — the
    q_dedup_exact posture: text mass stays map-side), built from the
    slice/zip_with-safe transform; the per-(lang, digest) count agg is
    vocabulary-sized and the final report is |lang| rows. Scale: one
    explode + two hash-aggs, partials collapse the gram exchange."""
    docs = load_table(spark, sf_dir, "documents")
    grams = F.expr(
        "transform(slice(ws, 1, size(ws) - 4), (x, i) ->"
        " md5(concat(x, ' ', element_at(ws, i + 2), ' ',"
        " element_at(ws, i + 3), ' ', element_at(ws, i + 4), ' ',"
        " element_at(ws, i + 5))))"
    )
    g = (
        docs.select("lang", F.split(F.col("text"), " ").alias("ws"))
        .filter(F.size("ws") >= 5)
        .select("lang", F.explode(grams).alias("h"))
    )
    c = g.groupBy("lang", "h").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    return (
        c.groupBy("lang")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_grams"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("dup_mass"),
            portable_round(
                F.sum(
                    F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)
                ).cast("double")
                / F.sum("cnt"),
                6,
            )
            .cast("double")
            .alias("dup_share"),
        )
        .orderBy("lang")
    )


@query(
    "q_fragment_overlap",
    oracle="""
    WITH d AS (
        SELECT doc_id, lang, string_split(text, ' ') AS ws
        FROM documents
    ),
    keys AS (
        SELECT doc_id, lang,
               md5(array_to_string(ws[1:8], ' ')) AS prefix_k,
               md5(array_to_string(ws[len(ws) - 7:len(ws)], ' '))
                   AS suffix_k
        FROM d WHERE len(ws) >= 8
    ),
    hits AS (
        SELECT a.lang, a.doc_id AS frag_doc, b.doc_id AS host_doc
        FROM keys a JOIN keys b
          ON a.prefix_k = b.suffix_k AND a.doc_id <> b.doc_id
    )
    SELECT k.lang,
           CAST(COUNT(DISTINCT k.doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT h.frag_doc) AS BIGINT) AS n_fragment_docs,
           CAST(COUNT(h.frag_doc) AS BIGINT) AS n_fragment_pairs
    FROM keys k
    LEFT JOIN hits h ON h.lang = k.lang AND h.frag_doc = k.doc_id
    GROUP BY k.lang ORDER BY k.lang
    """,
)
def q_fragment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-fragment detection: a doc whose FIRST 8 tokens equal
    another doc's LAST 8 tokens is likely a chunking artifact — the
    continuation fragment of a split source — the boundary-contamination
    screen run after any chunk/scrape ingest (complements whole-doc
    dedup: fragments are NOT near-duplicates of their host, they ABUT
    it). Prefix/suffix keys are md5 digests of the fixed 8-token
    windows (text never shuffles — the q_dedup_exact posture); the
    digest equi-join carries 32-byte keys with catalog-bounded fan-in
    per digest; per-lang report counts fragment docs and pairs. Scale:
    map-side digests + one digest join + one lang agg."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    keys = (
        docs.select("doc_id", "lang", ws.alias("ws"))
        .filter(F.size("ws") >= 8)
        .select(
            "doc_id",
            "lang",
            F.md5(
                F.array_join(F.slice(F.col("ws"), 1, 8), " ")
            ).alias("prefix_k"),
            F.md5(
                F.array_join(
                    F.slice(F.col("ws"), -8, 8), " "
                )
            ).alias("suffix_k"),
        )
    )
    from stockmarketdata_dwb_etl_spark.operators.cache import bounded_persist

    keys = bounded_persist(keys, "fragment-keys")
    a = keys.select(
        F.col("lang"),
        F.col("doc_id").alias("frag_doc"),
        F.col("prefix_k").alias("k"),
    )
    b = keys.select(
        F.col("doc_id").alias("host_doc"), F.col("suffix_k").alias("k")
    )
    hits = (
        a.join(b, "k")
        .filter(F.col("frag_doc") != F.col("host_doc"))
        .select("lang", "frag_doc", "host_doc")
    )
    return (
        keys.select("lang", "doc_id")
        .join(
            hits.withColumnRenamed("frag_doc", "doc_id"),
            ["lang", "doc_id"],
            "left",
        )
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.countDistinct(
                F.when(F.col("host_doc").isNotNull(), F.col("doc_id"))
            )
            .cast("bigint")
            .alias("n_fragment_docs"),
            F.sum(F.when(F.col("host_doc").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_fragment_pairs"),
        )
        .orderBy("lang")
    )
