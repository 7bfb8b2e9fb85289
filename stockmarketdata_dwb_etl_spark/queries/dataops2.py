"""Extended training-data operators: near-dup dedup (MinHash-LSH, SimHash,
n-gram Jaccard), text quality / language-ID / fingerprinting, ANN search,
multimodal plumbing.

Near-dup fixtures: documents has no near-duplicates by construction, so
queries inject them deterministically — doc_id+1_000_000 copies with a
3-token suffix appended (high-Jaccard neighbors) — identically on both
engines where an oracle exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stockmarketdata_dwb_etl_spark.functions.exact import portable_round
from stockmarketdata_dwb_etl_spark.functions.text import (
    LANG_SCORE_COLUMNS,
    lang_id,
    lang_scores,
    quality_exprs,
    sql_lang_id,
    sql_lang_score_columns,
    sql_quality_exprs,
    sql_tokenize,
    sql_word_shingles,
    tokenize,
    word_shingles,
)
from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.operators.dedup import (
    embedding_near_dups,
    minhash_near_dups,
    simhash_near_dups,
)
from stockmarketdata_dwb_etl_spark.operators.similarity import (
    ann_cosine_topk,
    ivf_cosine_topk,
)
from stockmarketdata_dwb_etl_spark.registry import query
from stockmarketdata_dwb_etl_spark.scratch import fixture_tag
from stockmarketdata_dwb_etl_spark.sources.multimodal import (
    FEATURE_DIM,
    build_media_table,
    extract_features,
)


def _docs_with_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dups = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat("text", F.lit(" zz1 zz2 zz3")).alias("text"),
        "lang",
        "source",
        (F.col("n_chars") + 12).alias("n_chars"),
    )
    return docs.unionByName(dups)


@query(
    "q_dedup_minhash",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text || ' zz1 zz2 zz3' AS text
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
        -- inverted-index intersection counts: only pairs sharing >=1
        -- shingle can reach jaccard 0.7, so no all-pairs stage needed
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           CAST((CAST(floor(CAST((i.c::DOUBLE / (sa.n + sb.n - i.c)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE (CAST(floor(CAST((i.c::DOUBLE / (sa.n + sb.n - i.c)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) >= 0.7
    """,
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (operators/dedup.py): LSH candidates
    verified with exact Jaccard ≥ 0.7 over 3-word shingles.

    The oracle computes the GROUND TRUTH — every pair with exact Jaccard
    ≥ 0.7 via an inverted shingle index — so a hash match certifies LSH
    recall = 1, not just determinism. That is a real property of this
    configuration (32 perms, 16 bands × 2 rows, fixed seed 42): per-pair
    miss probability at j = 0.7 is (1−0.7²)¹⁶ ≈ 2×10⁻⁵ and the fixture's
    pair population clears it at every sf (verified at sf0.001/0.01/0.1:
    94/81/820 pairs, zero missed); precision is exact by construction
    (every candidate is verify-filtered on true Jaccard)."""
    # land survivors in a shuffle before the presentation sort: a global
    # orderBy range-samples its child, which would re-execute the
    # Jaccard-verify stage; the interposed hash exchange is read by both
    # the sampling pass and the sort, so verification runs ONCE
    return (
        minhash_near_dups(_docs_with_near_dups(spark, sf_dir))
        .repartition("id_a")
        .orderBy("id_a", "id_b")
    )


def _simhash_oracle() -> str:
    """DuckDB SQL replicating the full SimHash pipeline bit-for-bit: the
    per-word hash is md5-derived (standardized across engines), so the
    oracle recomputes fingerprints and takes ALL pairs at Hamming ≤ 3 by
    brute force — ground truth for the banded join, whose pigeonhole
    recall at distance ≤ 3 over 4 chunks is exactly 1 (not probabilistic).
    """
    votes = ",\n               ".join(
        f"SUM(((h_{'lo' if b < 32 else 'hi'} >> {b % 32}) & 1) * 2 - 1) AS v{b}"
        for b in range(64)
    )
    chunks = ",\n               ".join(
        "("
        + " + ".join(
            f"(CASE WHEN v{c * 16 + k} >= 0 THEN {1 << k} ELSE 0 END)"
            for k in range(16)
        )
        + f") AS fp{c}"
        for c in range(4)
    )
    ham = (
        "bit_count(xor(a.fp0, b.fp0)) + bit_count(xor(a.fp1, b.fp1)) + "
        "bit_count(xor(a.fp2, b.fp2)) + bit_count(xor(a.fp3, b.fp3))"
    )
    return f"""
    WITH aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text || ' zz1 zz2 zz3' AS text
        FROM documents WHERE doc_id % 10 = 0
    ), words AS (
        SELECT doc_id,
               unnest({sql_tokenize("text")}) AS w
        FROM aug
    ), hashed AS (
        SELECT doc_id,
               ('0x' || substr(md5(w), 1, 8))::BIGINT AS h_hi,
               ('0x' || substr(md5(w), 9, 8))::BIGINT AS h_lo
        FROM words
    ), votes AS (
        SELECT doc_id, {votes}
        FROM hashed GROUP BY doc_id
    ), fps AS (
        SELECT doc_id, {chunks}
        FROM votes
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST({ham} AS INTEGER) AS hamming
    FROM fps a JOIN fps b ON a.doc_id < b.doc_id
    WHERE {ham} <= 3
    """


@query("q_dedup_simhash", oracle=_simhash_oracle())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs by Hamming ≤ 3 over 64-bit sign-vote
    fingerprints with the 4×16-bit pigeonhole band join
    (operators/dedup.py). The md5-derived word hash makes the fingerprints
    engine-reproducible, so the oracle brute-forces the exact Hamming ≤ 3
    pair set — certifying both the band join's recall (pigeonhole: ≤ 3
    differing bits cannot touch all 4 chunks) and its verify precision."""
    return (
        simhash_near_dups(_docs_with_near_dups(spark, sf_dir))
        .repartition("id_a")
        .orderBy("id_a", "id_b")
    )


@query(
    "q_ngram_jaccard",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text || ' zz1 zz2 zz3' AS text
        FROM documents WHERE doc_id % 10 = 0
    ), sh AS (
        SELECT doc_id,
               list_distinct({sql_word_shingles("w", 3)}) AS shingles
        FROM (SELECT doc_id, {sql_tokenize("text")} AS w
              FROM aug)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST((CAST(floor(CAST((len(list_intersect(a.shingles, b.shingles))::DOUBLE
                / len(list_distinct(list_concat(a.shingles, b.shingles)))) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0)
                AS DOUBLE) AS jaccard
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1000000
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard between each original and its injected
    neighbor — the ground-truth near-dup metric (array set ops, JVM-side).
    """
    aug = _docs_with_near_dups(spark, sf_dir)
    sh = aug.select(
        "doc_id",
        F.array_distinct(word_shingles(tokenize(F.col("text")), 3)).alias("shingles"),
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    return a.join(b, F.col("id_b") == F.col("id_a") + 1_000_000).select(
        "id_a",
        "id_b",
        portable_round(
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")),
            4,
        ).alias("jaccard"),
    )


@query(
    "q_lang_id",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               {sql_lang_score_columns(sql_tokenize("text"))}
        FROM documents)
    SELECT doc_id, en_score, es_score, de_score,
           {sql_lang_id(LANG_SCORE_COLUMNS)} AS predicted
    FROM scored
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: stopword-profile overlap, argmax with a fixed
    tie order (en > es > de)."""
    docs = load_table(spark, sf_dir, "documents")
    scores = lang_scores(tokenize(F.col("text")))
    en, es, de = (scores[k].cast("int") for k in ("en", "es", "de"))
    return docs.select(
        "doc_id",
        en.alias("en_score"),
        es.alias("es_score"),
        de.alias("de_score"),
        lang_id(scores).alias("predicted"),
    )


@query(
    "q_text_quality",
    oracle="SELECT doc_id, "
    + ", ".join(f"{e} AS {k}" for k, e in sql_quality_exprs("text").items())
    + " FROM documents",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring battery: lengths, token counts (whitespace + BPE-ish
    regex), punctuation ratio, stopword hits, mean token length."""
    docs = load_table(spark, sf_dir, "documents")
    q = quality_exprs(F.col("text"))
    return docs.select("doc_id", *[q[k].alias(k) for k in q])


@query(
    "q_doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           MIN(md5(sh)) AS fingerprint,
           CAST(COUNT(DISTINCT sh) AS BIGINT) AS n_shingles
    FROM (
        SELECT doc_id,
               unnest({sql_word_shingles("w", 3)}) AS sh
        FROM (SELECT doc_id, {sql_tokenize("text")} AS w
              FROM documents)
    )
    GROUP BY doc_id
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: min-md5 over 3-gram shingles (a 1-permutation
    MinHash, engine-agnostic because md5 is standardized) + shingle count.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(word_shingles(tokenize(F.col("text")), 3)).alias("sh"),
    )
    return sh.groupBy("doc_id").agg(
        F.min(F.md5("sh")).alias("fingerprint"),
        F.countDistinct("sh").alias("n_shingles"),
    )


ANN_TOPK_ORACLE = """
    WITH probe AS (
        SELECT embedding AS pv FROM embeddings WHERE vec_id = 0
    ), inj AS (
        SELECT js.j + 2000000 AS vec_id,
               -1 AS label,
               list_transform(range(1, len(pv) + 1),
                   i -> CAST(CAST(pv[i] AS DOUBLE)
                             + ((js.j * 31 + (i - 1)) % 7 - 3) * 0.002 AS FLOAT)
               ) AS embedding
        FROM probe, (SELECT unnest(generate_series(1, 20)) AS j) js
    ), aug AS (
        SELECT vec_id, label, embedding FROM embeddings WHERE vec_id <> 0
        UNION ALL
        SELECT vec_id, label, embedding FROM inj
    ), p2 AS (SELECT CAST(pv AS DOUBLE[]) AS pv FROM probe),
    scored AS (
        SELECT vec_id, label,
               CAST((CAST(floor(CAST((list_dot_product(CAST(embedding AS DOUBLE[]), pv)
                   / nullif(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                  CAST(embedding AS DOUBLE[])))
                          * sqrt(list_dot_product(pv, pv)), 0.0)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS cos_sim
        FROM aug, p2
    )
    SELECT vec_id, label, cos_sim FROM scored
    ORDER BY cos_sim DESC, vec_id LIMIT 10
"""
"""Shared oracle for the three ANN top-k queries: the EXACT top-10 over
the augmented set, with the injected near-neighbors rebuilt in SQL
(CAST ... AS FLOAT reproduces Spark's float32 rounding bit-for-bit).
Valid as an ANN oracle because retrieval is empirically exhaustive for
the true top-10 at every fixture SF — the injected cosines (~0.99)
dominate all natural ones (~0.33), every injected vector lands in the
probed buckets/cells, and tests/test_dataops.py asserts ANN == exact
so a retrieval regression fails tests before it fails the driver."""


def _embeddings_with_near_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings + 20 injected near-neighbors of the probe vector
    (deterministic small perturbations, cosine ≈ 0.99+). The fixture
    embeddings are near-random vs the probe (top cosine ≈ 0.33), so the
    injected set provides genuine neighbors for ANN to find — mirroring
    the near-dup text injection."""
    emb = load_table(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("pv"))
    injected = (
        spark.range(1, 21)
        .join(F.broadcast(probe))
        .select(
            (F.col("id") + 2_000_000).alias("vec_id"),
            F.lit(-1).alias("label"),
            F.transform(
                "pv",
                lambda x, i: (
                    x.cast("double")
                    + ((F.col("id") * 31 + i) % 7 - 3).cast("double") * 0.002
                ).cast("float"),
            ).alias("embedding"),
        )
    )
    return emb.select("vec_id", "label", "embedding").unionByName(injected)


def _embeddings_with_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings + an injected near-duplicate (vec_id + 2_000_000, tiny
    deterministic per-dim perturbation, cosine ≈ 0.9999) for every tenth
    vector. Max natural pairwise cosine in the fixtures is ~0.51, so pairs
    with cosine ≥ 0.9 are exactly the injected ones — which is what makes
    the SQL oracle for q_dedup_embedding expressible."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    # perturb FIRST, re-key after: aliasing vec_id+2e6 in the same select
    # would lateral-rebind the lambda's vec_id to the new value (Spark and
    # DuckDB both resolve select-list aliases laterally here)
    dups = (
        emb.filter(F.col("vec_id") % 10 == 0)
        .select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x, i: (
                    x.cast("double")
                    + ((F.col("vec_id") * 31 + i) % 7 - 3).cast("double") * 0.002
                ).cast("float"),
            ).alias("embedding"),
        )
        .select(
            (F.col("vec_id") + 2_000_000).alias("vec_id"),
            F.lit(-1).alias("label"),
            "embedding",
        )
    )
    return emb.unionByName(dups)


@query(
    "q_dedup_embedding",
    oracle="""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), dups AS (
        -- alias must NOT shadow vec_id: DuckDB lateral alias binding would
        -- rebind the lambda's vec_id to the +2000000 value, unlike Spark
        SELECT vec_id + 2000000 AS dup_id,
               CAST(list_transform(generate_series(1, len(v)),
                    i -> CAST(CAST(v[i] + ((vec_id * 31 + (i - 1)) % 7 - 3) * 0.002
                              AS FLOAT) AS DOUBLE)) AS DOUBLE[]) AS v
        FROM base WHERE vec_id % 10 = 0
    )
    SELECT a.vec_id AS id_a, b.dup_id AS id_b,
           -- sequential left-folds, bit-identical to Spark's F.aggregate
           -- accumulation order (list_dot_product may accumulate pairwise
           -- and flip a 4-dp rounding boundary)
           CAST((CAST(floor(CAST((list_reduce(list_transform(generate_series(1, len(a.v)),
                           i -> a.v[i] * b.v[i]), (x, y) -> x + y)
               / nullif(
                   sqrt(list_reduce(list_transform(generate_series(1, len(a.v)),
                        i -> a.v[i] * a.v[i]), (x, y) -> x + y))
                 * sqrt(list_reduce(list_transform(generate_series(1, len(b.v)),
                        i -> b.v[i] * b.v[i]), (x, y) -> x + y)), 0.0)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS cos_sim
    FROM base a JOIN dups b ON b.dup_id = a.vec_id + 2000000
    ORDER BY id_a
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (operators/dedup.py): hyperplane-LSH
    banded candidates, exact-cosine verified at threshold 0.9. The oracle
    enumerates the injected pairs directly — valid because no natural pair
    reaches 0.9 (max ≈ 0.51) and a near-identical pair escapes all 4 LSH
    bands with probability ~1e-8."""
    emb = _embeddings_with_near_dups(spark, sf_dir)
    return (
        embedding_near_dups(emb, threshold=0.9)
        .repartition("id_a")
        .orderBy("id_a")
    )


@query("q_ann_ivf_topk", oracle=ANN_TOPK_ORACLE)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN top-10 by cosine (operators/similarity.py): vectors
    assigned to max-cosine cells map-side, probe scans only its 4 best of 16
    cells; recall vs the exact scan is asserted in tests/test_dataops.py and
    the oracle holds the result to the exact top-10 (see ANN_TOPK_ORACLE)."""
    emb = _embeddings_with_near_probe(spark, sf_dir)
    probe = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("pv"))
    return ivf_cosine_topk(emb.filter(F.col("vec_id") != 0), probe)


@query("q_ann_cosine_topk", oracle=ANN_TOPK_ORACLE)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 by cosine via random-hyperplane LSH bucket probing
    (operators/similarity.py) over embeddings augmented with injected
    near-neighbors; recall vs the exact scan is asserted in
    tests/test_dataops.py and the oracle holds the result to the exact
    top-10 (see ANN_TOPK_ORACLE)."""
    emb = _embeddings_with_near_probe(spark, sf_dir)
    probe = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("pv"))
    return ann_cosine_topk(emb.filter(F.col("vec_id") != 0), probe)


@query(
    "q_binary_meta",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
           md5(text) AS payload_md5
    FROM documents
    """,
)
def q_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata surface: payload sizes + content hash over
    the opaque binary payload (sources/multimodal.py)."""
    media = build_media_table(spark, sf_dir)
    return media.select(
        "doc_id",
        "media_type",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
    )


@query(
    "q_multimodal_features",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           CAST(length(text) AS INTEGER) AS n_bytes,
           (CAST(floor(CAST((((strpos('0123456789abcdef', substr(sha256(text), 1, 1)) - 1) * 16
                  + strpos('0123456789abcdef', substr(sha256(text), 2, 1)) - 1)
                 / 255.0) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS f0,
           (CAST(floor(CAST((((strpos('0123456789abcdef', substr(sha256(text), 15, 1)) - 1) * 16
                  + strpos('0123456789abcdef', substr(sha256(text), 16, 1)) - 1)
                 / 255.0) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS f7
    FROM documents
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction over binary payloads (Arrow batches;
    decode stubbed deterministically — sources/multimodal.py). The fake
    decode is sha256-derived, so the oracle recomputes the sampled feature
    dims from DuckDB's sha256 hex digest (byte k = hex chars 2k+1..2k+2,
    decoded with strpos arithmetic) — full hash parity on a mapInPandas
    pipeline."""
    media = build_media_table(spark, sf_dir)
    feats = extract_features(media)
    return feats.select(
        "doc_id",
        "media_type",
        "n_bytes",
        portable_round(F.element_at("feature", 1), 4).alias("f0"),
        portable_round(F.element_at("feature", FEATURE_DIM), 4).alias("f7"),
    )


@query(
    "q_dedup_transitive",
    oracle="""
    WITH RECURSIVE pairs AS (
        SELECT doc_id AS a, doc_id + 1000000 AS b FROM documents WHERE doc_id % 10 = 0
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
    )
    SELECT v AS doc_id, MIN(r) AS cluster_rep FROM reach GROUP BY v
    """,
)
def q_dedup_transitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup grouping (operators/dedup.py::connected_components):
    near-dup PAIRS form chains (original→dup→dup-of-dup, where the ends are
    NOT pairwise similar) and the cluster keeps one representative — the
    min-label-propagation fixpoint. The oracle computes the same components
    with a recursive CTE; the Spark side is the iterative DataFrame
    algorithm a 100 TB corpus needs (per-round shuffles on the edge key
    only, O(diameter) rounds)."""
    from stockmarketdata_dwb_etl_spark.operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    gen0 = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    edges = gen0.select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 1_000_000).alias("dst")
    ).unionByName(
        gen0.select(
            (F.col("doc_id") + 1_000_000).alias("src"),
            (F.col("doc_id") + 2_000_000).alias("dst"),
        )
    )
    # synthetic chain edges: one row per generator doc, ids disjoint
    return connected_components(edges, assume_distinct=True).select(
        F.col("id").alias("doc_id"), "cluster_rep"
    )


@query("q_ann_ivf_pruned", oracle=ANN_TOPK_ORACLE)
def q_ann_ivf_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over a MATERIALIZED IVF index: assignment written
    partitionBy(cell_id) once, probes join their 4 best cells via a
    broadcast dim so dynamic partition pruning restricts the SCAN (not
    just the compute) to 4/16 directories — the physical layout the
    in-plan variant (q_ann_ivf_topk) models. Same results as the in-plan
    variant (asserted in tests/test_storage.py)."""
    import os

    from stockmarketdata_dwb_etl_spark.operators.similarity import (
        ivf_probe_index,
        write_ivf_index,
    )

    tag = fixture_tag(sf_dir)
    path = os.path.join("/root/repo/.scratch/ivf_index", tag)
    emb = _embeddings_with_near_probe(spark, sf_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_ivf_index(emb.filter(F.col("vec_id") != 0), path)
    probe = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("pv"))
    return ivf_probe_index(spark, path, probe)


@query(
    "q_multimodal_frames",
    oracle="""
    WITH v AS (
        SELECT doc_id, text, (length(text) + 3) // 4 AS step
        FROM documents WHERE doc_id % 3 = 2
    )
    SELECT v.doc_id,
           CAST(t.i AS INTEGER) AS frame_idx,
           CAST(length(substr(v.text, t.i * v.step + 1, v.step)) AS INTEGER)
               AS frame_bytes,
           md5(substr(v.text, t.i * v.step + 1, v.step)) AS frame_md5
    FROM v CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) t
    """,
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over video payloads (sources/multimodal.py::
    sample_frames): one-to-many mapInPandas expansion, 4 frames per video
    doc; lossless re-assembly is asserted in tests/test_dataops.py. The
    fake codec cuts contiguous ceil(n/4)-byte chunks, so the oracle
    reconstructs every frame with substr over the (all-ASCII, verified)
    text and md5-matches each chunk."""
    from stockmarketdata_dwb_etl_spark.sources.multimodal import sample_frames

    media = build_media_table(spark, sf_dir).filter(F.col("media_type") == "video")
    frames = sample_frames(media)
    return frames.select(
        "doc_id", "frame_idx", "frame_bytes", F.md5("frame").alias("frame_md5")
    ).orderBy("doc_id", "frame_idx")


@query(
    "q_edit_distance",
    oracle="""
    WITH aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text || ' zz1 zz2 zz3' AS text
        FROM documents WHERE doc_id % 10 = 0
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(substr(a.text, 1, 64), substr(b.text, 1, 64))
                AS INTEGER) AS edit_dist
    FROM aug a JOIN aug b ON b.doc_id = a.doc_id + 1000000
    """,
)
def q_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup metric (the character-level complement to
    shingle Jaccard): Levenshtein over 64-char prefixes for each
    original/injected pair. Prefix-bounded so the per-pair cost is O(64²)
    — the standard trick that keeps edit distance usable at corpus scale
    (full-text Levenshtein is quadratic in document length)."""
    aug = _docs_with_near_dups(spark, sf_dir)
    a = aug.select(F.col("doc_id").alias("id_a"), F.substring("text", 1, 64).alias("ta"))
    b = aug.select(F.col("doc_id").alias("id_b"), F.substring("text", 1, 64).alias("tb"))
    return a.join(b, F.col("id_b") == F.col("id_a") + 1_000_000).select(
        "id_a",
        "id_b",
        F.levenshtein("ta", "tb").cast("int").alias("edit_dist"),
    )


@query(
    "q_multimodal_resize",
    oracle="""
    WITH img AS (
        SELECT doc_id, text, length(text) AS n
        FROM documents WHERE doc_id % 3 = 0
    ), big AS (
        SELECT g.doc_id, g.n,
               md5(string_agg(substr(g.text, (s.k * g.n) // 64 + 1, 1),
                              '' ORDER BY s.k)) AS resized_md5
        FROM img g CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS k) s
        WHERE g.n >= 64 GROUP BY g.doc_id, g.n
    ), small AS (
        SELECT doc_id, n,
               md5(substr(repeat(text, CAST((64 + n - 1) // n AS INTEGER)),
                          1, 64)) AS resized_md5
        FROM img WHERE n < 64
    )
    SELECT doc_id, CAST(n AS INTEGER) AS orig_bytes,
           64 AS resized_bytes, resized_md5
    FROM (SELECT * FROM big UNION ALL SELECT * FROM small)
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize normalization over image payloads (sources/multimodal.py::
    resize_payloads): every payload strided/padded to a uniform 64 bytes by
    an Arrow-batched mapInPandas — the decode→resize→re-encode slot of an
    image pipeline with the codec faked deterministically. Uniform output
    size + determinism asserted in tests/test_dataops.py; the oracle
    replays the stride (every (k·n div 64)-th byte) / cycle-pad fake in
    SQL and md5-matches the resized payloads."""
    from stockmarketdata_dwb_etl_spark.sources.multimodal import resize_payloads

    media = build_media_table(spark, sf_dir).filter(F.col("media_type") == "image")
    return (
        resize_payloads(media)
        .select(
            "doc_id",
            "orig_bytes",
            "resized_bytes",
            F.md5("resized").alias("resized_md5"),
        )
        .orderBy("doc_id")
    )
