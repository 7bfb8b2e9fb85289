"""Corpus-curation batch 6: domain-mixing weights, winnowing
fingerprints, the Mann-Whitney U test, and n-gram novelty scoring.

These round out the training-data pipeline surface (the reference's
warehouse tier exists to serve exactly this kind of corpus analysis —
/root/reference/dump_bigq.py:135-149): sampling-weight planning for
domain mixing (the DoReMi/Pile-style "how much of each source do I
take" step), MOSS-style local fingerprinting (Schleimer et al. 2003
winnowing — the position-robust complement to the global min-hash
fingerprint in q_doc_fingerprint), a distribution-free two-sample test
(the robust complement to q_ttest_welch), and corpus-redundancy growth
measurement (what fraction of each source's n-grams is genuinely new).

Determinism policy: counts and rank sums are exact integers end to end;
ratios either emit integer-scaled values via the integer half-up
division idiom ((2·s·num + den) div (2·den)) or go through the portable
floor-form round on an identical double expression tree (functions/
exact.py::portable_round).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    split_term_sum,
    sql_split_term_sum,
    term,
    term_sum,
)
from stockmarketdata_dwb_etl_spark.functions.text import (
    LANG_SCORE_COLUMNS,
    lang_id,
    lang_scores,
    sql_lang_id,
    sql_lang_score_columns,
    sql_tokenize,
    sql_word_shingles,
    tokenize,
    word_shingles,
)
from stockmarketdata_dwb_etl_spark.functions.vectors import cosine
from stockmarketdata_dwb_etl_spark.operators.cache import bounded_persist
from stockmarketdata_dwb_etl_spark.operators.rank import (
    global_prefix_sum,
    global_row_number,
)
from stockmarketdata_dwb_etl_spark.registry import query

# pre-rounded 12dp terms cast at their OWN scale (mirrors the oracle
# DECIMAL(38,12); exact while |term| < ~9e3 per the 2^53 rule)
_DEC12_T = "decimal(38,12)"

_DUCK_TOKS = f"""
    toks AS (
        SELECT doc_id, source,
               {sql_tokenize("text")} AS ws
        FROM documents
    )
"""


@query(
    "q_mix_weights",
    oracle=f"""
    WITH {_DUCK_TOKS},
    per_source AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(ws)) AS BIGINT) AS n_tokens
        FROM toks GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM per_source
    )
    SELECT source, n_docs, n_tokens,
           CAST((CAST(floor(CAST((n_tokens / total) AS DOUBLE) * 1000000.0
                 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS token_share,
           CAST((CAST(floor(CAST((least(1.0, total / (k * n_tokens)))
                 AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
               AS DOUBLE) AS mix_weight,
           CAST(least(n_tokens, total // k) AS BIGINT) AS expected_tokens
    FROM per_source, tot
    ORDER BY source
    """,
)
def q_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing sampling weights: given per-source token counts and
    a uniform target share (1/k per source), the downsampling weight
    w_s = min(1, target/actual) each source needs so no source exceeds
    its target token budget without upsampling past one epoch — the
    planning step between corpus profiling and q_sample_weighted /
    q_token_budget_trim execution. Token counts are exact integers;
    share and weight are integer-quotient doubles through the identical
    tree on both engines; the expected post-sampling token count is
    pure integer min/floor-div. Scale: one partial+final hash-agg per
    source plus a broadcast 1-row totals table — the plan never
    re-scans the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(tokenize(F.col("text")))).cast("bigint").alias("n_tokens"),
    )
    tot = per_source.agg(
        F.sum("n_tokens").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    return (
        per_source.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            portable_round(F.col("n_tokens") / F.col("total"), 6)
            .cast("double")
            .alias("token_share"),
            portable_round(
                F.least(
                    F.lit(1.0), F.col("total") / (F.col("k") * F.col("n_tokens"))
                ),
                6,
            )
            .cast("double")
            .alias("mix_weight"),
            F.least(F.col("n_tokens"), F.expr("total div k"))
            .cast("bigint")
            .alias("expected_tokens"),
        )
        .orderBy("source")
    )


@query(
    "q_winnowing",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               {sql_tokenize("text")} AS ws
        FROM documents
    ),
    sh AS (
        SELECT doc_id, pos,
               ('0x' || substr(md5(g[pos]), 1, 8))::BIGINT AS h
        FROM (SELECT doc_id, {sql_word_shingles("ws", 4)} AS g FROM toks),
             unnest(generate_series(1, len(g))) AS t(pos)
    ),
    fp AS (
        SELECT doc_id, pos,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS minh
        FROM sh
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(COUNT(DISTINCT minh) AS BIGINT) AS n_fingerprints,
           CAST(MIN(minh) AS BIGINT) AS min_fp,
           CAST((2 * 10000 * COUNT(DISTINCT minh) + COUNT(*))
                // (2 * COUNT(*)) AS BIGINT) AS density_x10000
    FROM fp WHERE pos >= 5
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints per document (Schleimer/Wilkerson/Aiken,
    the MOSS local fingerprinting scheme): hash every 4-token shingle,
    slide a window of w=5 consecutive hashes, keep the window MINIMUM —
    the selected set is guaranteed to share a fingerprint with any copy
    of a passage ≥ w+k−1 tokens, which positional sampling can't
    promise. Output per doc: window count, distinct fingerprints, the
    smallest fingerprint (content identity probe), and fingerprint
    density ≈ 2/(w+1) (integer-scaled, exact). The 32-bit hash is
    md5-derived (standardized — both engines read the same first 8 hex
    chars), so selection is bit-identical. Scale: map-side tokenize +
    shingle explode, ONE shuffle on doc_id for the bounded 5-row window
    frame, then a per-doc hash-agg — no self-joins, state O(w) per row."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.posexplode(word_shingles(tokenize(F.col("text")), 4)).alias(
            "pos0", "s"
        ),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("bigint").alias("h"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-4, 0)
    fp = sh.select("doc_id", "pos", F.min("h").over(w).alias("minh")).filter(
        F.col("pos") >= 5
    )
    return (
        fp.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.countDistinct("minh").cast("bigint").alias("n_fingerprints"),
            F.min("minh").cast("bigint").alias("min_fp"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_fingerprints",
            "min_fp",
            F.expr(
                "(2 * 10000 * n_fingerprints + n_windows)"
                " div (2 * n_windows)"
            )
            .cast("bigint")
            .alias("density_x10000"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_mann_whitney",
    oracle="""
    WITH s AS (
        SELECT event_type, value FROM events
        WHERE event_type IN ('click', 'purchase')
    ),
    hist AS (
        SELECT value,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS na,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS nb,
               CAST(COUNT(*) AS BIGINT) AS t
        FROM s GROUP BY value
    ),
    pre AS (
        SELECT *,
               CAST(COALESCE(SUM(t) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_less
        FROM hist
    ),
    agg AS (
        SELECT CAST(SUM(na) AS BIGINT) AS n1,
               CAST(SUM(nb) AS BIGINT) AS n2,
               CAST(SUM(na * (2 * cum_less + t + 1)) AS BIGINT) AS r1x2,
               CAST(SUM(t * t * t - t) AS BIGINT) AS ties
        FROM pre
    ),
    stat AS (
        SELECT n1, n2,
               (r1x2 - n1 * (n1 + 1)) AS u1x2,
               CAST(n1 * n2 AS DOUBLE) / 12.0
                 * (CAST(n1 + n2 + 1 AS DOUBLE)
                    - CAST(ties AS DOUBLE)
                      / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))
                   AS var_u
        FROM agg
    )
    SELECT n1, n2,
           CAST(u1x2 / 2.0 AS DOUBLE) AS u1,
           CAST(CASE WHEN var_u <= 0 THEN NULL
                ELSE (CAST(floor(CAST(((CAST(u1x2 AS DOUBLE) / 2.0
                        - CAST(n1 * n2 AS DOUBLE) / 2.0) / sqrt(var_u))
                      AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                END AS DOUBLE) AS z,
           CAST((CAST(floor(CAST((1.0 - CAST(u1x2 AS DOUBLE)
                 / CAST(n1 * n2 AS DOUBLE)) AS DOUBLE) * 1000000.0 + 0.5)
                 AS DOUBLE) / 1000000.0) AS DOUBLE) AS r_rb
    FROM stat
    """,
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test comparing the value
    distribution of 'click' vs 'purchase' events — the distribution-free
    complement to q_ttest_welch (no normality assumption; detects
    stochastic dominance, not mean shift), with midrank tie handling and
    the tie-corrected normal approximation. Rank sums are computed from
    the VALUE HISTOGRAM, not row ranks: per distinct value, 2·midrank =
    2·(#smaller) + t + 1, so the whole test needs one histogram hash-agg
    plus an ordered prefix sum over DISTINCT values — run through the
    range-partitioned global_prefix_sum operator (operators/rank.py), so
    there is no single-reducer stage over data-sized input. Every count
    and rank sum is an exact integer (U1 emits as an exact .5-resolution
    double); z and the rank-biserial effect size go through the portable
    floor round on identical double trees. Scale: one filter-pushed
    scan, one histogram hash-agg, prefix-sum coordination over P
    partition totals, one 1-row reduce."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin("click", "purchase"))
    hist = s.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("nb"),
        F.count(F.lit(1)).cast("bigint").alias("t"),
    )
    pre = global_prefix_sum(hist, "t", ["value"], out="cum_less")
    agg = pre.agg(
        F.sum("na").cast("bigint").alias("n1"),
        F.sum("nb").cast("bigint").alias("n2"),
        F.sum(
            F.col("na") * (2 * F.col("cum_less") + F.col("t") + 1)
        )
        .cast("bigint")
        .alias("r1x2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("ties"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    u1x2 = F.col("r1x2") - n1 * (n1 + 1)
    var_u = (
        (n1 * n2).cast("double")
        / F.lit(12.0)
        * (
            (n1 + n2 + 1).cast("double")
            - F.col("ties").cast("double")
            / ((n1 + n2).cast("double") * (n1 + n2 - 1).cast("double"))
        )
    )
    z = (u1x2.cast("double") / F.lit(2.0) - (n1 * n2).cast("double") / F.lit(2.0)) / F.sqrt(var_u)
    r_rb = F.lit(1.0) - u1x2.cast("double") / (n1 * n2).cast("double")
    return agg.select(
        "n1",
        "n2",
        (u1x2 / F.lit(2.0)).cast("double").alias("u1"),
        F.when(var_u <= 0, F.lit(None).cast("double"))
        .otherwise(portable_round(z, 6))
        .cast("double")
        .alias("z"),
        portable_round(r_rb, 6).cast("double").alias("r_rb"),
    )


@query(
    "q_ngram_novelty",
    oracle=f"""
    WITH dsh AS (
        SELECT doc_id, source, unnest(list_distinct({sql_word_shingles("ws", 5)})) AS sh
        FROM (SELECT doc_id, source,
                     {sql_tokenize("text")} AS ws
              FROM documents)
    ),
    first AS (
        SELECT sh, CAST(MIN(doc_id) AS BIGINT) AS first_doc
        FROM dsh GROUP BY sh
    )
    SELECT source,
           CAST(COUNT(DISTINCT d.doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN d.doc_id = f.first_doc THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST((2 * 10000 * SUM(CASE WHEN d.doc_id = f.first_doc
                    THEN 1 ELSE 0 END) + COUNT(*)) // (2 * COUNT(*))
                AS BIGINT) AS novelty_x10000
    FROM dsh d JOIN first f USING (sh)
    GROUP BY source ORDER BY source
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram novelty: the fraction of each source's distinct
    5-grams that appear for the FIRST time (by doc_id order) in that
    document — the corpus-redundancy growth curve data engineers read
    before deciding how hard to deduplicate (a source whose novelty is
    low adds tokens but no new content; cf. the cross-doc repetition
    that q_dedup_chunks removes AFTER the fact). First-occurrence
    attribution is exact MIN(doc_id) per shingle. Scale: distinct
    shingles are computed map-side per document (array_distinct before
    the explode — no dedup shuffle), then ONE groupBy on the shingle key
    and ONE shingle-keyed join back; everything downstream is a 20-row
    source agg. Integer counts end to end; the novelty ratio uses the
    exact integer half-up division idiom."""
    docs = load_table(spark, sf_dir, "documents")
    dsh = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(word_shingles(tokenize(F.col("text")), 5))
        ).alias("sh"),
    )
    first = dsh.groupBy("sh").agg(F.min("doc_id").cast("bigint").alias("first_doc"))
    return (
        dsh.join(first, "sh")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(
                F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
        )
        .select(
            "source",
            "n_docs",
            "n_grams",
            "n_novel",
            F.expr("(2 * 10000 * n_novel + n_grams) div (2 * n_grams)")
            .cast("bigint")
            .alias("novelty_x10000"),
        )
        .orderBy("source")
    )


def _ranked_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared base for the retrieval-eval pair: probes = vec_id 0-4,
    candidates = every other vector, ranked per probe by 4dp-floor-
    rounded cosine (desc, vec_id tie-break — the ANN-battery ordering
    contract), with rel = label match and n_rel = the probe's total
    relevant-candidate count (window sum over the SAME partition spec as
    the rank, so it adds no exchange). NULL cosines (zero-norm vectors)
    coalesce to -2.0 so ordering is totally defined on both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pv"),
        F.col("label").alias("probe_label"),
    )
    pairs = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "probe_label",
            "vec_id",
            (F.col("label") == F.col("probe_label")).cast("int").alias("rel"),
            F.coalesce(
                portable_round(cosine(F.col("embedding"), F.col("pv")), 4),
                F.lit(-2.0),
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    wp = Window.partitionBy("probe_id")
    return pairs.select(
        "*",
        F.row_number().over(w).alias("rank"),
        F.sum("rel").over(wp).cast("bigint").alias("n_rel"),
    )


_DUCK_RANKED = """
    probes AS (
        SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv,
               label AS probe_label
        FROM embeddings WHERE vec_id < 5
    ),
    pairs AS (
        SELECT p.probe_id, p.probe_label, e.vec_id,
               CASE WHEN e.label = p.probe_label THEN 1 ELSE 0 END AS rel,
               COALESCE(CAST((CAST(floor(CAST((
                   list_dot_product(CAST(e.embedding AS DOUBLE[]), p.pv)
                   / nullif(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                  CAST(e.embedding AS DOUBLE[])))
                          * sqrt(list_dot_product(p.pv, p.pv)), 0.0))
                   AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0)
                   AS DOUBLE), -2.0) AS cos_sim
        FROM embeddings e, probes p WHERE e.vec_id <> p.probe_id
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY probe_id
                   ORDER BY cos_sim DESC, vec_id) AS rank,
               CAST(SUM(rel) OVER (PARTITION BY probe_id) AS BIGINT) AS n_rel
        FROM pairs
    )
"""

_R12 = "CAST(floor(CAST(({x}) AS DOUBLE) * 1000000000000.0 + 0.5) AS DOUBLE) / 1000000000000.0"


@query(
    "q_ndcg",
    oracle=f"""
    WITH {_DUCK_RANKED},
    g AS (
        SELECT probe_id, probe_label, MAX(n_rel) AS n_rel,
               CAST(SUM(CAST(CASE WHEN rank <= 10 AND rel = 1
                   THEN {_R12.format(x='1.0 / log2(rank + 1)')}
                   ELSE 0 END AS DECIMAL(38,12))) AS DOUBLE) AS dcg
        FROM ranked GROUP BY probe_id, probe_label
    ),
    ideal AS (
        SELECT probe_id,
               CAST(SUM(CAST({_R12.format(x='1.0 / log2(t.i + 1)')}
                   AS DECIMAL(38,12))) AS DOUBLE) AS idcg
        FROM g, unnest(generate_series(1, least(10, g.n_rel))) AS t(i)
        GROUP BY probe_id
    )
    SELECT g.probe_id, g.probe_label, g.n_rel,
           CAST((CAST(floor(CAST((g.dcg) AS DOUBLE) * 100000000.0 + 0.5)
                 AS DOUBLE) / 100000000.0) AS DOUBLE) AS dcg,
           CAST((CAST(floor(CAST((ideal.idcg) AS DOUBLE) * 100000000.0 + 0.5)
                 AS DOUBLE) / 100000000.0) AS DOUBLE) AS idcg,
           CAST(CASE WHEN ideal.idcg IS NULL OR ideal.idcg = 0 THEN NULL
                ELSE (CAST(floor(CAST((g.dcg / ideal.idcg) AS DOUBLE)
                      * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                END AS DOUBLE) AS ndcg
    FROM g LEFT JOIN ideal USING (probe_id)
    ORDER BY probe_id
    """,
)
def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per probe vector: rank every candidate by exact cosine,
    binary relevance = label match, DCG with the standard 1/log2(i+1)
    discount, IDCG from the probe's total relevant count — the ranking-
    quality metric that completes the ML-eval family (q_roc_auc grades a
    scorer, this grades a RANKING, which is what the similarity surface
    actually serves). Discount terms are pure functions of integer ranks
    (identical doubles on both engines), 12dp-rounded and DECIMAL-summed
    per the cell-term policy. Scale: this is an EVAL operator — the
    probe set is fixed and small (5 probes), so the exact per-probe
    ranking is one broadcast + one scan + a 5-partition window; at 100 TB
    the same plan runs over a sampled probe set, and only top-k ranks
    matter so the window can degrade to TakeOrdered per probe."""
    base = _ranked_retrieval(spark, sf_dir)
    g = base.groupBy("probe_id", "probe_label").agg(
        F.max("n_rel").alias("n_rel"),
        F.sum(
            F.when(
                (F.col("rank") <= 10) & (F.col("rel") == 1),
                portable_round(F.lit(1.0) / F.log2(F.col("rank") + 1), 12),
            )
            .otherwise(F.lit(0.0))
            .cast(_DEC12_T)
        )
        .cast("double")
        .alias("dcg"),
    )
    ideal = (
        g.select(
            "probe_id",
            F.explode(
                F.when(
                    F.col("n_rel") >= 1,
                    F.sequence(F.lit(1), F.least(F.lit(10), F.col("n_rel"))),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("i"),
        )
        .groupBy("probe_id")
        .agg(
            term_sum(F.lit(1.0) / F.log2(F.col("i") + 1), 12).alias("idcg")
        )
    )
    return (
        g.join(ideal, "probe_id", "left")
        .select(
            "probe_id",
            "probe_label",
            "n_rel",
            portable_round(F.col("dcg"), 8).cast("double").alias("dcg"),
            portable_round(F.col("idcg"), 8).cast("double").alias("idcg"),
            F.when(
                F.col("idcg").isNull() | (F.col("idcg") == 0),
                F.lit(None).cast("double"),
            )
            .otherwise(portable_round(F.col("dcg") / F.col("idcg"), 6))
            .cast("double")
            .alias("ndcg"),
        )
        .orderBy("probe_id")
    )


@query(
    "q_retrieval_metrics",
    oracle=f"""
    WITH {_DUCK_RANKED},
    g AS (
        SELECT probe_id, MAX(n_rel) AS n_rel,
               CAST(SUM(CASE WHEN rank <= 10 THEN rel ELSE 0 END)
                    AS BIGINT) AS hits_at_10,
               MIN(CASE WHEN rel = 1 THEN rank END) AS first_rel_rank
        FROM ranked GROUP BY probe_id
    )
    SELECT probe_id, n_rel, hits_at_10,
           CAST(CASE WHEN least(10, n_rel) = 0 THEN NULL
                ELSE (2 * 10000 * hits_at_10 + least(10, n_rel))
                     // (2 * least(10, n_rel)) END AS BIGINT)
               AS recall_x10000,
           CAST((2 * 10000 * hits_at_10 + 10) // 20 AS BIGINT)
               AS precision_x10000,
           CAST(first_rel_rank AS BIGINT) AS first_rel_rank,
           CAST(CASE WHEN first_rel_rank IS NULL THEN NULL
                ELSE (CAST(floor(CAST((1.0 / first_rel_rank) AS DOUBLE)
                      * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                END AS DOUBLE) AS rr
    FROM g ORDER BY probe_id
    """,
)
def q_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10, precision@10 and reciprocal rank per probe against the
    label-match ground truth — the set-based retrieval metrics beside
    q_ndcg's graded one (together they are the eval harness the ANN
    family is tuned with: recall says coverage, RR says how fast the
    first relevant arrives). Hit counting is exact integer; recall and
    precision emit integer-scaled via the exact half-up division idiom;
    RR = 1/rank is a pure function of an integer. Scale posture
    identical to q_ndcg (fixed probe set, one broadcast + one scan)."""
    base = _ranked_retrieval(spark, sf_dir)
    g = base.groupBy("probe_id").agg(
        F.max("n_rel").alias("n_rel"),
        F.sum(F.when(F.col("rank") <= 10, F.col("rel")).otherwise(0))
        .cast("bigint")
        .alias("hits_at_10"),
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("first_rel_rank"),
    )
    return g.select(
        "probe_id",
        "n_rel",
        "hits_at_10",
        F.when(F.least(F.lit(10), F.col("n_rel")) == 0, F.lit(None))
        .otherwise(
            F.expr(
                "(2 * 10000 * hits_at_10 + least(10, n_rel))"
                " div (2 * least(10, n_rel))"
            )
        )
        .cast("bigint")
        .alias("recall_x10000"),
        F.expr("(2 * 10000 * hits_at_10 + 10) div 20")
        .cast("bigint")
        .alias("precision_x10000"),
        F.col("first_rel_rank").cast("bigint").alias("first_rel_rank"),
        F.when(F.col("first_rel_rank").isNull(), F.lit(None).cast("double"))
        .otherwise(portable_round(F.lit(1.0) / F.col("first_rel_rank"), 6))
        .cast("double")
        .alias("rr"),
    ).orderBy("probe_id")


_DUCK_PRED = f"""
    scored AS (
        SELECT doc_id, lang AS actual,
               {sql_lang_score_columns(sql_tokenize("text"))}
        FROM documents
    ),
    pred AS (
        SELECT doc_id, actual,
               {sql_lang_id(LANG_SCORE_COLUMNS)} AS predicted
        FROM scored
    )
"""


def _predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, actual, predicted) — q_lang_id's stopword-profile argmax
    beside the stored ground-truth lang column."""
    docs = load_table(spark, sf_dir, "documents")
    scores = lang_scores(tokenize(F.col("text")))
    return docs.select(
        "doc_id",
        F.col("lang").alias("actual"),
        lang_id(scores).alias("predicted"),
    )


@query(
    "q_cohens_kappa",
    oracle=f"""
    WITH {_DUCK_PRED},
    cont AS (
        SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM pred GROUP BY actual, predicted
    ),
    agg AS (
        SELECT MAX(n) AS n, MAX(n_agree) AS n_agree,
               MAX(pe_num) AS pe_num
        FROM (
            SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN actual = predicted THEN cnt ELSE 0 END)
                        AS BIGINT) AS n_agree,
                   CAST(NULL AS DECIMAL(38,0)) AS pe_num
            FROM cont
            UNION ALL
            SELECT NULL, NULL,
                   CAST(SUM(row_t * col_t) AS DECIMAL(38,0))
            FROM (SELECT actual AS label, SUM(cnt) AS row_t
                  FROM cont GROUP BY actual) a
            JOIN (SELECT predicted AS label, SUM(cnt) AS col_t
                  FROM cont GROUP BY predicted) p USING (label)
        )
    )
    SELECT n, n_agree,
           CAST((2 * 10000 * n_agree + n) // (2 * n) AS BIGINT)
               AS accuracy_x10000,
           CAST((CAST(floor(CAST((
               (CAST(CAST(n AS DECIMAL(38,0)) * n_agree AS DOUBLE)
                - CAST(pe_num AS DOUBLE))
               / (CAST(CAST(n AS DECIMAL(38,0)) * n AS DOUBLE)
                  - CAST(pe_num AS DOUBLE))
             ) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE)
               AS kappa
    FROM agg
    """,
)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the lang-ID heuristic (q_lang_id's argmax)
    and the stored ground-truth lang — chance-corrected agreement, the
    honest headline for a classifier whose majority class would make raw
    accuracy flattering. Everything is exact: contingency and marginals
    are integer counts, the expected-agreement term Σ row·col runs in
    DECIMAL(38,0) (N² overflows bigint at warehouse row counts), and
    kappa = (N·agree − Σrc)/(N² − Σrc) is a scalar double from exact
    decimals, floor-rounded. Accuracy emits integer-scaled half-up.
    Scale: one hash-agg to a ≤|labels|² contingency, then driver-sized
    arithmetic; the corpus is read once."""
    pred = _predictions(spark, sf_dir)
    # the ≤|labels|² contingency feeds three branches (marginals + totals):
    # persist it or the document scan + tokenize re-executes per branch
    cont = bounded_persist(
        pred.groupBy("actual", "predicted").agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        ),
        "langid-contingency",
    )
    rows = cont.groupBy(F.col("actual").alias("label")).agg(
        F.sum("cnt").alias("row_t")
    )
    cols = cont.groupBy(F.col("predicted").alias("label")).agg(
        F.sum("cnt").alias("col_t")
    )
    pe = (
        rows.join(cols, "label")
        .agg(
            F.sum(
                (F.col("row_t") * F.col("col_t")).cast("decimal(38,0)")
            ).alias("pe_num")
        )
    )
    tot = cont.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.when(F.col("actual") == F.col("predicted"), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_agree"),
    )
    n, agree, pe_num = F.col("n"), F.col("n_agree"), F.col("pe_num")
    kappa = (
        (n.cast("decimal(38,0)") * agree).cast("double") - pe_num.cast("double")
    ) / ((n.cast("decimal(38,0)") * n).cast("double") - pe_num.cast("double"))
    return tot.crossJoin(pe).select(
        "n",
        "n_agree",
        F.expr("(2 * 10000 * n_agree + n) div (2 * n)")
        .cast("bigint")
        .alias("accuracy_x10000"),
        portable_round(kappa, 6).cast("double").alias("kappa"),
    )


@query(
    "q_class_prf",
    oracle=f"""
    WITH {_DUCK_PRED},
    cont AS (
        SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM pred GROUP BY actual, predicted
    ),
    labels AS (
        SELECT actual AS label FROM cont
        UNION
        SELECT predicted FROM cont
    ),
    per AS (
        SELECT l.label,
               COALESCE((SELECT SUM(cnt) FROM cont
                         WHERE actual = l.label AND predicted = l.label), 0)
                   AS tp,
               COALESCE((SELECT SUM(cnt) FROM cont
                         WHERE actual = l.label), 0) AS support,
               COALESCE((SELECT SUM(cnt) FROM cont
                         WHERE predicted = l.label), 0) AS n_pred
        FROM labels l
    )
    SELECT label, CAST(tp AS BIGINT) AS tp,
           CAST(support AS BIGINT) AS support,
           CAST(n_pred AS BIGINT) AS n_pred,
           CAST(CASE WHEN n_pred = 0 THEN NULL
                ELSE (2 * 10000 * tp + n_pred) // (2 * n_pred) END AS BIGINT)
               AS precision_x10000,
           CAST(CASE WHEN support = 0 THEN NULL
                ELSE (2 * 10000 * tp + support) // (2 * support) END AS BIGINT)
               AS recall_x10000,
           CAST(CASE WHEN support + n_pred = 0 THEN NULL
                ELSE (2 * 10000 * 2 * tp + (support + n_pred))
                     // (2 * (support + n_pred)) END AS BIGINT)
               AS f1_x10000
    FROM per ORDER BY label
    """,
)
def q_class_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 of the lang-ID heuristic vs the
    ground-truth lang — the class-level report card beside q_cohens_kappa's
    single agreement number (classes the model never predicts, fr/zh,
    surface as NULL precision + zero recall rather than disappearing).
    tp / support / predicted-count are exact integers from one
    contingency; P, R and F1 = 2tp/(2tp+fp+fn) emit integer-scaled via
    the half-up div idiom. Scale: identical to kappa — one corpus scan
    into a labels²-sized contingency."""
    pred = _predictions(spark, sf_dir)
    # same three-branch contingency reuse as q_cohens_kappa — and the
    # SAME slot: sameSemantics lets kappa's warm table serve this query
    cont = bounded_persist(
        pred.groupBy("actual", "predicted").agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        ),
        "langid-contingency",
    )
    rows = cont.groupBy(F.col("actual").alias("label")).agg(
        F.sum("cnt").cast("bigint").alias("support")
    )
    cols = cont.groupBy(F.col("predicted").alias("label")).agg(
        F.sum("cnt").cast("bigint").alias("n_pred")
    )
    diag = (
        cont.filter(F.col("actual") == F.col("predicted"))
        .select(F.col("actual").alias("label"), F.col("cnt").alias("tp"))
    )
    per = (
        rows.join(cols, "label", "full_outer")
        .join(diag, "label", "left")
        .select(
            "label",
            F.coalesce(F.col("tp"), F.lit(0)).cast("bigint").alias("tp"),
            F.coalesce(F.col("support"), F.lit(0)).cast("bigint").alias("support"),
            F.coalesce(F.col("n_pred"), F.lit(0)).cast("bigint").alias("n_pred"),
        )
    )
    return per.select(
        "label",
        "tp",
        "support",
        "n_pred",
        F.when(F.col("n_pred") == 0, F.lit(None))
        .otherwise(F.expr("(2 * 10000 * tp + n_pred) div (2 * n_pred)"))
        .cast("bigint")
        .alias("precision_x10000"),
        F.when(F.col("support") == 0, F.lit(None))
        .otherwise(F.expr("(2 * 10000 * tp + support) div (2 * support)"))
        .cast("bigint")
        .alias("recall_x10000"),
        F.when(F.col("support") + F.col("n_pred") == 0, F.lit(None))
        .otherwise(
            F.expr(
                "(2 * 10000 * 2 * tp + (support + n_pred))"
                " div (2 * (support + n_pred))"
            )
        )
        .cast("bigint")
        .alias("f1_x10000"),
    ).orderBy("label")


@query(
    "q_brier_score",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               CAST(lang = 'en' AS INTEGER) AS y,
               {sql_lang_score_columns(sql_tokenize("text"))}
        FROM documents
    ),
    probs AS (
        SELECT y,
               CAST(en_score AS DOUBLE)
                   / (en_score + es_score + de_score) AS p
        FROM scored
        WHERE en_score + es_score + de_score > 0
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_scored,
               CAST(SUM(y) AS BIGINT) AS n_pos,
               CAST(SUM(CAST((CAST(floor(CAST(((p - y) * (p - y)) AS DOUBLE)
                   * 1000000000000.0 + 0.5) AS DOUBLE) / 1000000000000.0)
                   AS DECIMAL(38,12))) AS DOUBLE) AS sq_sum
        FROM probs
    )
    SELECT n_scored, n_pos,
           CAST((CAST(floor(CAST((sq_sum / n_scored) AS DOUBLE)
                 * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE)
               AS brier,
           CAST((CAST(floor(CAST((
                 (CAST(n_pos AS DOUBLE) / n_scored)
                 * (1.0 - CAST(n_pos AS DOUBLE) / n_scored)
               ) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE)
               AS uncertainty,
           CAST(CASE WHEN n_pos = 0 OR n_pos = n_scored THEN NULL
                ELSE (CAST(floor(CAST((
                    1.0 - (sq_sum / n_scored)
                          / ((CAST(n_pos AS DOUBLE) / n_scored)
                             * (1.0 - CAST(n_pos AS DOUBLE) / n_scored))
                  ) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                END AS DOUBLE) AS brier_skill
    FROM agg
    """,
)
def q_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the lang-ID stopword-share probability p(en) =
    en_hits/total_hits against y = (lang='en') — probabilistic
    calibration in one number, beside q_calibration_bins' reliability
    table and q_roc_auc's discrimination (a scorer can rank perfectly
    and still be mis-calibrated; Brier catches that). Also emits the
    climatology uncertainty term p̄(1−p̄) and the Brier SKILL score
    1 − BS/unc (>0 beats always-predicting-the-base-rate). Squared
    errors follow the cell-term policy (p is an integer-quotient double,
    12dp-rounded terms, DECIMAL sum); zero-evidence docs are excluded
    and reported via n_scored. Scale: one scan, one hash-agg, scalar
    arithmetic after."""
    docs = load_table(spark, sf_dir, "documents")
    scores = lang_scores(tokenize(F.col("text")))
    en, es, de = (scores[k].cast("int") for k in ("en", "es", "de"))
    probs = docs.select(
        (F.col("lang") == "en").cast("int").alias("y"),
        (en.cast("double") / (en + es + de)).alias("p"),
        (en + es + de).alias("total"),
    ).filter(F.col("total") > 0)
    agg = probs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored"),
        F.sum("y").cast("bigint").alias("n_pos"),
        term_sum((F.col("p") - F.col("y")) * (F.col("p") - F.col("y")), 12).alias(
            "sq_sum"
        ),
    )
    pbar = F.col("n_pos").cast("double") / F.col("n_scored")
    unc = pbar * (F.lit(1.0) - pbar)
    brier = F.col("sq_sum") / F.col("n_scored")
    return agg.select(
        "n_scored",
        "n_pos",
        portable_round(brier, 6).cast("double").alias("brier"),
        portable_round(unc, 6).cast("double").alias("uncertainty"),
        F.when(
            (F.col("n_pos") == 0) | (F.col("n_pos") == F.col("n_scored")),
            F.lit(None).cast("double"),
        )
        .otherwise(portable_round(F.lit(1.0) - brier / unc, 6))
        .cast("double")
        .alias("brier_skill"),
    )


@query(
    "q_sentence_stats",
    oracle=f"""
    WITH per_doc AS (
        SELECT source,
               list_filter(
                   list_transform(
                       regexp_split_to_array(text, '[.!?]+'),
                       s -> len({sql_tokenize("s")})),
                   c -> c > 0) AS sent_words
        FROM documents
    ),
    agg AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(sent_words)) AS BIGINT) AS n_sentences,
               CAST(SUM(list_sum(sent_words)) AS BIGINT) AS n_words,
               CAST(MAX(list_max(sent_words)) AS BIGINT) AS max_sent_words
        FROM per_doc GROUP BY source
    )
    SELECT source, n_docs, n_sentences, n_words, max_sent_words,
           CAST(CASE WHEN n_sentences = 0 THEN NULL
                ELSE (2 * 100 * n_words + n_sentences) // (2 * n_sentences)
                END AS BIGINT) AS avg_sent_words_x100,
           CAST(CASE WHEN n_docs = 0 THEN NULL
                ELSE (2 * 100 * n_sentences + n_docs) // (2 * n_docs)
                END AS BIGINT) AS avg_doc_sents_x100
    FROM agg ORDER BY source
    """,
)
def q_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-segmentation profile per source: sentences split on
    [.!?]+ runs, a sentence counts when it holds ≥1 word — yielding
    sentence counts, mean sentence length and the longest sentence per
    source (the corpus-linguistics readout quality filters are tuned
    against: boilerplate sources skew short, OCR noise skews long).
    Everything is exact integers — per-doc sentence word counts are
    computed MAP-SIDE as an array (no explode: one int array per doc,
    summed in-plan), ratios emit integer-scaled half-up. Scale: one
    scan, one hash-agg keyed on source; no row multiplication at any
    point."""
    docs = load_table(spark, sf_dir, "documents")
    sent_words = F.expr(
        """
        filter(
            transform(split(text, '[.!?]+'),
                      s -> size(filter(split(s, ' '), w -> w <> ''))),
            c -> c > 0)
        """
    )
    per_doc = docs.select("source", sent_words.alias("sent_words"))
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size("sent_words")).cast("bigint").alias("n_sentences"),
        F.sum(
            F.aggregate("sent_words", F.lit(0), lambda a, x: a + x)
        )
        .cast("bigint")
        .alias("n_words"),
        F.max(F.array_max("sent_words")).cast("bigint").alias("max_sent_words"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_sentences",
        "n_words",
        "max_sent_words",
        F.when(F.col("n_sentences") == 0, F.lit(None))
        .otherwise(
            F.expr("(2 * 100 * n_words + n_sentences) div (2 * n_sentences)")
        )
        .cast("bigint")
        .alias("avg_sent_words_x100"),
        F.when(F.col("n_docs") == 0, F.lit(None))
        .otherwise(
            F.expr("(2 * 100 * n_sentences + n_docs) div (2 * n_docs)")
        )
        .cast("bigint")
        .alias("avg_doc_sents_x100"),
    ).orderBy("source")


@query(
    "q_sentence_dedup",
    oracle=f"""
    WITH sents AS (
        SELECT doc_id, source, trim(s) AS sent
        FROM documents,
             unnest(regexp_split_to_array(text, '[.!?]+')) AS t(s)
        WHERE len({sql_tokenize("trim(s)")}) >= 3
    ),
    freq AS (
        SELECT md5(sent) AS h, CAST(COUNT(*) AS BIGINT) AS n_occ
        FROM sents GROUP BY md5(sent)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_sentences,
           CAST(COUNT(DISTINCT f.h) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) FILTER (WHERE f.n_occ > 1) AS BIGINT)
               AS n_duplicated,
           CAST((2 * 10000 * COUNT(*) FILTER (WHERE f.n_occ > 1) + COUNT(*))
                // (2 * COUNT(*)) AS BIGINT) AS dup_ratio_x10000
    FROM sents s JOIN freq f ON md5(s.sent) = f.h
    GROUP BY source ORDER BY source
    """,
)
def q_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style sentence-level duplication audit: split every document
    into sentences ([.!?]+ runs, keep sentences of ≥3 words), hash each,
    and report per source how many sentence OCCURRENCES belong to a
    sentence repeated anywhere in the corpus — the boilerplate signal
    line/sentence dedup (C4's three-sentence rule) acts on, one level
    below q_dedup_chunks' chunk granularity. Occurrence counting is
    exact integer on md5 identity; the dup ratio emits integer-scaled
    half-up. Scale: sentences shuffle ONCE on their md5 hash for the
    frequency table, which joins back BY THE SAME hash key (no second
    wide shuffle of text — only the 16-byte digest and counts move);
    at 100 TB the frequency table is the dedup-standard hash-keyed
    rollup, never a driver-side structure."""
    docs = load_table(spark, sf_dir, "documents")
    sents = (
        docs.select(
            "source",
            F.explode(F.split(F.col("text"), r"[.!?]+")).alias("s"),
        )
        .select("source", F.trim(F.col("s")).alias("sent"))
        .filter(
            F.size(tokenize(F.col("sent")))
            >= 3
        )
        .select("source", F.md5("sent").alias("h"))
    )
    freq = sents.groupBy("h").agg(F.count(F.lit(1)).cast("bigint").alias("n_occ"))
    joined = sents.join(freq, "h")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sentences"),
            F.countDistinct("h").cast("bigint").alias("n_distinct"),
            F.count(F.when(F.col("n_occ") > 1, 1)).cast("bigint").alias(
                "n_duplicated"
            ),
        )
        .select(
            "source",
            "n_sentences",
            "n_distinct",
            "n_duplicated",
            F.expr(
                "(2 * 10000 * n_duplicated + n_sentences)"
                " div (2 * n_sentences)"
            )
            .cast("bigint")
            .alias("dup_ratio_x10000"),
        )
        .orderBy("source")
    )


@query(
    "q_quantile_normalize",
    oracle=f"""
    WITH vals AS (
        SELECT event_type AS symbol, event_id, value FROM events
    ),
    ranked AS (
        SELECT symbol,
               row_number() OVER (PARTITION BY symbol
                                  ORDER BY value, event_id) AS i,
               CAST(COUNT(*) OVER (PARTITION BY symbol) AS BIGINT) AS ns
        FROM vals
    ),
    pooled AS (
        SELECT value AS pv,
               row_number() OVER (ORDER BY value, event_id) AS j,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM vals
    ),
    mapped AS (
        SELECT r.symbol, r.ns,
               p.pv AS norm_v
        FROM (SELECT symbol, i, ns,
                     CASE WHEN ns = 1
                          THEN 1 + ((SELECT MAX(n) FROM pooled) - 1) // 2
                          ELSE 1 + (2 * (i - 1)
                                    * ((SELECT MAX(n) FROM pooled) - 1)
                                    + (ns - 1)) // (2 * (ns - 1))
                     END AS jstar
              FROM ranked) r
        JOIN pooled p ON p.j = r.jstar
    )
    SELECT symbol,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(norm_v) AS norm_min,
           MAX(norm_v) AS norm_max,
           CAST((CAST(floor(CAST((
               ({sql_split_term_sum("norm_v", 12, 8)}) / COUNT(*)
             ) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE)
               AS norm_mean
    FROM mapped GROUP BY symbol ORDER BY symbol
    """,
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across groups: every event_type's value
    distribution is remapped onto the POOLED distribution (each group's
    i-th order statistic takes the pooled value at the proportional
    global position) — the microarray-era ML preprocessing step that
    makes groups exactly comparable when their scales differ, beside
    q_feature_scale's per-dimension StandardScaler. Positions are pure
    integers: j* = 1 + round((i−1)(N−1)/(n_s−1)) via the integer half-up
    idiom, so the mapping is bit-identical; the per-group summary
    (min/max should agree across groups, means converge) reports the
    normalized distributions with a DECIMAL mean. Scale: per-group ranks
    are one window shuffle; the POOLED rank runs through the
    range-partitioned global_row_number operator (no single-reducer
    stage); the map-back join keys on the integer rank."""
    ev = load_table(spark, sf_dir, "events")
    vals = ev.select(
        F.col("event_type").alias("symbol"), "event_id", "value"
    )
    sw = Window.partitionBy("symbol").orderBy("value", "event_id")
    ranked = vals.select(
        "symbol",
        F.row_number().over(sw).alias("i"),
        F.count(F.lit(1))
        .over(Window.partitionBy("symbol"))
        .cast("bigint")
        .alias("ns"),
    )
    pooled = global_row_number(
        vals.select("value", "event_id"),
        ["value", "event_id"],
        out="j",
        n_total=None,
    ).select(F.col("value").alias("pv"), F.col("j"))
    n_total = pooled.agg(F.max("j").cast("bigint").alias("n"))
    jstar = F.when(
        F.col("ns") == 1, F.lit(1) + F.expr("(n - 1) div 2")
    ).otherwise(
        F.lit(1)
        + F.expr("(2 * (i - 1) * (n - 1) + (ns - 1)) div (2 * (ns - 1))")
    )
    mapped = (
        ranked.crossJoin(F.broadcast(n_total))
        .select("symbol", jstar.alias("jstar"))
        .join(pooled, F.col("jstar") == F.col("j"))
    )
    return (
        mapped.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("pv").alias("norm_min"),
            F.max("pv").alias("norm_max"),
            (
                split_term_sum(F.col("pv"), 12, 8) / F.count(F.lit(1))
            ).alias("__mean"),
        )
        .select(
            "symbol",
            "n",
            "norm_min",
            "norm_max",
            portable_round(F.col("__mean"), 6).cast("double").alias("norm_mean"),
        )
        .orderBy("symbol")
    )


_W1_TYPES = ("click", "error", "purchase", "signup", "view")
_W1_PAIRS = [
    (a, b)
    for i, a in enumerate(_W1_TYPES)
    for b in _W1_TYPES[i + 1 :]
]


def _w1_pair_sql(a: str, b: str) -> str:
    term = (
        f"CAST(floor(CAST((abs(f_{a} - f_{b}) * gap) AS DOUBLE)"
        " * 1000000000000.0 + 0.5) AS DOUBLE) / 1000000000000.0"
    )
    return (
        f"SELECT '{a}' AS type_a, '{b}' AS type_b,\n"
        f"       CAST((CAST(floor(CAST((CAST(SUM(CAST(({term})"
        " AS DECIMAL(38,12))) AS DOUBLE)) AS DOUBLE) * 1000000.0 + 0.5)"
        " AS DOUBLE) / 1000000.0) AS DOUBLE) AS w1\n"
        "    FROM o WHERE gap IS NOT NULL"
    )


@query(
    "q_wasserstein_drift",
    oracle="""
    WITH n AS (
        SELECT """
    + ", ".join(
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_{t}"
        for t in _W1_TYPES
    )
    + """
        FROM events
    ),
    o AS (
        SELECT """
    + ", ".join(
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
        f" OVER w AS DOUBLE) / n.n_{t} AS f_{t}"
        for t in _W1_TYPES
    )
    + """,
               lead(value) OVER w - value AS gap
        FROM events CROSS JOIN n
        WINDOW w AS (ORDER BY value, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT * FROM ("""
    + "\n    UNION ALL ".join(_w1_pair_sql(a, b) for a, b in _W1_PAIRS)
    + """)
    ORDER BY type_a, type_b
    """,
)
def q_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs Wasserstein-1 (earth-mover) distance between the event
    types' value distributions — the drift metric that, unlike PSI's
    fixed bins (q_psi_drift), integrates |F_a − F_b| over the ACTUAL
    merged support: W1 = Σ_i |F_a(x_i) − F_b(x_i)|·(x_{i+1} − x_i) over
    the globally sorted pooled sample. Scale design: the global sort is
    the global_row_number recipe (operators/rank.py) — ONE range
    shuffle, per-partition conditional cumsums for all 5 types in a
    single local window pass, per-partition totals (P rows, the only
    global window) broadcast back as offsets, and the cross-partition
    gap closed by broadcasting each partition's first value to its
    predecessor — no single-reducer stage, all 10 pairs priced in one
    pass. Determinism: F_t = integer-cum / integer-total (exact inputs,
    one IEEE division), each pair term rounded to 12dp and summed as
    exact DECIMAL (the Σ-of-rounded-terms policy), final 6dp round."""
    ev = load_table(spark, sf_dir, "events").select(
        "value", "event_id", "event_type"
    )
    ranged = (
        ev.repartitionByRange("value", "event_id")
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    ind = {t: (F.col("event_type") == t).cast("bigint") for t in _W1_TYPES}
    part = ranged.groupBy("__pid").agg(
        *[F.sum(ind[t]).alias(f"pt_{t}") for t in _W1_TYPES],
        F.min(F.struct("value", "event_id")).alias("first_key"),
    )
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    w_tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_next = Window.orderBy("__pid")
    offsets = part.select(
        "__pid",
        *[
            F.coalesce(F.sum(f"pt_{t}").over(w_off), F.lit(0)).alias(f"off_{t}")
            for t in _W1_TYPES
        ],
        *[F.sum(f"pt_{t}").over(w_tot).alias(f"n_{t}") for t in _W1_TYPES],
        F.lead("first_key").over(w_next)["value"].alias("next_first"),
    )
    w_local = (
        Window.partitionBy("__pid")
        .orderBy("value", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_lead = Window.partitionBy("__pid").orderBy("value", "event_id")
    rows = (
        ranged.join(F.broadcast(offsets), "__pid")
        .select(
            "value",
            # cross-partition gap: the partition's last row reaches into
            # the NEXT partition's first value (broadcast, P rows)
            F.coalesce(F.lead("value").over(w_lead), F.col("next_first"))
            .alias("nxt"),
            *[
                (
                    (F.col(f"off_{t}") + F.sum(ind[t]).over(w_local)).cast(
                        "double"
                    )
                    / F.col(f"n_{t}")
                ).alias(f"f_{t}")
                for t in _W1_TYPES
            ],
        )
        .withColumn("gap", F.col("nxt") - F.col("value"))
        .filter(F.col("nxt").isNotNull())
    )
    sums = rows.agg(
        *[
            F.sum(
                term(F.abs(F.col(f"f_{a}") - F.col(f"f_{b}")) * F.col("gap"), 12)
            ).alias(f"w1_{a}_{b}")
            for a, b in _W1_PAIRS
        ]
    )
    stacked = sums.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("type_a"),
                        F.lit(b).alias("type_b"),
                        portable_round(
                            F.col(f"w1_{a}_{b}").cast("double"), 6
                        )
                        .cast("double")
                        .alias("w1"),
                    )
                    for a, b in _W1_PAIRS
                ]
            )
        ).alias("p")
    )
    return stacked.select("p.type_a", "p.type_b", "p.w1").orderBy(
        "type_a", "type_b"
    )


@query(
    "q_rare_label_fold",
    oracle="""
    WITH c AS (
        SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n
        FROM part GROUP BY p_brand
    ),
    r AS (
        SELECT p_brand, n,
               row_number() OVER (ORDER BY n DESC, p_brand) AS rk
        FROM c
    )
    SELECT CASE WHEN rk <= 10 THEN p_brand ELSE 'OTHER' END AS label,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_source_labels
    FROM r
    GROUP BY 1
    ORDER BY n_rows DESC, label
    """,
)
def q_rare_label_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-category consolidation — the boundedness step BEFORE one-hot
    encoding (q_one_hot_encode needs a closed label set; this closes
    it): the top-10 labels by (count, label tie-break) survive, the long
    tail folds into 'OTHER'. Rank-based rather than threshold-based so
    the rule is scale-independent (a frequency cutoff silently keeps
    more labels as data grows). Two tiny aggregations over the label
    COUNTS (cardinality-sized, never row-sized): the rank window runs
    over one row per distinct label — at 100 TB the label table is the
    small side regardless of corpus size. Integer counts only."""
    from pyspark.sql.window import Window as W

    part = load_table(spark, sf_dir, "part")
    c = part.groupBy("p_brand").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    rk = F.row_number().over(W.orderBy(F.desc("n"), "p_brand"))
    folded = c.select(
        F.when(rk <= 10, F.col("p_brand")).otherwise("OTHER").alias("label"),
        "n",
    )
    return (
        folded.groupBy("label")
        .agg(
            F.sum("n").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_source_labels"),
        )
        .orderBy(F.desc("n_rows"), "label")
    )


_SPLIT_BUCKET_SQL = (
    "((strpos('0123456789abcdef', substr(md5(CAST({k} AS VARCHAR)), 1, 1))"
    " - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5(CAST({k} AS VARCHAR)), 2, 1))"
    " - 1)) % 256"
)


@query(
    "q_split_leakage",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 3000000 AS doc_id, text || ' zz9 zz8'
        FROM documents WHERE doc_id % 16 = 0
    ),
    lab AS (
        SELECT doc_id, text,
               CASE WHEN ({_SPLIT_BUCKET_SQL.format(k='doc_id')}) < 230
                        THEN 'train' ELSE 'eval' END AS split
        FROM base
    ),
    sh AS (
        SELECT doc_id, split,
               list_distinct({sql_word_shingles("w", 3)}) AS shingles
        FROM (SELECT doc_id, split,
                     {sql_tokenize("text")} AS w
              FROM lab)
    ),
    sizes AS (SELECT doc_id, split, len(shingles) AS n FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jac AS (
        SELECT i.id_a, i.id_b, sa.split AS split_a, sb.split AS split_b,
               CAST((CAST(floor(CAST((i.c::DOUBLE / (sa.n + sb.n - i.c))
                    AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0)
                    AS DOUBLE) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE (CAST(floor(CAST((i.c::DOUBLE / (sa.n + sb.n - i.c))
              AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) >= 0.7
          AND sa.split <> sb.split
    )
    SELECT CAST(CASE WHEN split_a = 'train' THEN id_a ELSE id_b END
               AS BIGINT) AS train_id,
           CAST(CASE WHEN split_a = 'train' THEN id_b ELSE id_a END
               AS BIGINT) AS eval_id,
           jaccard
    FROM jac
    ORDER BY train_id, eval_id
    """,
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval SPLIT-LEAKAGE audit — the check a pretraining team runs
    after splitting: near-duplicate pairs whose members land on OPPOSITE
    sides of the deterministic hash split (q_hash_split's md5-bucket
    rule, train <230/256) leak training text into evaluation. The same
    banded MinHash-LSH + cross-side-only candidate machinery as
    q_dedup_cross_corpus (operators/dedup.py::minhash_cross_near_dups
    with the split rule as the probe predicate — only train×eval pairs
    are ever verified, never train×train), over the corpus plus planted
    near-dup re-entries (every 16th doc, suffixed, under a shifted id)
    whose md5 buckets scatter across the split — so the fixture
    guarantees genuine cross-split leaks for the oracle's exact inverted
    index to certify. Scale posture inherited: shuffles on
    (doc_id)/(band_hash) only, size-ratio prefilter, bounded buckets."""
    from stockmarketdata_dwb_etl_spark.operators.dedup import (
        minhash_cross_near_dups,
    )

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.filter(F.col("doc_id") % 16 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat("text", F.lit(" zz9 zz8")).alias("text"),
    )
    base = docs.select("doc_id", "text").unionByName(planted)

    def is_eval(c):
        h = F.md5(c.cast("string"))
        return (
            F.conv(F.substring(h, 1, 2), 16, 10).cast("int") % F.lit(256)
        ) >= 230

    pairs = minhash_cross_near_dups(
        base, is_eval, id_col="doc_id", text_col="text"
    )
    a_eval = is_eval(F.col("id_a"))
    return (
        pairs.select(
            F.when(a_eval, F.col("id_b"))
            .otherwise(F.col("id_a"))
            .cast("bigint")
            .alias("train_id"),
            F.when(a_eval, F.col("id_a"))
            .otherwise(F.col("id_b"))
            .cast("bigint")
            .alias("eval_id"),
            "jaccard",
        )
        # shuffle barrier before the presentation sort (the range sampler
        # would re-execute the verify stage — the cross_corpus precedent)
        .repartition("train_id")
        .orderBy("train_id", "eval_id")
    )
