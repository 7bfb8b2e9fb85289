"""LLM-corpus and warehouse operations, part 11 (round 10): probabilistic
record linkage, blocking-scheme evaluation, corpus power-law fits, and
split/sampling utilities.

Six operators a 100 TB data platform runs routinely (no analog in the
683-LoC scraper reference — engine surface beyond it):

- Fellegi–Sunter record linkage (1969): candidate pairs from a blocking
  key, per-field agreement vectors, m/u probabilities estimated from the
  labeled pairs, and the classic log2(m/u) match weights — entity
  resolution's standard scoring model.
- Blocking-quality evaluation: reduction ratio and pairs completeness,
  computed WITHOUT materializing the full cross product (group sizes and
  arithmetic, the only way the metric is computable at warehouse scale).
- Zipf slope fit: OLS of log10(freq) on log10(rank) over the top-k
  vocabulary — the corpus-health power-law check.
- Heaps' law fit: vocabulary-growth exponent β from cumulative (tokens,
  vocab) checkpoints per document, built on the range-partitioned
  global_prefix_sum (no single-reducer window).
- Group-aware k-fold assignment: folds keyed by md5(source) so a group
  can never straddle folds — the leakage-safe cross-validation split.
- Deterministic negative sampling: per anchor, k pseudo-random negatives
  from the engine-portable md5 hash — contrastive-pair data prep with
  bit-reproducible draws on both engines.

Determinism policy: agreement counts, ranks, fold sizes and sample ids
are exact integers; log/log10 terms round 8dp before exact-DECIMAL
summation (the q_bartlett discipline — cross-libm log differences are
~1 ulp and die at 8dp); every emitted double passes portable_round
through the identical expression tree on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    sql_portable_round,
    sql_term_sum,
    term_sum,
)
from stockmarketdata_dwb_etl_spark.functions.text import sql_tokenize, tokenize
from stockmarketdata_dwb_etl_spark.registry import query

_HEX = "0123456789abcdef"


def _duck_md5_int(expr: str, k: int) -> str:
    """DuckDB fragment: integer value of the first ``k`` hex digits of
    md5(expr) — the engine-portable hash (DuckDB has no conv(); Spark
    side is F.conv(F.substring(F.md5(...), 1, k), 16, 10))."""
    terms = " + ".join(
        f"(strpos('{_HEX}', substr(md5({expr}), {i + 1}, 1)) - 1)"
        f" * {16 ** (k - 1 - i)}"
        for i in range(k)
    )
    return f"({terms})"


def _md5_int(col: Column, k: int) -> Column:
    """Spark twin of :func:`_duck_md5_int`."""
    return F.conv(F.substring(F.md5(col), 1, k), 16, 10).cast("bigint")


# ---------------------------------------------------------------------------
# Fellegi–Sunter record linkage over a synthesized dirty-twin corpus
# ---------------------------------------------------------------------------

# twin construction shared by q_record_linkage / q_blocking_quality:
# every 10th customer gets a "re-entered" twin record (rid + 1_000_000)
# with controlled noise: name gains ' JR' for custkey%20==0 (half the
# twins), segment flips to MACHINERY for custkey%40==0, balance shifts
# by ((custkey%7)-3)*0.01 (|Δ| ≤ 0.03, so the ±0.02 agreement rule
# disagrees for 2/7 of twins) — realistic m-probabilities < 1.
_TWIN_SQL = """
    base AS (
        SELECT CAST(c_custkey AS BIGINT) AS rid, c_name AS name,
               c_nationkey AS nation, c_mktsegment AS segment,
               c_acctbal AS bal
        FROM customer
    ),
    twins AS (
        SELECT CAST(c_custkey + 1000000 AS BIGINT) AS rid,
               CASE WHEN c_custkey % 20 = 0 THEN c_name || ' JR'
                    ELSE c_name END AS name,
               c_nationkey AS nation,
               CASE WHEN c_custkey % 40 = 0 THEN 'MACHINERY'
                    ELSE c_mktsegment END AS segment,
               c_acctbal + ((c_custkey % 7) - 3) * 0.01 AS bal
        FROM customer WHERE c_custkey % 10 = 0
    ),
    recs AS (
        SELECT rid, name, nation, segment, bal,
               CAST(floor(bal / 100.0) AS BIGINT) AS bkt
        FROM (SELECT * FROM base UNION ALL SELECT * FROM twins)
    )
"""


def _linkage_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _TWIN_SQL: base customers + dirty twin records with
    the blocking bucket precomputed (nation, floor(bal/100))."""
    cust = load_table(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").cast("bigint").alias("rid"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("bal"),
    )
    k = F.col("c_custkey")
    twins = cust.filter(k % 10 == 0).select(
        (k + 1_000_000).cast("bigint").alias("rid"),
        F.when(k % 20 == 0, F.concat(F.col("c_name"), F.lit(" JR")))
        .otherwise(F.col("c_name"))
        .alias("name"),
        F.col("c_nationkey").alias("nation"),
        F.when(k % 40 == 0, F.lit("MACHINERY"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
        (F.col("c_acctbal") + ((k % 7) - 3) * 0.01).alias("bal"),
    )
    return base.unionByName(twins).withColumn(
        "bkt", F.floor(F.col("bal") / 100.0).cast("bigint")
    )


@query(
    "q_record_linkage",
    oracle=f"""
    WITH {_TWIN_SQL},
    cand AS (
        SELECT a.rid AS rid_a, b.rid AS rid_b,
               CASE WHEN a.name = b.name THEN 1 ELSE 0 END AS ag_name,
               CASE WHEN a.segment = b.segment THEN 1 ELSE 0 END AS ag_seg,
               CASE WHEN abs(a.bal - b.bal) <= 0.02 THEN 1 ELSE 0 END
                   AS ag_bal,
               CASE WHEN b.rid = a.rid + 1000000 AND a.rid % 10 = 0
                    THEN 1 ELSE 0 END AS is_match
        FROM recs a JOIN recs b
          ON a.nation = b.nation AND a.bkt = b.bkt AND a.rid < b.rid
    ),
    pat AS (
        SELECT ag_name * 4 + ag_seg * 2 + ag_bal AS pattern,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(is_match) AS BIGINT) AS n_matches,
               CAST(MAX(ag_name) AS BIGINT) AS b_name,
               CAST(MAX(ag_seg) AS BIGINT) AS b_seg,
               CAST(MAX(ag_bal) AS BIGINT) AS b_bal
        FROM cand GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(n_matches) AS DOUBLE) AS nm,
               CAST(SUM(n_pairs - n_matches) AS DOUBLE) AS nu,
               CAST(SUM(b_name * n_matches) AS DOUBLE) AS m_name_c,
               CAST(SUM(b_name * (n_pairs - n_matches)) AS DOUBLE)
                   AS u_name_c,
               CAST(SUM(b_seg * n_matches) AS DOUBLE) AS m_seg_c,
               CAST(SUM(b_seg * (n_pairs - n_matches)) AS DOUBLE) AS u_seg_c,
               CAST(SUM(b_bal * n_matches) AS DOUBLE) AS m_bal_c,
               CAST(SUM(b_bal * (n_pairs - n_matches)) AS DOUBLE) AS u_bal_c
        FROM pat
    ),
    mu AS (
        SELECT (m_name_c + 0.5) / (nm + 1.0) AS m_name,
               (u_name_c + 0.5) / (nu + 1.0) AS u_name,
               (m_seg_c + 0.5) / (nm + 1.0) AS m_seg,
               (u_seg_c + 0.5) / (nu + 1.0) AS u_seg,
               (m_bal_c + 0.5) / (nm + 1.0) AS m_bal,
               (u_bal_c + 0.5) / (nu + 1.0) AS u_bal
        FROM tot
    )
    SELECT CAST(p.pattern AS BIGINT) AS pattern, p.n_pairs, p.n_matches,
           CAST({sql_portable_round(
               "(CASE WHEN p.b_name = 1 THEN ln(m_name / u_name)"
               "      ELSE ln((1.0 - m_name) / (1.0 - u_name)) END"
               " + CASE WHEN p.b_seg = 1 THEN ln(m_seg / u_seg)"
               "        ELSE ln((1.0 - m_seg) / (1.0 - u_seg)) END"
               " + CASE WHEN p.b_bal = 1 THEN ln(m_bal / u_bal)"
               "        ELSE ln((1.0 - m_bal) / (1.0 - u_bal)) END)"
               " / ln(2.0)", 6)} AS DOUBLE) AS weight_bits
    FROM pat p CROSS JOIN mu
    ORDER BY pattern
    """,
)
def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage: block the dirty-twin
    customer corpus on (nation, ⌊balance/100⌋), form within-block
    candidate pairs, reduce each pair to its (name, segment, balance±0.02)
    agreement PATTERN, estimate m = P(agree|match) and u = P(agree|
    non-match) from the labeled candidates (Laplace +0.5 smoothing — the
    name field never agrees for non-matches, so the raw u would be 0),
    and emit the classic Σ log2(m/u) match weight per pattern. Weights
    are what a linkage pipeline thresholds to auto-match / clerical-review
    / reject. Scale: the self-join fans out only within blocks (bounded
    by the blocking key's selectivity); everything after the pattern agg
    is an 8-row problem, so m/u estimation costs one extra reduce — no
    second pass over the pairs. Labels come from construction (twin rid =
    base + 1e6), the supervised-calibration setup."""
    recs = _linkage_records(spark, sf_dir)
    a = recs.alias("a")
    b = recs.alias("b")
    cand = a.join(
        b,
        (F.col("a.nation") == F.col("b.nation"))
        & (F.col("a.bkt") == F.col("b.bkt"))
        & (F.col("a.rid") < F.col("b.rid")),
    ).select(
        (F.col("a.name") == F.col("b.name")).cast("int").alias("ag_name"),
        (F.col("a.segment") == F.col("b.segment")).cast("int").alias("ag_seg"),
        (F.abs(F.col("a.bal") - F.col("b.bal")) <= 0.02)
        .cast("int")
        .alias("ag_bal"),
        (
            (F.col("b.rid") == F.col("a.rid") + 1_000_000)
            & (F.col("a.rid") % 10 == 0)
        )
        .cast("int")
        .alias("is_match"),
    )
    pat = cand.groupBy(
        (
            F.col("ag_name") * 4 + F.col("ag_seg") * 2 + F.col("ag_bal")
        ).alias("pattern")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("is_match").cast("bigint").alias("n_matches"),
        F.max("ag_name").cast("bigint").alias("b_name"),
        F.max("ag_seg").cast("bigint").alias("b_seg"),
        F.max("ag_bal").cast("bigint").alias("b_bal"),
    )
    tot = pat.agg(
        F.sum("n_matches").cast("double").alias("nm"),
        F.sum(F.col("n_pairs") - F.col("n_matches"))
        .cast("double")
        .alias("nu"),
        *[
            F.sum(F.col(f"b_{f}") * cnt).cast("double").alias(f"{p}_{f}_c")
            for f in ("name", "seg", "bal")
            for p, cnt in (
                ("m", F.col("n_matches")),
                ("u", F.col("n_pairs") - F.col("n_matches")),
            )
        ],
    )
    mu = tot.select(
        *[
            ((F.col(f"{p}_{f}_c") + 0.5) / (F.col(n) + 1.0)).alias(f"{p}_{f}")
            for f in ("name", "seg", "bal")
            for p, n in (("m", "nm"), ("u", "nu"))
        ]
    )

    def w(field: str) -> Column:
        m, u = F.col(f"m_{field}"), F.col(f"u_{field}")
        return F.when(F.col(f"b_{field}") == 1, F.log(m / u)).otherwise(
            F.log((1.0 - m) / (1.0 - u))
        )

    return (
        pat.crossJoin(F.broadcast(mu))
        .select(
            F.col("pattern").cast("bigint").alias("pattern"),
            "n_pairs",
            "n_matches",
            portable_round(
                (w("name") + w("seg") + w("bal")) / F.log(F.lit(2.0)), 6
            )
            .cast("double")
            .alias("weight_bits"),
        )
        .orderBy("pattern")
    )


@query(
    "q_blocking_quality",
    oracle=f"""
    WITH {_TWIN_SQL},
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_records FROM recs),
    truth AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
               CAST(SUM(CASE WHEN floor(c_acctbal / 100.0)
                              = floor((c_acctbal
                                       + ((c_custkey % 7) - 3) * 0.01)
                                      / 100.0)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_found
        FROM customer WHERE c_custkey % 10 = 0
    ),
    blocks AS (
        SELECT CAST(SUM(sz * (sz - 1) / 2) AS BIGINT) AS n_cand
        FROM (SELECT COUNT(*) AS sz FROM recs GROUP BY nation, bkt)
    )
    SELECT n.n_records, truth.n_true AS n_true_pairs,
           blocks.n_cand AS n_cand_pairs, truth.n_found AS n_true_in_cand,
           CAST({sql_portable_round(
               "1.0 - CAST(blocks.n_cand AS DOUBLE)"
               " / (CAST(n.n_records AS DOUBLE)"
               "    * (n.n_records - 1) / 2.0)", 6)} AS DOUBLE)
               AS reduction_ratio,
           CAST({sql_portable_round(
               "CAST(truth.n_found AS DOUBLE) / truth.n_true", 6)}
               AS DOUBLE) AS pairs_completeness
    FROM n CROSS JOIN truth CROSS JOIN blocks
    """,
)
def q_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme evaluation for the q_record_linkage setup: the
    reduction ratio (1 − candidates/total-pairs) and pairs completeness
    (share of true twin pairs the blocks retain — a twin escapes only
    when its ±0.03 balance shift crosses a ⌊bal/100⌋ boundary), computed
    WITHOUT materializing any pair set: candidates = Σ sz·(sz−1)/2 over
    block-size counts, total pairs = n·(n−1)/2 arithmetically, and
    completeness derives both blocking keys from the SAME customer row
    (the twin's key is a pure function of it) — one scan + one hash-agg,
    no join, valid at any corpus size. This is the metric pair every
    blocking-key proposal is judged by before the expensive linkage run."""
    recs = _linkage_records(spark, sf_dir)
    n = recs.agg(F.count(F.lit(1)).cast("bigint").alias("n_records"))
    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    truth = cust.filter(k % 10 == 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true"),
        F.sum(
            (
                F.floor(F.col("c_acctbal") / 100.0)
                == F.floor(
                    (F.col("c_acctbal") + ((k % 7) - 3) * 0.01) / 100.0
                )
            ).cast("int")
        )
        .cast("bigint")
        .alias("n_found"),
    )
    blocks = (
        recs.groupBy("nation", "bkt")
        .agg(F.count(F.lit(1)).alias("sz"))
        .agg(
            F.sum(F.col("sz") * (F.col("sz") - 1) / 2)
            .cast("bigint")
            .alias("n_cand")
        )
    )
    total_pairs = (
        F.col("n_records").cast("double")
        * (F.col("n_records") - 1)
        / 2.0
    )
    return (
        n.crossJoin(F.broadcast(truth))
        .crossJoin(F.broadcast(blocks))
        .select(
            "n_records",
            F.col("n_true").alias("n_true_pairs"),
            F.col("n_cand").alias("n_cand_pairs"),
            F.col("n_found").alias("n_true_in_cand"),
            portable_round(
                1.0 - F.col("n_cand").cast("double") / total_pairs, 6
            )
            .cast("double")
            .alias("reduction_ratio"),
            portable_round(
                F.col("n_found").cast("double") / F.col("n_true"), 6
            )
            .cast("double")
            .alias("pairs_completeness"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus power-law fits
# ---------------------------------------------------------------------------

_ZIPF_TOPK = 10_000


@query(
    "q_zipf_fit",
    oracle=f"""
    WITH freq AS (
        SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS f
        FROM (SELECT lang,
                     unnest({sql_tokenize("text")}) AS tok
              FROM documents)
        GROUP BY lang, tok
    ),
    ranked AS (
        SELECT lang, f,
               CAST(row_number() OVER (PARTITION BY lang
                                       ORDER BY f DESC, tok) AS BIGINT) AS r
        FROM freq
        QUALIFY r <= {_ZIPF_TOPK}
    ),
    s AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
               {sql_term_sum("log10(CAST(r AS DOUBLE))", 8)} AS sx,
               {sql_term_sum("log10(CAST(f AS DOUBLE))", 8)} AS sy,
               {sql_term_sum("log10(CAST(r AS DOUBLE)) * log10(CAST(r AS DOUBLE))", 8)}
                   AS sxx,
               {sql_term_sum("log10(CAST(f AS DOUBLE)) * log10(CAST(f AS DOUBLE))", 8)}
                   AS syy,
               {sql_term_sum("log10(CAST(r AS DOUBLE)) * log10(CAST(f AS DOUBLE))", 8)}
                   AS sxy
        FROM ranked GROUP BY lang
    )
    SELECT lang, n AS n_vocab,
           CAST({sql_portable_round(
               "(n * sxy - sx * sy) / (n * sxx - sx * sx)", 6)} AS DOUBLE)
               AS zipf_slope,
           CAST({sql_portable_round(
               "(sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n",
               6)} AS DOUBLE) AS intercept,
           CAST({sql_portable_round(
               "(n * sxy - sx * sy) * (n * sxy - sx * sy)"
               " / ((n * sxx - sx * sx) * (n * syy - sy * sy))", 6)}
               AS DOUBLE) AS r2
    FROM s ORDER BY lang
    """,
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-LANGUAGE Zipf power-law fits — the comparative corpus-health
    profile beside q_zipf_slope's single global scalar (dataops5): each
    language's token frequencies rank within the language and get their
    own OLS slope/intercept/r² of log10(freq) on log10(rank) over the
    per-lang top-10k — the report that flags ONE language's spam or
    boilerplate skew that a pooled fit averages away (and the slope gap
    between languages is itself the signal for per-lang quality gates).
    Log terms round 8dp before exact DECIMAL summation. Scale: one
    (lang, token) hash-agg (partial map-side), rank windows PARTITIONED
    BY LANG (vocabulary-bounded per group, never corpus-bounded), one
    lang-count-sized reduce."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(
            "lang", F.explode(tokenize(F.col("text"))).alias("tok")
        )
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("f").desc(), "tok")
    ranked = freq.select(
        "lang", "f", F.row_number().over(w).cast("bigint").alias("r")
    ).filter(F.col("r") <= _ZIPF_TOPK)
    x = F.log10(F.col("r").cast("double"))
    y = F.log10(F.col("f").cast("double"))
    s = ranked.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        term_sum(x, 8).alias("sx"),
        term_sum(y, 8).alias("sy"),
        term_sum(x * x, 8).alias("sxx"),
        term_sum(y * y, 8).alias("syy"),
        term_sum(x * y, 8).alias("sxy"),
    )
    n = F.col("n")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov / vx
    return s.select(
        "lang",
        n.alias("n_vocab"),
        portable_round(slope, 6).cast("double").alias("zipf_slope"),
        portable_round((F.col("sy") - slope * F.col("sx")) / n, 6)
        .cast("double")
        .alias("intercept"),
        portable_round(cov * cov / (vx * vy), 6).cast("double").alias("r2"),
    ).orderBy("lang")


@query(
    "q_heaps_law",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({sql_tokenize("text")}) AS tok
        FROM documents
    ),
    per_doc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok
        FROM toks GROUP BY doc_id
    ),
    first_occ AS (
        SELECT MIN(doc_id) AS first_doc FROM toks GROUP BY tok
    ),
    v_new AS (
        SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS v_new
        FROM first_occ GROUP BY first_doc
    ),
    cum AS (
        SELECT d.doc_id,
               CAST(SUM(d.n_tok) OVER (ORDER BY d.doc_id) AS BIGINT)
                   AS n_cum,
               CAST(SUM(COALESCE(v.v_new, 0)) OVER (ORDER BY d.doc_id)
                    AS BIGINT) AS v_cum
        FROM per_doc d LEFT JOIN v_new v ON v.doc_id = d.doc_id
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               {sql_term_sum("log10(CAST(n_cum AS DOUBLE))", 8)} AS sx,
               {sql_term_sum("log10(CAST(v_cum AS DOUBLE))", 8)} AS sy,
               {sql_term_sum(
                   "log10(CAST(n_cum AS DOUBLE))"
                   " * log10(CAST(n_cum AS DOUBLE))", 8)} AS sxx,
               {sql_term_sum(
                   "log10(CAST(v_cum AS DOUBLE))"
                   " * log10(CAST(v_cum AS DOUBLE))", 8)} AS syy,
               {sql_term_sum(
                   "log10(CAST(n_cum AS DOUBLE))"
                   " * log10(CAST(v_cum AS DOUBLE))", 8)} AS sxy
        FROM cum WHERE n_cum > 0 AND v_cum > 0
    )
    SELECT n AS n_docs,
           CAST({sql_portable_round(
               "(n * sxy - sx * sy) / (n * sxx - sx * sx)", 6)} AS DOUBLE)
               AS heaps_beta,
           CAST({sql_portable_round(
               "pow(10.0, (sy - (n * sxy - sx * sy)"
               " / (n * sxx - sx * sx) * sx) / n)", 6)} AS DOUBLE)
               AS heaps_k,
           CAST({sql_portable_round(
               "(n * sxy - sx * sy) * (n * sxy - sx * sy)"
               " / ((n * sxx - sx * sx) * (n * syy - sy * sy))", 6)}
               AS DOUBLE) AS r2
    FROM s
    """,
)
def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit: reading the corpus in doc_id
    order, V(N) ≈ K·N^β relates cumulative vocabulary V to cumulative
    tokens N; β (typically 0.4–0.6 for natural text) is the growth
    exponent a corpus-budget plan extrapolates from. Per-doc token counts
    and per-doc NEW-vocabulary counts (each token attributed to its
    min-doc_id first occurrence) reduce the problem to one checkpoint row
    per document; both cumulative series come from the range-partitioned
    global_prefix_sum (operators/rank.py — no single-reducer window), and
    the β/K/r² OLS runs on 8dp-rounded log terms in exact DECIMAL.
    Scale: token explode + two doc-count-sized prefix sums; the corpus
    never passes through a global window."""
    from stockmarketdata_dwb_etl_spark.operators.rank import global_prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("tok")
    )
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tok")
    )
    v_new = (
        toks.groupBy("tok")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("v_new"))
    )
    base = per_doc.join(v_new, "doc_id", "left").select(
        "doc_id",
        "n_tok",
        F.coalesce(F.col("v_new"), F.lit(0)).cast("bigint").alias("v_new"),
    )
    cum = global_prefix_sum(base, "n_tok", ["doc_id"], out="n_pre")
    cum = global_prefix_sum(cum, "v_new", ["doc_id"], out="v_pre")
    cum = cum.select(
        (F.col("n_pre") + F.col("n_tok")).cast("bigint").alias("n_cum"),
        (F.col("v_pre") + F.col("v_new")).cast("bigint").alias("v_cum"),
    ).filter((F.col("n_cum") > 0) & (F.col("v_cum") > 0))
    x = F.log10(F.col("n_cum").cast("double"))
    y = F.log10(F.col("v_cum").cast("double"))
    s = cum.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        term_sum(x, 8).alias("sx"),
        term_sum(y, 8).alias("sy"),
        term_sum(x * x, 8).alias("sxx"),
        term_sum(y * y, 8).alias("syy"),
        term_sum(x * y, 8).alias("sxy"),
    )
    n = F.col("n")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov / vx
    return s.select(
        n.alias("n_docs"),
        portable_round(slope, 6).cast("double").alias("heaps_beta"),
        portable_round(
            F.pow(F.lit(10.0), (F.col("sy") - slope * F.col("sx")) / n), 6
        )
        .cast("double")
        .alias("heaps_k"),
        portable_round(cov * cov / (vx * vy), 6).cast("double").alias("r2"),
    )


# ---------------------------------------------------------------------------
# Split / sampling utilities
# ---------------------------------------------------------------------------


@query(
    "q_group_kfold",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, source,
               len({sql_tokenize("text")})
                   AS n_tok,
               {_duck_md5_int("source", 5)} % 5 AS fold
        FROM documents
    ),
    tot AS (SELECT CAST(SUM(n_tok) AS DOUBLE) AS all_tok FROM d)
    SELECT CAST(fold AS BIGINT) AS fold,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST({sql_portable_round(
               "CAST(SUM(n_tok) AS DOUBLE) / MAX(tot.all_tok)", 6)}
               AS DOUBLE) AS token_share
    FROM d CROSS JOIN tot
    GROUP BY fold ORDER BY fold
    """,
)
def q_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware k-fold assignment: the fold is a pure function of the
    GROUP key (md5(source) mod 5, the engine-portable hash), so all
    documents of one source land in one fold BY CONSTRUCTION — the
    leakage-safe cross-validation split (row-hash splits like
    q_hash_split scatter a source's near-identical docs across folds and
    inflate eval scores). Emits the fold balance report (docs, distinct
    sources, tokens, token share) a split audit publishes. Scale:
    map-side fold assignment, one hash-agg, one 1-row total broadcast —
    no shuffle beyond the 5-key agg."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.size(tokenize(F.col("text"))).cast("bigint").alias("n_tok"),
        (_md5_int(F.col("source"), 5) % 5).alias("fold"),
    )
    tot = d.agg(F.sum("n_tok").cast("double").alias("all_tok"))
    return (
        d.crossJoin(F.broadcast(tot))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            portable_round(
                F.sum("n_tok").cast("double") / F.max("all_tok"), 6
            )
            .cast("double")
            .alias("token_share"),
        )
        .select(
            F.col("fold").cast("bigint").alias("fold"),
            "n_docs",
            "n_sources",
            "n_tokens",
            "token_share",
        )
        .orderBy("fold")
    )


_NEG_K = 4


@query(
    "q_negative_sampling",
    oracle=f"""
    WITH n AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
    ),
    anchors AS (
        SELECT doc_id AS anchor_id,
               (doc_id + 1) % n.n_docs AS pos_id, n.n_docs
        FROM documents CROSS JOIN n
        WHERE doc_id % 50 = 0
    ),
    drawn AS (
        SELECT anchor_id, pos_id, j.j,
               {_duck_md5_int(
                   "CAST(anchor_id AS VARCHAR) || ':' ||"
                   " CAST(j.j AS VARCHAR)", 8)} % n_docs AS neg_id
        FROM anchors,
             LATERAL (SELECT UNNEST(generate_series(1, {_NEG_K})) AS j) j
    )
    SELECT CAST(anchor_id AS BIGINT) AS anchor_id,
           CAST(pos_id AS BIGINT) AS pos_id,
           CAST(j AS BIGINT) AS draw_idx,
           CAST(neg_id AS BIGINT) AS neg_id
    FROM drawn
    WHERE neg_id <> anchor_id AND neg_id <> pos_id
    ORDER BY anchor_id, draw_idx
    """,
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training pairs:
    every 50th document anchors a (anchor, positive = next doc) pair and
    draws {_NEG_K} pseudo-random negatives via the engine-portable md5
    hash of (anchor_id, draw index) mod corpus size — bit-reproducible
    on both engines and across reruns, unlike rand()-based samplers.
    Draws colliding with the anchor or positive are dropped (the
    standard rejection rule; deterministic, so both engines drop the
    same rows). doc_ids are contiguous 0..n−1 in the fixtures, so mod n
    always lands on a real document — at scale the mod target is the
    dense row_number the corpus snapshot carries. Scale: map-side draw
    expansion (k rows per anchor) + one 1-row count broadcast; no
    shuffle, no corpus join."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    anchors = (
        docs.filter(F.col("doc_id") % 50 == 0)
        .select("doc_id")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("doc_id").alias("anchor_id"),
            ((F.col("doc_id") + 1) % F.col("n_docs")).alias("pos_id"),
            "n_docs",
        )
    )
    drawn = anchors.select(
        "anchor_id",
        "pos_id",
        F.explode(F.array(*[F.lit(j) for j in range(1, _NEG_K + 1)])).alias(
            "j"
        ),
        "n_docs",
    ).select(
        "anchor_id",
        "pos_id",
        F.col("j").cast("bigint").alias("draw_idx"),
        (
            _md5_int(
                F.concat(
                    F.col("anchor_id").cast("string"),
                    F.lit(":"),
                    F.col("j").cast("string"),
                ),
                8,
            )
            % F.col("n_docs")
        ).alias("neg_id"),
    )
    return (
        drawn.filter(
            (F.col("neg_id") != F.col("anchor_id"))
            & (F.col("neg_id") != F.col("pos_id"))
        )
        .select(
            F.col("anchor_id").cast("bigint").alias("anchor_id"),
            F.col("pos_id").cast("bigint").alias("pos_id"),
            "draw_idx",
            F.col("neg_id").cast("bigint").alias("neg_id"),
        )
        .orderBy("anchor_id", "draw_idx")
    )
