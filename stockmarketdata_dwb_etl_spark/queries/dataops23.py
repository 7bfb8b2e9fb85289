"""Round-12 operator batch 5: sequential experimentation, revenue
retention accounting, phonetic blocking, and robust vector centroids.

- SPRT A/B monitoring: Wald's sequential probability ratio test over
  the day-ordered conversion stream — the always-valid stopping rule
  that replaces fixed-horizon peeking (the experimentation tier beside
  q_cuped_adjustment / q_diff_in_diff).
- Net revenue retention waterfall: per-month expansion / contraction /
  churn decomposition over the prior month's customer base — the SaaS
  revenue accounting identity, in exact DECIMAL cents.
- Phonetic-key blocking dedup: a fixed Soundex-style consonant-class
  key (implemented IDENTICALLY on both engines — no engine builtin)
  blocks candidate part-name pairs, edit-distance verifies — the
  phonetic variant beside q_record_linkage's exact-field blocks and
  q_dedup_blocked_edit's prefix blocks.
- Geometric median: Weiszfeld iteration over the embedding table —
  the outlier-robust centroid used for embedding aggregation where
  the mean is dragged by contamination.

Reference scope: the reference's BigQuery tier is the analytics
surface these extend (dump_bigq.py:135-149 delegates all querying).

Determinism: trials/conversions/revenue are exact integers/DECIMALs;
LLR and Weiszfeld steps round per superstep on identical trees; the
phonetic key is pure string algebra (translate + bounded replace
passes); every Σ routes through term_sum at magnitude-bounded digits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    sql_portable_round,
    sql_term_sum,
    term_sum,
)
from stockmarketdata_dwb_etl_spark.functions.text import sql_tokenize, tokenize
from stockmarketdata_dwb_etl_spark.registry import query

# ---------------------------------------------------------------------------
# SPRT A/B monitoring
# ---------------------------------------------------------------------------

_SPRT_P0 = 0.10
_SPRT_P1 = 0.14
_SPRT_ALPHA = 0.05
_SPRT_BETA = 0.05


@query(
    "q_sprt_ab",
    oracle=f"""
    WITH trials AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                          THEN user_id END) AS BIGINT) AS c
        FROM events WHERE user_id % 2 = 1
        GROUP BY 1
    ),
    cum AS (
        SELECT day,
               CAST(SUM(n) OVER (ORDER BY day) AS BIGINT) AS cum_n,
               CAST(SUM(c) OVER (ORDER BY day) AS BIGINT) AS cum_c
        FROM trials
    ),
    scored AS (
        SELECT day, cum_n, cum_c,
               {sql_portable_round(
                   f"cum_c * LN({_SPRT_P1} / {_SPRT_P0})"
                   f" + (cum_n - cum_c)"
                   f" * LN((1.0 - {_SPRT_P1}) / (1.0 - {_SPRT_P0}))", 6)}
                   AS llr
        FROM cum
    ),
    flagged AS (
        SELECT day, cum_n, cum_c, llr,
               CASE WHEN llr >= LN((1.0 - {_SPRT_BETA}) / {_SPRT_ALPHA})
                        THEN 'accept_h1'
                    WHEN llr <= LN({_SPRT_BETA} / (1.0 - {_SPRT_ALPHA}))
                        THEN 'accept_h0'
                    ELSE 'continue' END AS state
        FROM scored
    )
    SELECT day, cum_n, cum_c, CAST(llr AS DOUBLE) AS llr, state,
           (state <> 'continue'
            AND row_number() OVER (
                ORDER BY CASE WHEN state <> 'continue' THEN 0 ELSE 1 END,
                         day) = 1) AS first_decision
    FROM flagged ORDER BY day
    """,
)
def q_sprt_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald sequential probability ratio test on the B-variant's daily
    conversion stream (odd user_ids; converted = any purchase that
    day): cumulative LLR of H1 p={_SPRT_P1} vs H0 p={_SPRT_P0} with
    α=β={_SPRT_ALPHA} boundaries, each day labeled continue /
    accept_h1 / accept_h0 and the FIRST boundary crossing flagged —
    the always-valid sequential monitor that makes daily peeking
    legitimate (fixed-horizon tests invalidate themselves when peeked
    at). Daily trial/conversion counts are exact distinct-user
    integers; the LLR is two integer-scaled ln constants (identical
    literals both engines) rounded 6dp; cumulative sums are
    day-window-ordered integers. Scale: one (day)-keyed distinct agg;
    the cumulative window runs over the calendar-bounded day grid."""
    ev = load_table(spark, sf_dir, "events")
    trials = (
        ev.filter(F.col("user_id") % 2 == 1)
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n"),
            F.countDistinct(
                F.when(F.col("event_type") == "purchase", F.col("user_id"))
            )
            .cast("bigint")
            .alias("c"),
        )
    )
    wd = Window.orderBy("day")
    cum = trials.select(
        "day",
        F.sum("n").over(wd).cast("bigint").alias("cum_n"),
        F.sum("c").over(wd).cast("bigint").alias("cum_c"),
    )
    import math

    llr = portable_round(
        F.col("cum_c") * F.lit(math.log(_SPRT_P1 / _SPRT_P0))
        + (F.col("cum_n") - F.col("cum_c"))
        * F.lit(math.log((1.0 - _SPRT_P1) / (1.0 - _SPRT_P0))),
        6,
    )
    up = math.log((1.0 - _SPRT_BETA) / _SPRT_ALPHA)
    lo = math.log(_SPRT_BETA / (1.0 - _SPRT_ALPHA))
    scored = cum.select("day", "cum_n", "cum_c", llr.alias("llr"))
    state = (
        F.when(F.col("llr") >= F.lit(up), F.lit("accept_h1"))
        .when(F.col("llr") <= F.lit(lo), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
    )
    flagged = scored.withColumn("state", state)
    wf = Window.orderBy(
        F.when(F.col("state") != "continue", 0).otherwise(1), "day"
    )
    return flagged.select(
        "day",
        "cum_n",
        "cum_c",
        F.col("llr").cast("double").alias("llr"),
        "state",
        (
            (F.col("state") != "continue")
            & (F.row_number().over(wf) == 1)
        ).alias("first_decision"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Net revenue retention waterfall
# ---------------------------------------------------------------------------


@query(
    "q_nrr_retention",
    oracle=f"""
    WITH cm AS (
        SELECT o_custkey AS cust, date_trunc('month', o_orderdate) AS m,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2)))
                    AS DECIMAL(38,2)) AS rev
        FROM orders GROUP BY 1, 2
    ),
    paired AS (
        SELECT COALESCE(b.m + INTERVAL 1 MONTH, a.m) AS m,
               COALESCE(a.rev, 0) AS rev_now,
               COALESCE(b.rev, 0) AS rev_prev,
               a.cust IS NOT NULL AS now_active,
               b.cust IS NOT NULL AS prev_active
        FROM cm a
        FULL JOIN cm b
          ON a.cust = b.cust AND a.m = b.m + INTERVAL 1 MONTH
    ),
    w AS (
        SELECT m,
               CAST(SUM(CASE WHEN prev_active THEN rev_prev ELSE 0 END)
                    AS DECIMAL(38,2)) AS starting_rev,
               CAST(SUM(CASE WHEN prev_active AND now_active
                             AND rev_now > rev_prev
                        THEN rev_now - rev_prev ELSE 0 END)
                    AS DECIMAL(38,2)) AS expansion,
               CAST(SUM(CASE WHEN prev_active AND now_active
                             AND rev_now < rev_prev
                        THEN rev_prev - rev_now ELSE 0 END)
                    AS DECIMAL(38,2)) AS contraction,
               CAST(SUM(CASE WHEN prev_active AND NOT now_active
                        THEN rev_prev ELSE 0 END)
                    AS DECIMAL(38,2)) AS churned,
               CAST(SUM(CASE WHEN now_active AND NOT prev_active
                        THEN rev_now ELSE 0 END)
                    AS DECIMAL(38,2)) AS new_rev
        FROM paired GROUP BY m
    )
    SELECT CAST(m AS DATE) AS month,
           CAST(starting_rev AS DOUBLE) AS starting_rev,
           CAST(expansion AS DOUBLE) AS expansion,
           CAST(contraction AS DOUBLE) AS contraction,
           CAST(churned AS DOUBLE) AS churned,
           CAST(new_rev AS DOUBLE) AS new_rev,
           CAST(CASE WHEN starting_rev = 0 THEN NULL ELSE
               {sql_portable_round(
                   "CAST(starting_rev + expansion - contraction - churned"
                   " AS DOUBLE) / CAST(starting_rev AS DOUBLE)", 6)} END
               AS DOUBLE) AS nrr
    FROM w WHERE starting_rev > 0 OR new_rev > 0
    ORDER BY month
    """,
)
def q_nrr_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net-revenue-retention waterfall per month: against the prior
    month's customer base, revenue splits EXACTLY into expansion
    (same customer, higher spend), contraction, churn (spent last
    month, nothing now), and new — NRR = (start + expansion −
    contraction − churn)/start, the SaaS revenue accounting identity
    (here over order revenue). Every component is an exact
    DECIMAL(38,2) cent sum — the identity holds to the cent, and the
    only double is the final NRR ratio (6dp, identical trees). Scale:
    one (customer, month) pre-agg shuffle, then a self-join on the
    customer key one month apart — both sides pre-aggregated,
    co-partitioned on the join key."""
    o = load_table(spark, sf_dir, "orders")
    cm = o.groupBy(
        F.col("o_custkey").alias("cust"),
        F.date_trunc("month", "o_orderdate").alias("m"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,2)"))
        .cast("decimal(38,2)")
        .alias("rev")
    )
    a = cm.select("cust", "m", F.col("rev").alias("rev_now"))
    b = cm.select(
        F.col("cust").alias("cust_b"),
        F.add_months(F.col("m"), 1).alias("m_b"),
        F.col("rev").alias("rev_prev"),
    )
    paired = a.join(
        b,
        (a["cust"] == b["cust_b"]) & (a["m"] == b["m_b"]),
        "full_outer",
    ).select(
        F.coalesce(F.col("m"), F.col("m_b")).alias("m"),
        F.coalesce(F.col("rev_now"), F.lit(0).cast("decimal(38,2)")).alias(
            "rev_now"
        ),
        F.coalesce(F.col("rev_prev"), F.lit(0).cast("decimal(38,2)")).alias(
            "rev_prev"
        ),
        F.col("cust").isNotNull().alias("now_active"),
        F.col("cust_b").isNotNull().alias("prev_active"),
    )
    dec0 = F.lit(0).cast("decimal(38,2)")
    w = paired.groupBy("m").agg(
        F.sum(F.when(F.col("prev_active"), F.col("rev_prev")).otherwise(dec0))
        .cast("decimal(38,2)")
        .alias("starting_rev"),
        F.sum(
            F.when(
                F.col("prev_active")
                & F.col("now_active")
                & (F.col("rev_now") > F.col("rev_prev")),
                F.col("rev_now") - F.col("rev_prev"),
            ).otherwise(dec0)
        )
        .cast("decimal(38,2)")
        .alias("expansion"),
        F.sum(
            F.when(
                F.col("prev_active")
                & F.col("now_active")
                & (F.col("rev_now") < F.col("rev_prev")),
                F.col("rev_prev") - F.col("rev_now"),
            ).otherwise(dec0)
        )
        .cast("decimal(38,2)")
        .alias("contraction"),
        F.sum(
            F.when(
                F.col("prev_active") & ~F.col("now_active"),
                F.col("rev_prev"),
            ).otherwise(dec0)
        )
        .cast("decimal(38,2)")
        .alias("churned"),
        F.sum(
            F.when(
                F.col("now_active") & ~F.col("prev_active"),
                F.col("rev_now"),
            ).otherwise(dec0)
        )
        .cast("decimal(38,2)")
        .alias("new_rev"),
    )
    nrr = (
        (
            F.col("starting_rev")
            + F.col("expansion")
            - F.col("contraction")
            - F.col("churned")
        ).cast("double")
        / F.col("starting_rev").cast("double")
    )
    return (
        w.filter((F.col("starting_rev") > 0) | (F.col("new_rev") > 0))
        .select(
            F.col("m").cast("date").alias("month"),
            F.col("starting_rev").cast("double").alias("starting_rev"),
            F.col("expansion").cast("double").alias("expansion"),
            F.col("contraction").cast("double").alias("contraction"),
            F.col("churned").cast("double").alias("churned"),
            F.col("new_rev").cast("double").alias("new_rev"),
            F.when(
                F.col("starting_rev") == 0, F.lit(None).cast("double")
            )
            .otherwise(portable_round(nrr, 6))
            .cast("double")
            .alias("nrr"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Phonetic-key blocking dedup
# ---------------------------------------------------------------------------

_PH_SRC = "BFPVCGJKQSXZDTLMNR"
_PH_DST = "111122222222334556"


def _duck_phonetic(expr: str) -> str:
    """Fixed Soundex-style key, pure string algebra (NO engine builtin
    — DuckDB has none and Spark's soundex edge cases would not match a
    reimplementation): uppercase, keep the first letter, map consonant
    classes to digits, DELETE vowels+HWY (so vowel typos cannot change
    the key), collapse runs with three fixed replace passes per digit
    (handles runs ≤ 8), pad to first-letter + 3 digits."""
    u = f"upper({expr})"
    mapped = (
        f"translate(translate(substr({u}, 2), '{_PH_SRC}', '{_PH_DST}'),"
        f" 'AEIOUHWY', '')"
    )
    s = mapped
    for d in "123456":
        for _ in range(3):
            s = f"replace({s}, '{d}{d}', '{d}')"
    return f"(substr({u}, 1, 1) || substr(rpad({s}, 3, '0'), 1, 3))"


def _spark_phonetic(col: Column) -> Column:
    """Spark twin of :func:`_duck_phonetic` (same algebra)."""
    u = F.upper(col)
    s = F.translate(
        F.translate(F.substring(u, 2, 1_000_000), _PH_SRC, _PH_DST),
        "AEIOUHWY",
        "",
    )
    for d in "123456":
        for _ in range(3):
            s = F.replace(s, F.lit(d + d), F.lit(d))
    return F.concat(
        F.substring(u, 1, 1), F.substring(F.rpad(s, 3, "0"), 1, 3)
    )


@query(
    "q_dedup_phonetic",
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               {sql_tokenize("text")}[1] AS w1
        FROM documents
    ),
    planted AS (
        SELECT doc_id + 3000000 AS doc_id,
               translate(w1, 'aeiou', 'eioua') AS w1
        FROM base WHERE doc_id % 10 = 0
    ),
    bk AS (SELECT doc_id, w1, {_duck_phonetic("w1")} AS pkey FROM base),
    pk AS (SELECT doc_id, w1, {_duck_phonetic("w1")} AS pkey FROM planted)
    SELECT b.doc_id AS src_id, p.doc_id AS dup_id, b.pkey,
           CAST(levenshtein(b.w1, p.w1) AS BIGINT) AS edit_dist
    FROM bk b JOIN pk p ON b.pkey = p.pkey
    WHERE levenshtein(b.w1, p.w1) <= 3
      AND b.doc_id = p.doc_id - 3000000
    ORDER BY src_id
    """,
)
def q_dedup_phonetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic-key blocking dedup: every 10th document gets a planted
    vowel-rotated twin of its first word (a systematic typo an EXACT
    blocking key can never match), the vowel-insensitive consonant-
    class key blocks base×planted candidates, and edit distance ≤ 3
    verifies — the phonetic variant beside q_record_linkage's exact
    blocks and q_dedup_blocked_edit's prefix blocks, recovering
    exactly the typo'd twins whose words carry ≤ 3 vowels. The key is
    the SAME pure string algebra on both engines (translate + bounded
    replace passes — no engine soundex builtin, whose edge cases would
    desynchronize). Scale: candidates join only on the phonetic block
    key (never all pairs); verify runs on block-join survivors."""
    docs = load_table(spark, sf_dir, "documents")
    w1 = tokenize(F.col("text")).getItem(0)
    base = docs.select("doc_id", w1.alias("w1"))
    planted = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.translate("w1", "aeiou", "eioua").alias("w1"),
    )
    bk = base.select(
        "doc_id", "w1", _spark_phonetic(F.col("w1")).alias("pkey")
    )
    pk = planted.select(
        F.col("doc_id").alias("p_id"),
        F.col("w1").alias("p_w1"),
        _spark_phonetic(F.col("w1")).alias("pkey"),
    )
    return (
        bk.join(pk, "pkey")
        .filter(
            (F.levenshtein("w1", "p_w1") <= 3)
            & (F.col("doc_id") == F.col("p_id") - 3_000_000)
        )
        .select(
            F.col("doc_id").alias("src_id"),
            F.col("p_id").alias("dup_id"),
            "pkey",
            F.levenshtein("w1", "p_w1").cast("bigint").alias("edit_dist"),
        )
        .orderBy("src_id")
    )


# ---------------------------------------------------------------------------
# Geometric median (Weiszfeld)
# ---------------------------------------------------------------------------

_GM_ITERS = 4
_GM_EPS = 1e-6


def _duck_gm_iter(rnd: int) -> str:
    """One Weiszfeld step: d_i = ||v_i − c||₂ (10dp, clamped ≥ eps),
    w = 1/d, new c = per-dim Σw·v / Σw (8dp DECIMAL sums, 10dp round)."""
    prev = f"c{rnd - 1}"
    return f"""
    dw{rnd} AS (
        SELECT e.vec_id, e.v,
               1.0 / greatest({sql_portable_round(
                   "sqrt(list_reduce(list_transform("
                   "generate_series(1, len(e.v)),"
                   " i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i])),"
                   " (x, y) -> x + y))", 10)}, {_GM_EPS}) AS w
        FROM ev e CROSS JOIN {prev} c
    ),
    sw{rnd} AS (SELECT {sql_term_sum("w", 8)} AS swt FROM dw{rnd}),
    cent{rnd} AS (
        SELECT u.idx,
               {sql_portable_round(
                   f"({sql_term_sum('d.w * d.v[u.idx]', 8)}) / MAX(s.swt)", 10)}
                   AS mu
        FROM dw{rnd} d
        CROSS JOIN (SELECT UNNEST(generate_series(1, 64)) AS idx) u
        CROSS JOIN sw{rnd} s
        GROUP BY u.idx
    ),
    c{rnd} AS (SELECT list(mu ORDER BY idx) AS c FROM cent{rnd})"""


@query(
    "q_geometric_median",
    oracle=f"""
    WITH ev AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    ex AS (
        SELECT u.idx, CAST(u.val AS DOUBLE) AS val
        FROM embeddings,
             LATERAL (SELECT UNNEST(generate_series(1, len(embedding)))
                          AS idx,
                      UNNEST(CAST(embedding AS DOUBLE[])) AS val) u
    ),
    cent0 AS (
        SELECT idx, {sql_portable_round(
            f"({sql_term_sum('val', 12)}) / COUNT(*)", 10)} AS mu
        FROM ex GROUP BY idx
    ),
    c0 AS (SELECT list(mu ORDER BY idx) AS c FROM cent0),
    {",".join(_duck_gm_iter(r) for r in range(1, _GM_ITERS + 1))}
    SELECT CAST(m.idx AS BIGINT) AS dim,
           CAST({sql_portable_round("m.mu", 6)} AS DOUBLE) AS mean_coord,
           CAST({sql_portable_round("g.mu", 6)} AS DOUBLE) AS gm_coord,
           CAST({sql_portable_round("g.mu - m.mu", 6)} AS DOUBLE) AS shift
    FROM cent0 m JOIN cent{_GM_ITERS} g ON g.idx = m.idx
    ORDER BY dim
    """,
)
def q_geometric_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric median of the embedding cloud via {_GM_ITERS}
    Weiszfeld supersteps from the per-dimension mean: c ← Σ v/d / Σ
    1/d with d = ‖v−c‖₂ — the outlier-ROBUST centroid (minimizes Σ
    distances, not Σ squared distances) used to aggregate embeddings
    under contamination, reported per dimension beside the mean and
    the shift between them. Distances round 10dp and clamp at
    {_GM_EPS} (identical trees); weights w ≤ 1/eps bound the 8dp
    DECIMAL weighted sums; the centroid re-rounds 10dp every step so
    both engines iterate on bit-identical vectors. Scale: each step is
    ONE broadcast of the 64-value centroid + a map-side distance pass
    + a d-keyed agg — no pairwise anything; iterations are a fixed
    constant."""
    from stockmarketdata_dwb_etl_spark.functions.vectors import spread_rows

    emb = load_table(spark, sf_dir, "embeddings")
    # per-superstep distance folds + posexplode are CPU-bound: spread a
    # split-starved small scan across cores (no-op at scale). The
    # in-agg Σw below equals the oracle's global Σw because vectors are
    # fixed-width (the q_whitening_stats n-contract).
    ev = spread_rows(
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    ex = ev.select(
        "vec_id", F.posexplode("v").alias("idx0", "val")
    ).select((F.col("idx0") + 1).alias("idx"), "val")
    cent0 = ex.groupBy("idx").agg(
        portable_round(term_sum(F.col("val"), 12) / F.count(F.lit(1)), 10).alias(
            "mu"
        )
    )

    def to_vec(cent: DataFrame) -> DataFrame:
        return cent.groupBy().agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("idx"), F.col("mu")))
                ),
                lambda s: s.getField("mu"),
            ).alias("c")
        )

    # Lazy superstep chaining (r12 verdict: 5 sequential Weiszfeld
    # barriers at ~0.75 s/barrier): each level's 64-value centroid is a
    # BROADCAST subtree of the next level's plan instead of an eagerly
    # checkpointed intermediate, so the whole iteration plans as ONE
    # action — the broadcast builds still sequence (level k+1's weights
    # need level k's centroid; that dependency is Weiszfeld itself) but
    # the per-superstep driver round-trip / job barrier disappears. The
    # ev subtree repeats once per level in the plan and ReuseExchange
    # collapses the repeated scan+spread exchange.
    c = to_vec(cent0)
    cent = cent0
    for _ in range(_GM_ITERS):
        d2 = F.aggregate(
            F.zip_with(
                "v", "c", lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        dw = ev.crossJoin(F.broadcast(c)).select(
            "vec_id",
            "v",
            (
                F.lit(1.0)
                / F.greatest(
                    portable_round(F.sqrt(d2), 10), F.lit(_GM_EPS)
                )
            ).alias("w"),
        )
        # ONE pass per superstep: Σw is per-VECTOR, so with fixed-width
        # vectors every dimension sees exactly the same weight terms —
        # summing w inside the per-idx aggregation yields the identical
        # exact-DECIMAL Σw (order-independent) as the previous separate
        # global agg, which re-ran the whole distance pass to build a
        # broadcast (measured: 2 full ev scans + distance folds per
        # superstep → 1)
        cent = (
            dw.select("w", F.posexplode("v").alias("idx0", "val"))
            .select((F.col("idx0") + 1).alias("idx"), "w", "val")
            .groupBy("idx")
            .agg(
                term_sum(F.col("w") * F.col("val"), 8).alias("swv"),
                term_sum(F.col("w"), 8).alias("swt"),
            )
            .select(
                "idx",
                portable_round(F.col("swv") / F.col("swt"), 10).alias("mu"),
            )
        )
        c = to_vec(cent)
    m0 = cent0.select(
        F.col("idx").alias("dim"), F.col("mu").alias("mean_mu")
    )
    return (
        m0.join(
            cent.select(F.col("idx").alias("dim"), F.col("mu").alias("gm_mu")),
            "dim",
        )
        .select(
            F.col("dim").cast("bigint").alias("dim"),
            portable_round(F.col("mean_mu"), 6)
            .cast("double")
            .alias("mean_coord"),
            portable_round(F.col("gm_mu"), 6).cast("double").alias("gm_coord"),
            portable_round(F.col("gm_mu") - F.col("mean_mu"), 6)
            .cast("double")
            .alias("shift"),
        )
        .orderBy("dim")
    )
