"""Analysis and curation operators, part 18 (round 11, batch 2).

- Mann–Kendall trend test (Mann 1945; Kendall 1975): the standard
  nonparametric monotonic-trend detector — integer S statistic over all
  ordered pairs, tie-corrected variance, normal Z. The robust
  complement to OLS slopes for drift monitoring.
- Interpolated Kneser–Ney bigram LM (Kneser & Ney 1995): absolute
  discounting with CONTINUATION-count backoff — the smoothing that
  made count LMs competitive, beside the add-one baselines of
  q_lm_score/q_lm_cross_split.
- Personalized PageRank (Haveliwala 2002): random walk with restart to
  a seed node — "similar to THIS item" ranking, the recommendation
  twin of the global q_pagerank_iter.
- Hampel filter (Hampel 1974): rolling window-median ± k·MAD spike
  detection — the robust despiker, entirely in exact array order
  statistics.
- Jensen–Shannon divergence between per-source unigram distributions:
  the bounded symmetric corpus-similarity measure used for mixture
  planning (which sources are near-duplicates of each other in
  distribution).
- TwoNN intrinsic dimension (Facco et al. 2017): the embedding-manifold
  dimension estimate from first/second neighbor distance ratios —
  the capacity diagnostic run before choosing projection sizes.

Determinism: Mann–Kendall S and tie terms are exact integers;
KN probabilities are ratios of exact counts with a literal discount;
PPR ranks round at 12dp every superstep; Hampel medians/MADs are exact
order statistics of per-window ARRAYS (no engine median variance);
JS/TwoNN sums are 12dp round-then-DECIMAL over bounded terms; every
rank/argmax orders by a rounded key with an id tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.bars import (
    close_tick,
    ohlcv_bars,
    sql_close_tick,
    sql_ohlcv_bars,
)
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    sql_portable_round,
    sql_term_sum,
    term_sum,
)
from stockmarketdata_dwb_etl_spark.functions.text import sql_tokenize, tokenize
from stockmarketdata_dwb_etl_spark.registry import query

# ---------------------------------------------------------------------------
# Mann–Kendall trend test
# ---------------------------------------------------------------------------


@query(
    "q_mann_kendall",
    oracle=f"""
    WITH bars AS (
        SELECT event_type AS symbol, CAST(ts AS DATE) AS day,
               {sql_close_tick()} AS close
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT a.symbol,
               CAST(SUM(CASE WHEN b.close > a.close THEN 1
                             WHEN b.close < a.close THEN -1
                             ELSE 0 END) AS BIGINT) AS s_stat
        FROM bars a JOIN bars b
          ON a.symbol = b.symbol AND a.day < b.day
        GROUP BY a.symbol
    ),
    n AS (
        SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n FROM bars
        GROUP BY symbol
    ),
    ties AS (
        SELECT symbol,
               CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
                   AS tie_term
        FROM (
            SELECT symbol, close, CAST(COUNT(*) AS BIGINT) AS t
            FROM bars GROUP BY symbol, close
        ) WHERE t > 1
        GROUP BY symbol
    ),
    z AS (
        SELECT n.symbol, n.n, s.s_stat,
               (CAST(n.n * (n.n - 1) * (2 * n.n + 5)
                     - COALESCE(t.tie_term, 0) AS DOUBLE)) / 18.0 AS var_s
        FROM n JOIN s ON s.symbol = n.symbol
        LEFT JOIN ties t ON t.symbol = n.symbol
    )
    SELECT symbol, n AS n_days, s_stat,
           CAST({sql_portable_round("var_s", 4)} AS DOUBLE) AS var_s,
           CAST(CASE WHEN var_s <= 0 THEN NULL
                WHEN s_stat > 0 THEN {sql_portable_round(
                    "(s_stat - 1.0) / sqrt(var_s)", 6)}
                WHEN s_stat < 0 THEN {sql_portable_round(
                    "(s_stat + 1.0) / sqrt(var_s)", 6)}
                ELSE 0.0 END AS DOUBLE) AS z_stat,
           CASE WHEN s_stat > 0 THEN 'up'
                WHEN s_stat < 0 THEN 'down' ELSE 'flat' END AS trend
    FROM z ORDER BY symbol
    """,
)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotonic-trend test per symbol on daily closes:
    S = Σ over i<j of sign(x_j − x_i) (an exact INTEGER — no float enters
    until the final Z), tie-corrected variance
    [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18, and the continuity-corrected
    normal Z — the robust drift detector that needs no distributional
    assumptions and ignores outlier magnitude entirely. Scale: the
    pair join keys on symbol with a day inequality; per-symbol day
    counts are CALENDAR-BOUNDED (~150 here at any sf), so the n²
    fan-out is a bounded constant per symbol, never corpus-sized."""
    ev = load_table(spark, sf_dir, "events")
    bars = ev.groupBy(
        F.col("event_type").alias("symbol"),
        F.col("ts").cast("date").alias("day"),
    ).agg(close_tick().alias("close"))
    a = bars.select("symbol", F.col("day").alias("da"), F.col("close").alias("ca"))
    b = bars.select(
        F.col("symbol").alias("sb"),
        F.col("day").alias("db"),
        F.col("close").alias("cb"),
    )
    s = (
        a.join(b, (a["symbol"] == b["sb"]) & (a["da"] < b["db"]))
        .groupBy("symbol")
        .agg(
            F.sum(
                F.when(F.col("cb") > F.col("ca"), 1)
                .when(F.col("cb") < F.col("ca"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    n = bars.groupBy("symbol").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    t = F.col("t")
    ties = (
        bars.groupBy("symbol", "close")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .filter(t > 1)
        .groupBy("symbol")
        .agg(
            F.coalesce(F.sum(t * (t - 1) * (2 * t + 5)), F.lit(0))
            .cast("bigint")
            .alias("tie_term")
        )
    )
    nn = F.col("n")
    var_s = (
        nn * (nn - 1) * (2 * nn + 5) - F.coalesce(F.col("tie_term"), F.lit(0))
    ).cast("double") / F.lit(18.0)
    z = (
        n.join(s, "symbol")
        .join(ties, "symbol", "left")
        .select("symbol", "n", "s_stat", var_s.alias("var_s"))
    )
    ss = F.col("s_stat")
    return z.select(
        "symbol",
        F.col("n").alias("n_days"),
        "s_stat",
        portable_round(F.col("var_s"), 4).cast("double").alias("var_s"),
        F.when(F.col("var_s") <= 0, F.lit(None).cast("double"))
        .when(
            ss > 0,
            portable_round((ss - 1.0) / F.sqrt(F.col("var_s")), 6),
        )
        .when(
            ss < 0,
            portable_round((ss + 1.0) / F.sqrt(F.col("var_s")), 6),
        )
        .otherwise(F.lit(0.0))
        .cast("double")
        .alias("z_stat"),
        F.when(ss > 0, F.lit("up"))
        .when(ss < 0, F.lit("down"))
        .otherwise(F.lit("flat"))
        .alias("trend"),
    ).orderBy("symbol")


# ---------------------------------------------------------------------------
# Interpolated Kneser–Ney bigram LM
# ---------------------------------------------------------------------------

_KN_D = 0.75


@query(
    "q_kneser_ney_lm",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, u.t, u.i
        FROM (SELECT doc_id, lang,
                     {sql_tokenize("text")} AS w
              FROM documents),
             LATERAL (SELECT UNNEST(w) AS t,
                             UNNEST(generate_series(1, len(w))) AS i) u
    ),
    big AS (
        SELECT a.doc_id, a.lang, a.t AS v, b.t AS w
        FROM toks a JOIN toks b
          ON b.doc_id = a.doc_id AND b.i = a.i + 1
    ),
    tr AS (SELECT v, w FROM big WHERE doc_id % 2 = 0),
    cvw AS (
        SELECT v, w, CAST(COUNT(*) AS BIGINT) AS c FROM tr GROUP BY v, w
    ),
    cv AS (SELECT v, CAST(SUM(c) AS BIGINT) AS cv FROM cvw GROUP BY v),
    fol AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS n_fol FROM cvw GROUP BY v
    ),
    pre AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n_pre FROM cvw GROUP BY w
    ),
    tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM cvw),
    val AS (SELECT lang, v, w FROM big WHERE doc_id % 2 = 1),
    scored AS (
        SELECT s.lang,
               CASE WHEN s.cv IS NULL OR s.cv = 0 THEN 1 ELSE 0 END
                   AS unseen_ctx,
               {sql_portable_round(
                   "ln(greatest("
                   " CASE WHEN s.cv IS NULL OR s.cv = 0"
                   "      THEN CAST(COALESCE(s.n_pre, 0) AS DOUBLE)"
                   "           / s.n_types"
                   "      ELSE greatest(COALESCE(s.c, 0) - " + str(_KN_D)
                   + ", 0.0) / s.cv + (" + str(_KN_D)
                   + " * s.n_fol / s.cv)"
                   " * (CAST(COALESCE(s.n_pre, 0) AS DOUBLE) / s.n_types)"
                   " END, 1e-10))", 12)} AS ll
        FROM (
            SELECT va.lang, cvw.c, cv.cv, fol.n_fol, pre.n_pre, tt.n_types
            FROM val va
            LEFT JOIN cvw ON cvw.v = va.v AND cvw.w = va.w
            LEFT JOIN cv ON cv.v = va.v
            LEFT JOIN fol ON fol.v = va.v
            LEFT JOIN pre ON pre.w = va.w
            CROSS JOIN tt
        ) s
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(unseen_ctx) AS BIGINT) AS n_unseen_ctx,
           CAST({sql_portable_round(
               f"CAST(SUM(CAST(ll AS DECIMAL(38,12))) AS DOUBLE)"
               " / COUNT(*)", 6)} AS DOUBLE) AS mean_ll
    FROM scored GROUP BY lang ORDER BY lang
    """,
)
def q_kneser_ney_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser–Ney bigram LM evaluation: train on even
    doc_ids, score odd doc_ids' bigrams per language. P(w|v) =
    max(c(vw)−d, 0)/c(v) + d·N₁₊(v·)/c(v) · N₁₊(·w)/T with d = 0.75 —
    the CONTINUATION-count backoff ("how many contexts has w followed")
    that fixes add-one's overestimate of frequent-but-context-bound
    words; unseen contexts back off to the continuation distribution
    outright, and a 1e-10 floor keeps the log finite for unseen words
    (counted separately). Every probability is a ratio of exact
    integer counts with a literal discount — identical doubles on both
    engines; per-bigram lls round at 12dp and accumulate in
    matching-scale DECIMAL. Scale: token bigrams generate map-side
    (posexplode + self-join on (doc, i+1), co-partitioned); the model
    tables are vocabulary-sized; scoring is a few broadcast-shaped
    joins keyed on token types."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.posexplode(tokenize("text")).alias("i0", "t"),
    ).select("doc_id", "lang", (F.col("i0") + 1).alias("i"), "t")
    a = toks.select("doc_id", "lang", "i", F.col("t").alias("v"))
    b = toks.select(
        F.col("doc_id").alias("d2"), F.col("i").alias("i2"), F.col("t").alias("w")
    )
    big = a.join(
        b, (a["doc_id"] == b["d2"]) & (b["i2"] == a["i"] + 1)
    ).select("doc_id", "lang", "v", "w")
    tr = big.filter(F.col("doc_id") % 2 == 0).select("v", "w")
    cvw = tr.groupBy("v", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cv = cvw.groupBy("v").agg(F.sum("c").cast("bigint").alias("cv"))
    fol = cvw.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fol")
    )
    pre = cvw.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pre")
    )
    tt = cvw.agg(F.count(F.lit(1)).cast("bigint").alias("n_types"))
    val = big.filter(F.col("doc_id") % 2 == 1).select("lang", "v", "w")
    s = (
        val.join(cvw, ["v", "w"], "left")
        .join(cv, "v", "left")
        .join(fol, "v", "left")
        .join(pre, "w", "left")
        .crossJoin(F.broadcast(tt))
    )
    pcont = F.coalesce(F.col("n_pre"), F.lit(0)).cast("double") / F.col(
        "n_types"
    )
    seen_p = (
        F.greatest(
            F.coalesce(F.col("c"), F.lit(0)) - F.lit(_KN_D), F.lit(0.0)
        )
        / F.col("cv")
        + (F.lit(_KN_D) * F.col("n_fol") / F.col("cv")) * pcont
    )
    unseen_ctx = F.col("cv").isNull() | (F.col("cv") == 0)
    p = F.when(unseen_ctx, pcont).otherwise(seen_p)
    scored = s.select(
        "lang",
        unseen_ctx.cast("int").alias("unseen_ctx"),
        portable_round(F.log(F.greatest(p, F.lit(1e-10))), 12).alias("ll"),
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("unseen_ctx").cast("bigint").alias("n_unseen_ctx"),
            portable_round(
                F.sum(F.col("ll").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            )
            .cast("double")
            .alias("mean_ll"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Personalized PageRank
# ---------------------------------------------------------------------------

_PPR_ITERS = 3
_PPR_RESTART = 0.2


def _duck_ppr_round(prev: str, out: str) -> str:
    return f"""
    {out} AS (
        SELECT n.node,
               CAST((CAST(floor(CAST(({_PPR_RESTART} * CASE WHEN n.node = sd.seed THEN 1.0 ELSE 0.0 END
                 + {1.0 - _PPR_RESTART} * COALESCE(c.s, 0)) AS DOUBLE) * 1000000000000.0 + 0.5) AS DOUBLE) / 1000000000000.0) AS DOUBLE)
                 AS rank
        FROM nodes n CROSS JOIN sd
        LEFT JOIN (
            SELECT e.dst,
                   CAST(SUM(CAST((CAST(floor(CAST((p.rank
                                 * (CAST(e.w AS DOUBLE) / d.wdeg))
                                 AS DOUBLE) * 1000000000000.0 + 0.5)
                                 AS DOUBLE) / 1000000000000.0)
                                 AS DECIMAL(38,12))) AS DOUBLE) AS s
            FROM edges e
            JOIN {prev} p ON p.node = e.src
            JOIN wdeg d ON d.src = e.src
            GROUP BY e.dst
        ) c ON c.dst = n.node
    )"""


@query(
    "q_ppr_seed",
    oracle=f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS ok, p_brand AS b
        FROM lineitem JOIN part ON p_partkey = l_partkey
    ),
    edges AS (
        SELECT a.b AS src, c.b AS dst, CAST(COUNT(*) AS BIGINT) AS w
        FROM basket a JOIN basket c ON a.ok = c.ok AND a.b <> c.b
        GROUP BY 1, 2
    ),
    wdeg AS (
        SELECT src, CAST(SUM(w) AS BIGINT) AS wdeg FROM edges GROUP BY src
    ),
    nodes AS (SELECT DISTINCT b AS node FROM basket),
    sd AS (SELECT MIN(node) AS seed FROM nodes),
    pr0 AS (
        SELECT n.node,
               CASE WHEN n.node = sd.seed THEN 1.0 ELSE 0.0 END AS rank
        FROM nodes n CROSS JOIN sd
    ),
    {_duck_ppr_round("pr0", "pr1")},
    {_duck_ppr_round("pr1", "pr2")},
    {_duck_ppr_round("pr2", "pr3")}
    SELECT node, CAST(rank AS DOUBLE) AS ppr
    FROM pr3
    ORDER BY ppr DESC, node LIMIT 10
    """,
)
def q_ppr_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the lexicographically-first brand:
    random walk with restart probability 0.2 pinned to the seed —
    "items similar to THIS one" proximity ranking (Haveliwala 2002),
    the recommendation twin of q_pagerank_iter's global centrality.
    Three supersteps from the seed indicator vector; contributions
    round at 12dp before the exact-DECIMAL in-sum and ranks round at
    12dp per superstep (the pagerank discipline), so walk mass is
    bit-identical across engines; top-10 by (rank, node). Runs on the
    shared :func:`queries.graph.in_sum_step`: each superstep is
    ONE per-node sum shuffle over the edge⋈rank messages; rank state is
    node-sized; the seed indicator is carried on the zero-message rows
    and restart is a map-side product."""
    from stockmarketdata_dwb_etl_spark.operators.iterate import iterate
    from stockmarketdata_dwb_etl_spark.queries.graph import _norm_graph, in_sum_step

    edges, nodes = _norm_graph(spark, sf_dir)
    # driver scalar: one job here instead of a global-min stage in every
    # superstep; the seed indicator rides on the zero-message rows
    seed = nodes.agg(F.min("node")).first()[0]
    base = nodes.select(
        "node",
        F.when(F.col("node") == F.lit(seed), F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("r"),
    )
    update = portable_round(
        F.lit(_PPR_RESTART) * F.col("r")
        + F.lit(1.0 - _PPR_RESTART) * F.col("s"),
        12,
    ).cast("double")
    ranks = base.select("node", F.col("r").alias("rank"))
    ranks = iterate(
        ranks, in_sum_step(edges, base, "rank", update), _PPR_ITERS, eager=False
    )
    return (
        ranks.orderBy(F.col("rank").desc(), "node")
        .limit(10)
        .select("node", F.col("rank").cast("double").alias("ppr"))
    )


# ---------------------------------------------------------------------------
# Hampel filter
# ---------------------------------------------------------------------------

_HAMPEL_K = 3.0
_HAMPEL_SCALE = 1.4826  # MAD → σ consistency constant for the normal


@query(
    "q_hampel_filter",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    arrs AS (
        SELECT symbol, bar_ts, close,
               list(close) OVER (PARTITION BY symbol ORDER BY bar_ts
                                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                   AS win
        FROM cbars
    ),
    st AS (
        SELECT symbol, bar_ts, close,
               list_sort(win)[4] AS med,
               list_sort(list_transform(win,
                   v -> abs(v - list_sort(win)[4])))[4] AS mad
        FROM arrs WHERE len(win) = 7
    ),
    fl AS (
        SELECT symbol, bar_ts, close, med, mad,
               {sql_portable_round("abs(close - med)", 8)}
                 > {sql_portable_round(
                     f"{_HAMPEL_K} * {_HAMPEL_SCALE} * mad", 8)}
                 AS flagged
        FROM st
    )
    SELECT symbol,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers,
           CAST({sql_portable_round(
               "MAX(CASE WHEN flagged THEN abs(close - med)"
               " ELSE NULL END)", 6)} AS DOUBLE) AS max_spike
    FROM fl GROUP BY symbol ORDER BY symbol
    """,
)
def q_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel spike filter over hourly closes: per 7-bar centered
    window, flag |x − median| > 3·1.4826·MAD — the robust despiker
    (a single spike cannot drag the median OR the MAD, unlike a z-score
    whose own σ the spike inflates). Median and MAD are EXACT order
    statistics of the per-window ARRAY (sorted-list element 4 of 7 —
    no engine-specific median interpolation anywhere), and the flag
    comparison runs on 8dp-rounded operands so a boundary value cannot
    flip per engine. Only full 7-bar windows are judged. Scale: one
    bar hash-agg + one symbol-partitioned 7-row sliding window — the
    array state is 7 elements per row regardless of data size."""
    ev = load_table(spark, sf_dir, "events")
    cbars = ohlcv_bars(ev, "hour", "close")
    w = (
        Window.partitionBy("symbol")
        .orderBy("bar_ts")
        .rowsBetween(-3, 3)
    )
    arrs = cbars.select(
        "symbol",
        "bar_ts",
        "close",
        F.collect_list("close").over(w).alias("win"),
    ).filter(F.size("win") == 7)
    med = F.element_at(F.array_sort("win"), 4)
    st = arrs.select(
        "symbol",
        "bar_ts",
        "close",
        med.alias("med"),
        F.element_at(
            F.array_sort(
                F.transform("win", lambda v: F.abs(v - med))
            ),
            4,
        ).alias("mad"),
    )
    flagged = portable_round(
        F.abs(F.col("close") - F.col("med")), 8
    ) > portable_round(
        F.lit(_HAMPEL_K * _HAMPEL_SCALE) * F.col("mad"), 8
    )
    fl = st.select("symbol", "close", "med", flagged.alias("flagged"))
    return (
        fl.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum(F.col("flagged").cast("int"))
            .cast("bigint")
            .alias("n_outliers"),
            portable_round(
                F.max(
                    F.when(
                        F.col("flagged"), F.abs(F.col("close") - F.col("med"))
                    )
                ),
                6,
            )
            .cast("double")
            .alias("max_spike"),
        )
        .orderBy("symbol")
    )


# ---------------------------------------------------------------------------
# Jensen–Shannon divergence between source unigram distributions
# ---------------------------------------------------------------------------

_JS_VOCAB = 200


@query(
    "q_js_divergence",
    oracle=f"""
    WITH words AS (
        SELECT source, unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    wc AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM words WHERE w <> '' GROUP BY source, w
    ),
    vocab AS (
        SELECT w FROM (
            SELECT w, CAST(SUM(c) AS BIGINT) AS g FROM wc GROUP BY w
            ORDER BY g DESC, w LIMIT {_JS_VOCAB}
        )
    ),
    tot AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS n
        FROM wc JOIN vocab USING (w) GROUP BY source
    ),
    p AS (
        SELECT t.source, v.w,
               CAST(COALESCE(wc.c, 0) AS DOUBLE) / t.n AS p
        FROM tot t CROSS JOIN vocab v
        LEFT JOIN wc ON wc.source = t.source AND wc.w = v.w
    ),
    pair_terms AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CASE WHEN a.p > 0
                    THEN 0.5 * a.p * ln(a.p / ((a.p + b.p) / 2.0))
                    ELSE 0.0 END
             + CASE WHEN b.p > 0
                    THEN 0.5 * b.p * ln(b.p / ((a.p + b.p) / 2.0))
                    ELSE 0.0 END AS term
        FROM p a JOIN p b ON a.w = b.w AND a.source < b.source
    )
    SELECT source_a, source_b,
           CAST({sql_portable_round(
               sql_term_sum("term", 12), 6)} AS DOUBLE) AS js_divergence
    FROM pair_terms
    GROUP BY source_a, source_b
    ORDER BY source_a, source_b
    """,
)
def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between every source pair's unigram
    distribution over the shared top-200 vocabulary — the
    bounded ([0, ln 2]) symmetric corpus-similarity measure mixture
    planning uses to spot distributionally-redundant sources (PSI and
    Wasserstein cover drift over time; JS covers pairwise source
    geometry). Probabilities are exact-count ratios renormalized over
    the capped vocabulary; per-word terms compute in the identical
    tree and accumulate via 12dp round-then-DECIMAL (|term| ≤ ln 2).
    Scale: one corpus word-count hash-agg; the pair table is
    |sources|²·200 rows — dimension-bounded forever."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(
            "source", F.explode(F.split("text", " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    vocab = (
        wc.groupBy("w")
        .agg(F.sum("c").cast("bigint").alias("g"))
        .orderBy(F.col("g").desc(), "w")
        .limit(_JS_VOCAB)
        .select("w")
    )
    wcv = wc.join(F.broadcast(vocab), "w")
    tot = wcv.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    p = (
        tot.crossJoin(F.broadcast(vocab))
        .join(wcv, ["source", "w"], "left")
        .select(
            "source",
            "w",
            (
                F.coalesce(F.col("c"), F.lit(0)).cast("double") / F.col("n")
            ).alias("p"),
        )
    )
    a = p.select(
        F.col("source").alias("source_a"), "w", F.col("p").alias("pa")
    )
    b = p.select(
        F.col("source").alias("source_b"),
        F.col("w").alias("wb"),
        F.col("p").alias("pb"),
    )
    m = (F.col("pa") + F.col("pb")) / F.lit(2.0)
    term = F.when(
        F.col("pa") > 0,
        F.lit(0.5) * F.col("pa") * F.log(F.col("pa") / m),
    ).otherwise(F.lit(0.0)) + F.when(
        F.col("pb") > 0,
        F.lit(0.5) * F.col("pb") * F.log(F.col("pb") / m),
    ).otherwise(F.lit(0.0))
    return (
        a.join(
            b,
            (F.col("w") == F.col("wb"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .select("source_a", "source_b", term.alias("term"))
        .groupBy("source_a", "source_b")
        .agg(
            portable_round(term_sum(F.col("term"), 12), 6)
            .cast("double")
            .alias("js_divergence")
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# TwoNN intrinsic dimension
# ---------------------------------------------------------------------------


@query(
    "q_intrinsic_dim",
    oracle=f"""
    WITH probes AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id % 5 = 0
    ),
    pool AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    dists AS (
        SELECT p.vec_id AS ip, q.vec_id AS iq,
               {sql_portable_round(
                   "list_reduce(list_transform(generate_series(1, len(p.v)),"
                   " i -> (p.v[i] - q.v[i]) * (p.v[i] - q.v[i])),"
                   " (x, y) -> x + y)", 8)} AS d2
        FROM probes p JOIN pool q ON p.vec_id <> q.vec_id
    ),
    nn AS (
        SELECT ip, d2, rn FROM (
            SELECT ip, d2,
                   row_number() OVER (PARTITION BY ip
                                      ORDER BY d2, iq) AS rn
            FROM dists
        ) WHERE rn <= 2
    ),
    mu AS (
        SELECT ip,
               {sql_portable_round(
                   "0.5 * ln(MAX(CASE WHEN rn = 2 THEN d2 END)"
                   " / MAX(CASE WHEN rn = 1 THEN d2 END))", 10)} AS mu
        FROM nn GROUP BY ip
        HAVING MAX(CASE WHEN rn = 1 THEN d2 END) > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST({sql_portable_round(
               sql_term_sum("mu", 10) + " / COUNT(*)", 6)} AS DOUBLE) AS mean_mu,
           CAST({sql_portable_round(
               "COUNT(*) / " + sql_term_sum("mu", 10), 4)} AS DOUBLE) AS id_twonn
    FROM mu
    """,
)
def q_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic-dimension estimate of the embedding manifold
    (Facco et al. 2017): μᵢ = ln(r₂/r₁) over each probe's first and
    second nearest-neighbor distances, d̂ = n/Σμ — the MLE under the
    Pareto ratio law. The capacity diagnostic run before choosing
    projection/PQ sizes: d̂ ≪ ambient 64 means the vectors live on a
    much thinner manifold. Distances are sequential folds rounded at
    8dp before the rank (iq tie-break); μ = ½·ln(d²-ratio) rounds at
    10dp and accumulates in matching DECIMAL. Probes sample every 5th
    vector; candidates come from operators/similarity.
    probe_pool_candidates — the exact probes × pool grid at fixture
    scale (oracle-identical), banded hyperplane-LSH buckets above its
    enforced 200k-row pool threshold (the executable q_mutual_knn
    contract). HAVING r₁ > 0
    drops exact-duplicate probes, which have no ratio information."""
    from stockmarketdata_dwb_etl_spark.operators.similarity import (
        probe_pool_candidates,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pool = emb.select(
        F.col("vec_id").alias("iq"),
        F.col("embedding").cast("array<double>").alias("vq"),
    )
    probes = emb.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("ip"),
        F.col("embedding").cast("array<double>").alias("vp"),
    )
    d2 = F.aggregate(
        F.zip_with("vp", "vq", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dists = probe_pool_candidates(probes, pool).select(
        "ip", "iq", portable_round(d2, 8).alias("d2")
    )
    w = Window.partitionBy("ip").orderBy("d2", "iq")
    nn = dists.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 2
    )
    mu = (
        nn.groupBy("ip")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("d2"))).alias("r1"),
            F.max(F.when(F.col("rn") == 2, F.col("d2"))).alias("r2"),
        )
        .filter(F.col("r1") > 0)
        .select(
            "ip",
            portable_round(
                F.lit(0.5) * F.log(F.col("r2") / F.col("r1")), 10
            ).alias("mu"),
        )
    )
    return mu.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        portable_round(
            term_sum(F.col("mu"), 10) / F.count(F.lit(1)), 6
        )
        .cast("double")
        .alias("mean_mu"),
        portable_round(
            F.count(F.lit(1)) / term_sum(F.col("mu"), 10), 4
        )
        .cast("double")
        .alias("id_twonn"),
    )
