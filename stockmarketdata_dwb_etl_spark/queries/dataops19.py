"""Round-12 operator batch: corpus statistics, sampling design, IR
scoring, and robust moments.

- Dunning log-likelihood-ratio (G²) collocations: the statistically
  sound complement to q_pmi_bigrams — PMI over-ranks rare pairs, G²
  (Dunning 1993) ranks by evidence, the score tokenizer-vocabulary and
  phrase-mining pipelines actually use.
- Neyman allocation: optimal stratified-sample design n_h ∝ N_h·S_h
  (Neyman 1934) — the planning step BEFORE q_sample_stratified draws,
  sizing each stratum's share of a fixed labeling/eval budget from its
  variance. A training-data curation primitive.
- BM25 relevance scoring (Robertson–Spärck Jones): the standard IR
  upgrade over q_tfidf_topterms' raw tf-idf — saturating tf and
  length normalization, the score retrieval-augmented data pipelines
  rank candidate documents with.
- Winsorized moments: p10/p90-clamped mean/sd per event type — the
  robust-statistics screen run before z-scoring features whose tails
  are fat (clamping beats dropping when sample budgets are fixed).

Reference scope: the reference's BigQuery tier is the analytics
surface these extend (dump_bigq.py:135-149 delegates all querying).

Determinism policy: counts and ranks are exact integers; every
accumulation-order-dependent double Σ routes through term_sum/split_term_sum
(round-then-DECIMAL, 2^53-bounded buckets — see dataops11._ssum);
ln/sqrt/cos evaluate identical expression trees on both engines and
round past the compare precision; quantile picks are row_number over
the (value, event_id) total order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.bars import (
    close_tick,
    open_tick,
    sql_close_tick,
    sql_open_tick,
)
from stockmarketdata_dwb_etl_spark.functions.exact import (
    hilo_finish,
    hilo_term_sum,
    portable_round,
    split_term_sum,
    sql_portable_round,
    sql_split_term_sum,
    sql_term_sum,
    term,
    term_sum,
)
from stockmarketdata_dwb_etl_spark.functions.text import sql_tokenize, tokenize
from stockmarketdata_dwb_etl_spark.operators.iterate import iterate
from stockmarketdata_dwb_etl_spark.registry import query

# ---------------------------------------------------------------------------
# Dunning G² collocations
# ---------------------------------------------------------------------------


def _g2_terms_sql() -> str:
    """DuckDB G² = 2·Σ k·ln(k·N/(R·C)) over the 2×2 bigram table,
    0·ln(0) = 0 via CASE. Every k, R, C, N is an exact integer, so ln
    sees the same rational on both engines."""
    terms = []
    for k, r, c in (
        ("k11", "c_a", "c_b"),
        ("k12", "c_a", "(n_big - c_b)"),
        ("k21", "(n_big - c_a)", "c_b"),
        ("k22", "(n_big - c_a)", "(n_big - c_b)"),
    ):
        terms.append(
            f"CASE WHEN {k} > 0 THEN {k} * LN(({k}::DOUBLE * n_big)"
            f" / ({r}::DOUBLE * {c})) ELSE 0.0 END"
        )
    return " + ".join(terms)


@query(
    "q_collocation_llr",
    oracle=f"""
    WITH w AS (
        SELECT {sql_tokenize("text")} AS ws
        FROM documents
    ), uni AS (SELECT unnest(ws) AS t FROM w),
    uc AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY t),
    bigl AS (
        SELECT list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
                              i -> struct_pack(a := ws[i], b := ws[i+1])) AS bgs
        FROM w
    ), big AS (SELECT unnest(bgs, recursive := false) AS bg FROM bigl),
    bc AS (
        SELECT bg.a AS a, bg.b AS b, CAST(COUNT(*) AS BIGINT) AS k11
        FROM big GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_big FROM big),
    cells AS (
        SELECT a, b, k11, ca.c AS c_a, cb.c AS c_b, n_big,
               ca.c - k11 AS k12, cb.c - k11 AS k21,
               n_big - ca.c - cb.c + k11 AS k22
        FROM bc, tot
        JOIN uc ca ON bc.a = ca.t
        JOIN uc cb ON bc.b = cb.t
        WHERE k11 >= 5
    )
    SELECT a, b, k11 AS c_ab,
           CAST({sql_portable_round(f"2.0 * ({_g2_terms_sql()})", 6)}
                AS DOUBLE) AS g2
    FROM cells
    ORDER BY g2 DESC, a, b
    LIMIT 15
    """,
)
def q_collocation_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 bigram collocations by Dunning's log-likelihood ratio
    G² = 2·Σ k_ij·ln(k_ij·N / (R_i·C_j)) over the 2×2 contingency of
    (first word = a) × (second word = b) — the evidence-weighted
    collocation score (Dunning 1993) that, unlike PMI, does not explode
    on rare pairs. All four cells derive from exact integer unigram /
    bigram counts, so the ln arguments are identical rationals on both
    engines; the 4-term Σ is a FIXED-ORDER in-row expression (no
    aggregation-order hazard), rounded 6dp before the rank with (a, b)
    tie-break. Scale: bigram/unigram counts shuffle on the token key
    with map-side partials; marginals broadcast (vocabulary-sized);
    top-15 is TakeOrdered. Complements q_pmi_bigrams (dataops3.py)."""
    docs = load_table(spark, sf_dir, "documents")
    words = tokenize(F.col("text"))
    w = docs.select(words.alias("ws"))
    big = w.select(
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(ws) - 1, 0)),"
                " i -> struct(element_at(ws, i) AS a,"
                " element_at(ws, i + 1) AS b))"
            )
        ).alias("bg")
    ).select("bg.a", "bg.b")
    bc = big.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("k11")
    )
    uc = (
        w.select(F.explode("ws").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = big.agg(F.count(F.lit(1)).cast("bigint").alias("n_big"))
    cells = (
        bc.filter(F.col("k11") >= 5)
        .join(
            F.broadcast(uc.select(F.col("t").alias("a"), F.col("c").alias("c_a"))),
            "a",
        )
        .join(
            F.broadcast(uc.select(F.col("t").alias("b"), F.col("c").alias("c_b"))),
            "b",
        )
        .crossJoin(F.broadcast(tot))
        .withColumn("k12", F.col("c_a") - F.col("k11"))
        .withColumn("k21", F.col("c_b") - F.col("k11"))
        .withColumn(
            "k22", F.col("n_big") - F.col("c_a") - F.col("c_b") + F.col("k11")
        )
    )

    def g2_cell(k, r, c):
        return F.when(
            F.col(k) > 0,
            F.col(k)
            * F.log(
                (F.col(k).cast("double") * F.col("n_big"))
                / (r.cast("double") * c)
            ),
        ).otherwise(F.lit(0.0))

    g2 = F.lit(2.0) * (
        g2_cell("k11", F.col("c_a"), F.col("c_b"))
        + g2_cell("k12", F.col("c_a"), F.col("n_big") - F.col("c_b"))
        + g2_cell("k21", F.col("n_big") - F.col("c_a"), F.col("c_b"))
        + g2_cell(
            "k22", F.col("n_big") - F.col("c_a"), F.col("n_big") - F.col("c_b")
        )
    )
    return (
        cells.select(
            "a",
            "b",
            F.col("k11").alias("c_ab"),
            portable_round(g2, 6).cast("double").alias("g2"),
        )
        .orderBy(F.col("g2").desc(), "a", "b")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Neyman allocation
# ---------------------------------------------------------------------------

_NEYMAN_BUDGET = 1000


@query(
    "q_neyman_allocation",
    oracle=f"""
    WITH s AS (
        SELECT c_mktsegment AS segment,
               CAST(COUNT(*) AS BIGINT) AS n_h,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(38,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(38,2))
                        * CAST(c_acctbal AS DECIMAL(38,2))) AS DOUBLE) AS sxx
        FROM customer GROUP BY 1
    ),
    sd AS (
        SELECT segment, n_h,
               sqrt(greatest(sxx / n_h - (sx / n_h) * (sx / n_h), 0.0)) AS s_h
        FROM s
    ),
    tot AS (
        SELECT {sql_term_sum("n_h * s_h", 6)} AS denom FROM sd
    )
    SELECT segment, n_h,
           CAST({sql_portable_round("s_h", 4)} AS DOUBLE) AS s_h,
           CAST({sql_portable_round("n_h * s_h / denom", 6)} AS DOUBLE)
               AS alloc_share,
           CAST(floor({_NEYMAN_BUDGET}.0 * {sql_portable_round(
                   "n_h * s_h / denom", 6)} + 0.5) AS BIGINT) AS n_alloc
    FROM sd, tot
    ORDER BY segment
    """,
)
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling design over customer market
    segments: each stratum's share of a fixed {_NEYMAN_BUDGET}-unit
    labeling budget is N_h·S_h / Σ N_g·S_g — proportional to stratum
    size × stratum standard deviation, the variance-minimizing
    allocation (Neyman 1934). The planning report a curation pipeline
    runs BEFORE q_sample_stratified draws: high-variance strata earn
    more labels. c_acctbal is an exact 2dp decimal, so the moment sums
    are EXACT (no rounding buckets needed); S_h and the shares are
    identical-tree doubles; the stratum-Σ denominator routes through
    the 6dp DECIMAL sum (5 segments, order-independent). One hash-agg
    keyed by segment — trivially 100 TB-safe."""
    cust = load_table(spark, sf_dir, "customer")
    dec2 = F.col("c_acctbal").cast("decimal(38,2)")
    s = cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.sum(dec2).cast("double").alias("sx"),
        F.sum(dec2 * dec2).cast("double").alias("sxx"),
    )
    mu = F.col("sx") / F.col("n_h")
    s_h = F.sqrt(F.greatest(F.col("sxx") / F.col("n_h") - mu * mu, F.lit(0.0)))
    sd = s.select("segment", "n_h", s_h.alias("s_h"))
    tot = sd.agg(term_sum(F.col("n_h") * F.col("s_h"), 6).alias("denom"))
    share = portable_round(
        F.col("n_h") * F.col("s_h") / F.col("denom"), 6
    )
    return (
        sd.crossJoin(F.broadcast(tot))
        .select(
            "segment",
            "n_h",
            portable_round(F.col("s_h"), 4).cast("double").alias("s_h"),
            share.cast("double").alias("alloc_share"),
            F.floor(F.lit(float(_NEYMAN_BUDGET)) * share + F.lit(0.5))
            .cast("bigint")
            .alias("n_alloc"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# BM25 scoring
# ---------------------------------------------------------------------------

_BM25_TERMS = ("join", "scan", "merge")
_BM25_K1 = 1.2
_BM25_B = 0.75


@query(
    "q_bm25_scores",
    oracle=f"""
    WITH w AS (
        SELECT doc_id,
               {sql_tokenize("text")} AS ws
        FROM documents
    ),
    dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM w),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) AS tot_len
        FROM dl
    ),
    tf AS (
        SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(ws) AS t FROM w)
        WHERE t IN ({",".join(f"'{t}'" for t in _BM25_TERMS)})
        GROUP BY 1, 2
    ),
    df AS (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t
    ),
    contrib AS (
        SELECT tf.doc_id,
               LN(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
               * (tf.tf * ({_BM25_K1} + 1.0))
               / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                  + {_BM25_B} * dl.dl / (s.tot_len::DOUBLE / s.n_docs)))
                   AS c
        FROM tf
        JOIN df ON tf.t = df.t
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats s
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
           CAST({sql_portable_round(sql_term_sum("c", 8), 6)} AS DOUBLE) AS bm25
    FROM contrib GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT 10
    """,
)
def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance of every document against the fixed query
    {_BM25_TERMS}: saturating term frequency (k1={_BM25_K1}) and
    document-length normalization (b={_BM25_B}) over the Robertson
    idf ln(1 + (N−df+0.5)/(df+0.5)) — the standard IR ranking
    function and the retrieval score RAG-style data pipelines use to
    pick supporting documents. Top-10 by (rounded score, doc_id).
    Every tf/df/dl/N is an exact integer; the per-term contributions
    evaluate one identical-tree double expression and Σ over the ≤3
    matched terms routes through the 8dp DECIMAL sum. Scale: term
    postings shuffle on the token key; df is vocabulary-sized and
    broadcast; top-10 is TakeOrdered — never a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    words = tokenize(F.col("text"))
    w = docs.select("doc_id", words.alias("ws"))
    dl = w.select("doc_id", F.size("ws").cast("bigint").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("tot_len"),
    )
    tf = (
        w.select("doc_id", F.explode("ws").alias("t"))
        .filter(F.col("t").isin(*_BM25_TERMS))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    df = tf.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    avgdl = F.col("tot_len").cast("double") / F.col("n_docs")
    c = idf * (
        F.col("tf") * F.lit(_BM25_K1 + 1.0)
    ) / (
        F.col("tf")
        + F.lit(_BM25_K1)
        * (F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * F.col("dl") / avgdl)
    )
    contrib = (
        tf.join(F.broadcast(df), "t")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", c.alias("c"))
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
            portable_round(term_sum(F.col("c"), 8), 6)
            .cast("double")
            .alias("bm25"),
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Winsorized moments
# ---------------------------------------------------------------------------


@query(
    "q_winsorized_stats",
    oracle=f"""
    WITH r AS (
        SELECT event_type, value AS x,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ),
    cuts AS (
        SELECT event_type,
               MAX(CASE WHEN rn = CAST(floor((n + 9) / 10.0) AS BIGINT)
                        THEN x END) AS p10,
               MAX(CASE WHEN rn = CAST(floor((9 * n + 9) / 10.0) AS BIGINT)
                        THEN x END) AS p90,
               CAST(MAX(n) AS BIGINT) AS n
        FROM r GROUP BY event_type
    ),
    cl AS (
        SELECT r.event_type, c.n, c.p10, c.p90,
               CASE WHEN r.x < c.p10 THEN c.p10
                    WHEN r.x > c.p90 THEN c.p90 ELSE r.x END AS cx,
               CASE WHEN r.x < c.p10 OR r.x > c.p90 THEN 1 ELSE 0 END
                   AS clamped
        FROM r JOIN cuts c ON r.event_type = c.event_type
    ),
    m AS (
        SELECT event_type, MAX(n) AS n, MAX(p10) AS p10, MAX(p90) AS p90,
               CAST(SUM(clamped) AS BIGINT) AS n_clamped,
               {sql_split_term_sum("cx", 12, 6)} AS s,
               {sql_split_term_sum("cx * cx", 12, 2)} AS ss
        FROM cl GROUP BY event_type
    )
    SELECT event_type, n, n_clamped,
           p10, p90,
           CAST({sql_portable_round("s / n", 6)} AS DOUBLE) AS win_mean,
           CAST({sql_portable_round(
               "sqrt(greatest(ss / n - (s / n) * (s / n), 0.0))", 6)}
               AS DOUBLE) AS win_sd
    FROM m ORDER BY event_type
    """,
)
def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (p10/p90-clamped) mean and sd per event type — the
    robust-moments screen run before z-scoring a fat-tailed feature:
    clamping keeps the sample size (unlike trimming) while bounding
    outlier leverage. The cut points are EXACT order statistics: value
    at rank ⌈n/10⌉ / ⌈9n/10⌉ over the total (value, event_id) order —
    integer rank arithmetic via floor((n+9)/10), so both engines pick
    the identical row. Clamped moments route through the two-bucket
    split sum (cx ≤ ~560 on this table; cx² at coarse 2dp stays under
    2^53). Scale: ONE shuffle on the type key for the rank window +
    one hash-agg; at 100 TB the per-key window is the documented
    bounded-cardinality contract (5 types here — for data-sized keys
    the global-rank machinery of operators/rank.py applies)."""
    ev = load_table(spark, sf_dir, "events")
    wn = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        F.col("value").alias("x"),
        F.row_number()
        .over(wn.orderBy("value", "event_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    k10 = F.floor((F.col("n") + 9) / F.lit(10.0)).cast("bigint")
    k90 = F.floor((9 * F.col("n") + 9) / F.lit(10.0)).cast("bigint")
    cuts = r.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == k10, F.col("x"))).alias("p10"),
        F.max(F.when(F.col("rn") == k90, F.col("x"))).alias("p90"),
        F.max("n").cast("bigint").alias("n"),
    )
    cl = (
        r.select("event_type", "x")
        .join(F.broadcast(cuts), "event_type")
        .select(
            "event_type",
            F.col("n"),
            "p10",
            "p90",
            F.when(F.col("x") < F.col("p10"), F.col("p10"))
            .when(F.col("x") > F.col("p90"), F.col("p90"))
            .otherwise(F.col("x"))
            .alias("cx"),
            F.when(
                (F.col("x") < F.col("p10")) | (F.col("x") > F.col("p90")), 1
            )
            .otherwise(0)
            .alias("clamped"),
        )
    )
    m = cl.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("p10").alias("p10"),
        F.max("p90").alias("p90"),
        F.sum("clamped").cast("bigint").alias("n_clamped"),
        split_term_sum(F.col("cx"), 12, 6).alias("s"),
        split_term_sum(F.col("cx") * F.col("cx"), 12, 2).alias("ss"),
    )
    mu = F.col("s") / F.col("n")
    sd = F.sqrt(F.greatest(F.col("ss") / F.col("n") - mu * mu, F.lit(0.0)))
    return m.select(
        "event_type",
        "n",
        "n_clamped",
        F.col("p10").cast("double").alias("p10"),
        F.col("p90").cast("double").alias("p90"),
        portable_round(mu, 6).cast("double").alias("win_mean"),
        portable_round(sd, 6).cast("double").alias("win_sd"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Haar wavelet energy decomposition
# ---------------------------------------------------------------------------

_HAAR_LEVELS = 3


def _duck_haar_level(prev: str, lvl: int) -> str:
    """One Haar analysis level: pair consecutive points, average →
    next-level approximation, half-difference → detail; incomplete
    trailing pairs drop (cnt = 2 guard). Both engines round a and d at
    10dp so the next level's inputs are bit-identical."""
    return f"""
    l{lvl} AS (
        SELECT symbol, idx // 2 AS p,
               MAX(CASE WHEN idx % 2 = 0 THEN v END) AS ev,
               MAX(CASE WHEN idx % 2 = 1 THEN v END) AS od,
               COUNT(*) AS cnt
        FROM {prev} GROUP BY 1, 2
    ),
    a{lvl} AS (
        SELECT symbol, p AS idx,
               {sql_portable_round("(ev + od) / 2.0", 10)} AS v,
               {sql_portable_round("(ev - od) / 2.0", 10)} AS d
        FROM l{lvl} WHERE cnt = 2
    ),
    e{lvl} AS (
        SELECT symbol, CAST(COUNT(*) AS BIGINT) AS np,
               {sql_split_term_sum("d * d", 12, 6)} AS e
        FROM a{lvl} GROUP BY symbol
    )"""


@query(
    "q_haar_energy",
    oracle=f"""
    WITH bars AS (
        SELECT event_type AS symbol, CAST(ts AS DATE) AS day,
               {sql_open_tick()}
                   AS open,
               {sql_close_tick()}
                   AS close
        FROM events GROUP BY 1, 2
    ),
    a0 AS (
        SELECT symbol,
               row_number() OVER (PARTITION BY symbol ORDER BY day) - 1
                   AS idx,
               close / open - 1.0 AS v
        FROM bars WHERE open <> 0
    ),
    nd AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days
           FROM a0 GROUP BY symbol),
    {",".join(_duck_haar_level(f"a{l - 1}", l)
              for l in range(1, _HAAR_LEVELS + 1))}
    SELECT nd.symbol, nd.n_days,
           CAST({sql_portable_round("COALESCE(e1.e, 0.0)", 6)} AS DOUBLE)
               AS e1,
           CAST({sql_portable_round("COALESCE(e2.e, 0.0)", 6)} AS DOUBLE)
               AS e2,
           CAST({sql_portable_round("COALESCE(e3.e, 0.0)", 6)} AS DOUBLE)
               AS e3
    FROM nd
    LEFT JOIN e1 ON e1.symbol = nd.symbol
    LEFT JOIN e2 ON e2.symbol = nd.symbol
    LEFT JOIN e3 ON e3.symbol = nd.symbol
    ORDER BY nd.symbol
    """,
)
def q_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet energy decomposition of the daily session-return
    series, {_HAAR_LEVELS} dyadic levels: level-ℓ detail energy
    Σ d² with d = (even − odd)/2 over consecutive level-(ℓ−1)
    approximations — the multi-resolution variance split (which
    timescale carries the volatility?) that feeds regime detection and
    denoising. Pairing is exact integer index arithmetic (idx // 2,
    idx % 2) over the row_number day order; a/d round 10dp at EVERY
    level so both engines feed identical inputs to the next; energies
    route through the two-bucket split sum (d up to ~1e4 on degenerate
    opens — the q_esd_outliers bound). Scale: each level is one
    hash-agg keyed by (symbol, pair) — depth is a constant, data
    volume HALVES per level."""

    bars = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("symbol"),
            F.col("ts").cast("date").alias("day"),
        )
        .agg(
            open_tick().alias("open"),
            close_tick().alias("close"),
        )
    )
    a0 = bars.filter(F.col("open") != 0).select(
        "symbol",
        (
            F.row_number().over(
                Window.partitionBy("symbol").orderBy("day")
            )
            - 1
        ).alias("idx"),
        (F.col("close") / F.col("open") - 1.0).alias("v"),
    )
    nd = a0.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days")
    )
    cur = a0
    energies = []
    for lvl in range(1, _HAAR_LEVELS + 1):
        paired = cur.groupBy(
            "symbol", (F.col("idx") / 2).cast("bigint").alias("p")
        ).agg(
            F.max(F.when(F.col("idx") % 2 == 0, F.col("v"))).alias("ev"),
            F.max(F.when(F.col("idx") % 2 == 1, F.col("v"))).alias("od"),
            F.count(F.lit(1)).alias("cnt"),
        )
        nxt = paired.filter(F.col("cnt") == 2).select(
            "symbol",
            F.col("p").alias("idx"),
            portable_round((F.col("ev") + F.col("od")) / 2.0, 10).alias("v"),
            portable_round((F.col("ev") - F.col("od")) / 2.0, 10).alias("d"),
        )
        energies.append(
            nxt.groupBy("symbol").agg(
                split_term_sum(F.col("d") * F.col("d"), 12, 6).alias(f"_e{lvl}")
            )
        )
        cur = nxt
    out = nd
    for lvl, e in enumerate(energies, start=1):
        out = out.join(e, "symbol", "left")
    return out.select(
        "symbol",
        "n_days",
        *[
            portable_round(F.coalesce(F.col(f"_e{lvl}"), F.lit(0.0)), 6)
            .cast("double")
            .alias(f"e{lvl}")
            for lvl in range(1, _HAAR_LEVELS + 1)
        ],
    ).orderBy("symbol")


# ---------------------------------------------------------------------------
# HITS hubs & authorities
# ---------------------------------------------------------------------------

_HITS_ITERS = 2


def _duck_hits_iter(rnd: int) -> str:
    """One HITS superstep: auth(dst) = L1-normalized Σ hub(src)·w, then
    hub(src) = L1-normalized Σ auth(dst)·w. Contributions round 8dp
    into DECIMAL (hub ≤ 1, w ≤ ~1e5 → |term|·1e8 < 2^53); normalized
    scores round 12dp — the q_pagerank_iter discipline."""
    prev = f"hub{rnd - 1}"
    return f"""
    araw{rnd} AS (
        SELECT e.dst AS node,
               {sql_term_sum("h.h * e.w", 8)} AS raw
        FROM edges e JOIN {prev} h ON h.node = e.src
        GROUP BY e.dst
    ),
    atot{rnd} AS (SELECT {sql_term_sum("raw", 8)} AS t FROM araw{rnd}),
    auth{rnd} AS (
        SELECT n.node,
               CAST({sql_portable_round("COALESCE(a.raw, 0.0) / t.t", 12)}
                    AS DOUBLE) AS a
        FROM nodes n CROSS JOIN atot{rnd} t
        LEFT JOIN araw{rnd} a ON a.node = n.node
    ),
    hraw{rnd} AS (
        SELECT e.src AS node,
               {sql_term_sum("a.a * e.w", 8)} AS raw
        FROM edges e JOIN auth{rnd} a ON a.node = e.dst
        GROUP BY e.src
    ),
    htot{rnd} AS (SELECT {sql_term_sum("raw", 8)} AS t FROM hraw{rnd}),
    hub{rnd} AS (
        SELECT n.node,
               CAST({sql_portable_round("COALESCE(h.raw, 0.0) / t.t", 12)}
                    AS DOUBLE) AS h
        FROM nodes n CROSS JOIN htot{rnd} t
        LEFT JOIN hraw{rnd} h ON h.node = n.node
    )"""


def _hits_oracle() -> str:
    from stockmarketdata_dwb_etl_spark.queries.graph import _GRAPH_SQL

    k = _HITS_ITERS
    return f"""
    WITH {_GRAPH_SQL},
    hub0 AS (SELECT node, 1.0 AS h FROM nodes),
    {",".join(_duck_hits_iter(r) for r in range(1, k + 1))}
    SELECT a.node,
           CAST({sql_portable_round("a.a", 8)} AS DOUBLE) AS auth,
           CAST({sql_portable_round("h.h", 8)} AS DOUBLE) AS hub
    FROM auth{k} a JOIN hub{k} h ON h.node = a.node
    ORDER BY auth DESC, a.node
    LIMIT 10
    """


@query("q_hits_scores", oracle=_hits_oracle())
def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) on the brand
    co-purchase graph, {_HITS_ITERS} power-iteration supersteps with L1
    normalization: auth ← Σ_in hub·w, hub ← Σ_out auth·w — the mutual-
    reinforcement centrality pair beside q_pagerank_iter's random walk.
    Top-10 nodes by authority (node tie-break), hub alongside.
    Determinism: contributions round 8dp into exact DECIMAL before
    each Σ; normalized scores round 12dp per half-step, so both
    engines iterate on bit-identical vectors (the pagerank
    discipline). Scale: each half-step is ONE edge⋈score shuffle +
    node-sized totals; score state localCheckpoints per half-step (the
    Pregel shape — visible to the plan audit's loop column)."""
    from stockmarketdata_dwb_etl_spark.queries.graph import _graph

    edges, _, nodes = _graph(spark, sf_dir)

    def spread(score: DataFrame, frm: str, to: str, x: str, out: str) -> DataFrame:
        """One half-step: Σ over ``frm``→``to`` edges of x·w, L1-normalized."""
        raw = (
            edges.join(score.withColumnRenamed("node", frm), frm)
            .select(to, term(F.col(x) * F.col("w"), 8).alias("c"))
            .groupBy(to)
            .agg(F.sum("c").cast("double").alias("raw"))
        )
        tot = raw.agg(term_sum(F.col("raw"), 8).alias("t"))
        return (
            nodes.crossJoin(F.broadcast(tot))
            .join(raw.withColumnRenamed(to, "node"), "node", "left")
            .select(
                "node",
                portable_round(F.coalesce(F.col("raw"), F.lit(0.0)) / F.col("t"), 12)
                .cast("double")
                .alias(out),
            )
        )

    def half_step(state: tuple, i: int) -> tuple:
        hub, auth = state
        if i % 2 == 0:
            return hub, spread(hub, "src", "dst", "h", "a")
        return spread(auth, "dst", "src", "a", "h"), auth

    hub = nodes.select("node", F.lit(1.0).alias("h"))
    hub, auth = iterate((hub, None), half_step, 2 * _HITS_ITERS, eager=True)
    return (
        auth.join(hub, "node")
        .select(
            "node",
            portable_round(F.col("a"), 8).cast("double").alias("auth"),
            portable_round(F.col("h"), 8).cast("double").alias("hub"),
        )
        .orderBy(F.col("auth").desc(), "node")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# RFF-MMD two-sample drift
# ---------------------------------------------------------------------------

_MMD_D = 8
_MMD_SEED = 11


def _mmd_planes() -> tuple[list[list[float]], list[float]]:
    """Fixed-seed random Fourier features for the RBF kernel: frequency
    rows w_j ~ N(0, I) and phases b_j ~ U(0, 2π) — plan literals on
    both engines, regenerated identically per call (no driver state)."""
    import math

    import numpy as np

    rng = np.random.RandomState(_MMD_SEED)
    w = rng.randn(_MMD_D, 64).tolist()
    b = rng.uniform(0.0, 2.0 * math.pi, _MMD_D).tolist()
    return w, b


def _mmd_oracle() -> str:
    w, b = _mmd_planes()
    w_sql = "[" + ",".join(
        "[" + ",".join(repr(float(x)) for x in row) + "]" for row in w
    ) + "]"
    b_sql = "[" + ",".join(repr(float(x)) for x in b) + "]"
    z = (
        "cos(list_reduce(list_transform(generate_series(1, 64),"
        " i -> CAST(embedding[i] AS DOUBLE) * (W[j])[i]),"
        " (x, y) -> x + y) + B[j])"
    )
    return f"""
    WITH consts AS (SELECT {w_sql} AS W, {b_sql} AS B),
    feats AS (
        SELECT vec_id % 2 AS side, j.j AS j,
               {sql_portable_round(z, 8)} AS z
        FROM embeddings, consts,
             (SELECT unnest(generate_series(1, {_MMD_D})) AS j) j
    ),
    m AS (
        SELECT side, j, CAST(COUNT(*) AS BIGINT) AS n,
               {sql_term_sum("z", 8)} AS sz
        FROM feats GROUP BY side, j
    ),
    d AS (
        SELECT x.j, x.n AS n_a, y.n AS n_b,
               {sql_portable_round("x.sz / x.n - y.sz / y.n", 10)} AS dm
        FROM m x JOIN m y ON x.j = y.j AND x.side = 0 AND y.side = 1
    )
    SELECT CAST(MAX(n_a) AS BIGINT) AS n_a, CAST(MAX(n_b) AS BIGINT) AS n_b,
           CAST({sql_portable_round(
               f"(2.0 / {_MMD_D}.0) * ({sql_term_sum('dm * dm', 14)})", 8)}
               AS DOUBLE) AS mmd2
    FROM d
    """


@query("q_mmd_drift", oracle=_mmd_oracle())
def q_mmd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum mean discrepancy drift test between the even- and
    odd-vec_id halves of the embedding table, via random Fourier
    features (Rahimi–Recht 2007): z_j(x) = cos(w_j·x + b_j) with
    {_MMD_D} fixed-seed frequencies, MMD² ≈ (2/D)·Σ_j (mean_A z_j −
    mean_B z_j)² — the LINEAR-time estimator of the RBF-kernel MMD
    (Gretton et al. 2012), the distribution-shift score run between a
    training corpus and an incoming batch. No pairwise kernel matrix
    EVER: one map-side feature projection + one (side, j) hash-agg —
    at 100 TB this is a single scan, where the exact quadratic MMD is
    impossible. Determinism: w/b are plan literals from a fixed seed;
    the 64-term dot is the sequential left fold (q_mutual_knn
    contract); cos rounds 8dp before the DECIMAL mean sums; feature-
    mean gaps round 10dp; the D-term Σ routes through the 14dp DECIMAL
    sum."""
    w, b = _mmd_planes()
    emb = load_table(spark, sf_dir, "embeddings")
    wlit = F.lit([[float(x) for x in row] for row in w])
    blit = F.lit([float(x) for x in b])
    v = F.col("embedding").cast("array<double>")
    dot = F.aggregate(
        F.zip_with(v, F.element_at(wlit, F.col("j")), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    z = portable_round(
        F.cos(dot + F.element_at(blit, F.col("j"))), 8
    )
    feats = emb.select(
        (F.col("vec_id") % 2).alias("side"),
        F.explode(F.sequence(F.lit(1), F.lit(_MMD_D))).alias("j"),
        "embedding",
    ).select("side", "j", z.alias("z"))
    m = feats.groupBy("side", "j").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        term_sum(F.col("z"), 8).alias("sz"),
    )
    x = m.filter(F.col("side") == 0).select(
        "j", F.col("n").alias("n_a"), F.col("sz").alias("sza")
    )
    y = m.filter(F.col("side") == 1).select(
        "j", F.col("n").alias("n_b"), F.col("sz").alias("szb")
    )
    d = x.join(y, "j").select(
        "n_a",
        "n_b",
        portable_round(
            F.col("sza") / F.col("n_a") - F.col("szb") / F.col("n_b"), 10
        ).alias("dm"),
    )
    return d.agg(
        F.max("n_a").cast("bigint").alias("n_a"),
        F.max("n_b").cast("bigint").alias("n_b"),
        portable_round(
            F.lit(2.0 / _MMD_D) * term_sum(F.col("dm") * F.col("dm"), 14), 8
        )
        .cast("double")
        .alias("mmd2"),
    )


# ---------------------------------------------------------------------------
# Linear CKA block alignment
# ---------------------------------------------------------------------------


@query(
    "q_cka_alignment",
    oracle=f"""
    WITH ex AS (
        SELECT vec_id, u.idx, CAST(u.val AS DOUBLE) AS val
        FROM embeddings,
             LATERAL (SELECT UNNEST(generate_series(1, len(embedding)))
                          AS idx,
                      UNNEST(CAST(embedding AS DOUBLE[])) AS val) u
    ),
    dims AS (
        SELECT idx, CAST(COUNT(*) AS BIGINT) AS n,
               {sql_term_sum("val", 12)} AS sx
        FROM ex GROUP BY idx
    ),
    pairs AS (
        SELECT a.idx AS ia, b.idx AS ib,
               {sql_term_sum("a.val * b.val", 12)} AS sxy
        FROM ex a JOIN ex b ON a.vec_id = b.vec_id
        WHERE NOT (a.idx > 32 AND b.idx <= 32)
        GROUP BY 1, 2
    ),
    cov AS (
        SELECT CASE WHEN ia <= 32 AND ib <= 32 THEN 'xx'
                    WHEN ia > 32 AND ib > 32 THEN 'yy'
                    ELSE 'xy' END AS blk,
               {sql_portable_round(
                   "p.sxy / x.n - (x.sx / x.n) * (y.sx / y.n)", 10)} AS cov
        FROM pairs p
        JOIN dims x ON x.idx = p.ia
        JOIN dims y ON y.idx = p.ib
    ),
    h AS (
        SELECT blk, {sql_term_sum("cov * cov", 16)} AS hs FROM cov GROUP BY blk
    ),
    piv AS (
        SELECT MAX(CASE WHEN blk = 'xy' THEN hs END) AS hxy,
               MAX(CASE WHEN blk = 'xx' THEN hs END) AS hxx,
               MAX(CASE WHEN blk = 'yy' THEN hs END) AS hyy
        FROM h
    )
    SELECT
        CAST({sql_portable_round(
            "hxy / nullif(sqrt(hxx * hyy), 0.0)", 6)} AS DOUBLE) AS cka,
        CAST({sql_portable_round("hxy", 12)} AS DOUBLE) AS hsic_xy,
        CAST({sql_portable_round("hxx", 12)} AS DOUBLE) AS hsic_xx,
        CAST({sql_portable_round("hyy", 12)} AS DOUBLE) AS hsic_yy
    FROM piv
    """,
)
def q_cka_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear centered-kernel-alignment between the first and second
    32-dimension blocks of the embedding space: CKA = ‖Cov_XY‖²_F /
    (‖Cov_XX‖_F·‖Cov_YY‖_F) (Kornblith et al. 2019) — the
    representation-similarity score used to compare embedding halves /
    checkpoints / layers; ≈1 means the second block is a linear
    re-encoding of the first (capacity wasted), ≈0 means independent
    features. Frobenius norms expand over per-dimension-pair
    covariances, so the whole statistic is the q_whitening_stats fan:
    d² = 4096 pairs per vector with d = 64 CONSTANT — one hash-agg
    keyed by (dim_a, dim_b), NEVER an n×n Gram matrix (at 100 TB the
    sample-space Gram is impossible; the feature-space form is one
    scan). Product sums route 12dp DECIMAL; covariances round 10dp;
    the 3×1024-term block sums accumulate at 16dp (cov² ≤ ~1e-2);
    each dimension carries its OWN count (the whitening ny lesson)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "idx0", "val"
        ),
    ).select("vec_id", (F.col("idx0") + 1).alias("idx"), "val")
    dims = ex.groupBy("idx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        term_sum(F.col("val"), 12).alias("sx"),
    )
    from stockmarketdata_dwb_etl_spark.functions.vectors import (
        dim_pair_products,
    )

    # pair products generate MAP-SIDE from each vector's own array (no
    # exploded self-join: the groupBy partial-aggregates d² keys per
    # partition before its only shuffle — see dim_pair_products)
    hi, lo = hilo_term_sum(F.col("prod"), 12)
    pairs = (
        dim_pair_products(
            emb.select(F.col("embedding").cast("array<double>").alias("v"))
        )
        .filter(~((F.col("ia") > 32) & (F.col("ib") <= 32)))
        .groupBy("ia", "ib")
        # two-long-bucket sum (r13): bit-identical to the DECIMAL term_sum,
        # ~2× cheaper per row on this d²·n hot agg; |prod| < 1 keeps the
        # bigint buckets exact to ~9.2e12 rows per (ia, ib) group
        .agg(hi.alias("__sh"), lo.alias("__sl"))
        .select(
            "ia", "ib", hilo_finish(F.col("__sh"), F.col("__sl"), 12).alias("sxy")
        )
    )
    dx = dims.select(
        F.col("idx").alias("ia"),
        F.col("n").alias("nx"),
        F.col("sx").alias("sxa"),
    )
    dy = dims.select(
        F.col("idx").alias("ib"),
        F.col("n").alias("ny"),
        F.col("sx").alias("sxb"),
    )
    cov = portable_round(
        F.col("sxy") / F.col("nx")
        - (F.col("sxa") / F.col("nx")) * (F.col("sxb") / F.col("ny")),
        10,
    )
    blk = (
        F.when((F.col("ia") <= 32) & (F.col("ib") <= 32), F.lit("xx"))
        .when((F.col("ia") > 32) & (F.col("ib") > 32), F.lit("yy"))
        .otherwise(F.lit("xy"))
    )
    h = (
        pairs.join(F.broadcast(dx), "ia")
        .join(F.broadcast(dy), "ib")
        .select(blk.alias("blk"), cov.alias("cov"))
        .groupBy("blk")
        .agg(term_sum(F.col("cov") * F.col("cov"), 16).alias("hs"))
    )
    piv = h.agg(
        F.max(F.when(F.col("blk") == "xy", F.col("hs"))).alias("hxy"),
        F.max(F.when(F.col("blk") == "xx", F.col("hs"))).alias("hxx"),
        F.max(F.when(F.col("blk") == "yy", F.col("hs"))).alias("hyy"),
    )
    denom = F.sqrt(F.col("hxx") * F.col("hyy"))
    return piv.select(
        portable_round(F.col("hxy") / F.when(denom != 0.0, denom), 6)
        .cast("double")
        .alias("cka"),
        portable_round(F.col("hxy"), 12).cast("double").alias("hsic_xy"),
        portable_round(F.col("hxx"), 12).cast("double").alias("hsic_xx"),
        portable_round(F.col("hyy"), 12).cast("double").alias("hsic_yy"),
    )
