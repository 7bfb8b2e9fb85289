"""Round-12 operator batch 12: theta forecasting, ordered-block trend
inference, and capture/richness estimation.

- Theta-method forecast (θ=2, the M3-winning baseline): SES over the
  series plus half the linear-trend drift — the (b)-path sequential
  recurrence beside q_forecast_holt, with the same Arrow batch +
  recursive-CTE mirroring.
- Page's L test: ordered-alternative trend across weekday "treatments"
  with symbols as blocks — detects MONOTONE weekday effects that
  q_friedman's omnibus ranks dilute.
- Capture–recapture (Chapman's Lincoln–Petersen): estimate the total
  customer population from two calendar-half order samples and their
  overlap — the coverage estimator for "how many entities exist that
  we have NOT seen", verifiable here against the true count.
- Chao1 vocabulary richness: V + F1(F1−1)/(2(F2+1)) from word
  singleton/doubleton counts — how much vocabulary the corpus has NOT
  yet surfaced (the estimation layer over q_vocab_coverage's observed
  counts).

Reference scope: the reference's BigQuery tier is the analytics surface
these extend (dump_bigq.py:135-149 delegates all querying).

Determinism: ranks/counts are exact integers; the theta recurrence
replays the identical multiply-add order on both engines (float64
bit-match before the output round); estimators are single double trees.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.bars import ohlcv_bars, sql_ohlcv_bars
from stockmarketdata_dwb_etl_spark.functions.exact import portable_round
from stockmarketdata_dwb_etl_spark.functions.text import sql_tokenize, tokenize
from stockmarketdata_dwb_etl_spark.registry import query

# ---------------------------------------------------------------------------
# Theta-method forecast
# ---------------------------------------------------------------------------

_THETA_ALPHA = 0.4


@query(
    "q_theta_forecast",
    oracle=f"""
    WITH RECURSIVE bars AS ({sql_ohlcv_bars("day", "close")}),
    seq AS (
        SELECT symbol, close,
               row_number() OVER (PARTITION BY symbol ORDER BY bar_ts) AS rn
        FROM bars
    ),
    packed AS (
        SELECT symbol, list(close ORDER BY rn) AS xs,
               len(list(close)) AS n
        FROM seq GROUP BY symbol
        HAVING len(list(close)) >= 3
    ),
    slope AS (
        SELECT symbol,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b
        FROM (
            SELECT p.symbol, p.n,
                   CAST(SUM(s.rn) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(s.rn AS BIGINT) * s.rn) AS DOUBLE)
                       AS sxx,
                   CAST(SUM(CAST(floor(s.close * 1000000000000.0 + 0.5)
                        AS DECIMAL(38,0))) AS DOUBLE)
                       / 1000000000000.0 AS sy,
                   CAST(SUM(CAST(floor(s.rn * s.close * 1000000.0 + 0.5)
                        AS DECIMAL(38,0))) AS DOUBLE)
                       / 1000000.0 AS sxy
            FROM packed p JOIN seq s ON s.symbol = p.symbol
            GROUP BY p.symbol, p.n
        )
    ),
    rec AS (
        SELECT symbol, xs, n, 1 AS rn, xs[1] AS l
        FROM packed
        UNION ALL
        SELECT symbol, xs, n, rn + 1,
               {_THETA_ALPHA} * xs[rn + 1]
               + (1.0 - {_THETA_ALPHA}) * l
        FROM rec WHERE rn < n
    ),
    final AS (SELECT symbol, l FROM rec WHERE rn = n)
    SELECT f.symbol AS symbol, h.h,
           CAST((CAST(floor(CAST((f.l + 0.5 * s.b * (h.h
                + (1.0 - (1.0 - {_THETA_ALPHA}))
                  / {_THETA_ALPHA})) AS DOUBLE) * 10000.0 + 0.5)
                AS DOUBLE) / 10000.0) AS DOUBLE) AS forecast
    FROM final f
    JOIN slope s ON s.symbol = f.symbol
    CROSS JOIN (SELECT UNNEST(generate_series(1, 6)) AS h) h
    ORDER BY symbol, h
    """,
)
def q_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method forecast (θ=2, SES α=0.4) per symbol over daily
    closes — the M3-competition-winning baseline: the h-step forecast
    is the SES level plus HALF the OLS trend slope times
    (h + (1−(1−α))/α), the classic theta drift correction. The SES
    recurrence is the documented (b)-path custom operator (the
    q_forecast_holt shape): one Arrow-batched applyInPandas pass per
    symbol replaying the EXACT multiply-add order the oracle's
    recursive CTE unrolls, so float64 levels match bit-for-bit; the
    slope comes from per-symbol OLS moments. Scale: per-symbol series
    are calendar-bounded; the tick→bar hash-agg is the only full-data
    shuffle."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    bars = ohlcv_bars(ev, "day", "close")
    a = _THETA_ALPHA

    def theta_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bar_ts").reset_index(drop=True)
        n = len(pdf)
        if n < 3:
            return pd.DataFrame(
                {"symbol": [], "h": [], "forecast": []}
            ).astype(
                {"symbol": "string", "h": "int64", "forecast": "float64"}
            )
        xs = pdf["close"].tolist()
        l = xs[0]
        for x in xs[1:]:
            l = a * x + (1.0 - a) * l
        # OLS slope on (rn, close), rn = 1..n — rounded-term EXACT
        # integer accumulation (the engine-side term_sum discipline done
        # in Python ints): order-independent and identical to the
        # oracle's floor-scaled DECIMAL sums
        import math

        sx = float(sum(range(1, n + 1)))
        sxx = float(sum(i * i for i in range(1, n + 1)))
        sy = (
            float(sum(math.floor(x * 1e12 + 0.5) for x in xs)) / 1e12
        )
        sxy = (
            float(
                sum(
                    math.floor(i * x * 1e6 + 0.5)
                    for i, x in enumerate(xs, start=1)
                )
            )
            / 1e6
        )
        b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        sym = pdf["symbol"].iloc[0]
        drift = lambda h: 0.5 * b * (h + (1.0 - (1.0 - a)) / a)
        return pd.DataFrame(
            {
                "symbol": [sym] * 6,
                "h": list(range(1, 7)),
                "forecast": [l + drift(h) for h in range(1, 7)],
            }
        )

    out = bars.groupBy("symbol").applyInPandas(
        theta_group, "symbol string, h long, forecast double"
    )
    return out.select(
        "symbol",
        F.col("h").cast("bigint").alias("h"),
        portable_round("forecast", 4).cast("double").alias("forecast"),
    ).orderBy("symbol", "h")


# ---------------------------------------------------------------------------
# Page's L trend test
# ---------------------------------------------------------------------------


@query(
    "q_page_trend",
    oracle="""
    WITH cell AS (
        SELECT event_type AS blk,
               CAST(dayofweek(ts) AS BIGINT) AS trt,
               CAST(COUNT(*) AS BIGINT) AS activity
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT blk, trt,
               CAST(rank() OVER (PARTITION BY blk
                                 ORDER BY activity, trt) AS BIGINT) AS r
        FROM cell
    ),
    colsum AS (
        SELECT trt, CAST(SUM(r) AS BIGINT) AS rj,
               CAST(COUNT(*) AS BIGINT) AS m
        FROM ranked GROUP BY trt
    ),
    s AS (
        SELECT CAST(SUM((trt + 1) * rj) AS BIGINT) AS l,
               CAST(MAX(m) AS BIGINT) AS m,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM colsum
    )
    SELECT m AS n_blocks, k AS n_treatments, l AS page_l,
           CAST((CAST(floor(CAST(((l - CAST(m * k * (k + 1) * (k + 1)
                AS DOUBLE) / 4.0)
                / sqrt(CAST(m AS DOUBLE) * k * k * (k + 1)
                       * (k * k - 1) / 144.0)) AS DOUBLE) * 10000.0
                + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS z_approx
    FROM s
    """,
)
def q_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L test for an ORDERED weekday trend in activity: within
    each event-type block, rank the 7 weekday activity counts, then
    L = Σ_j j·R_j over the ordered treatments — significant when
    activity rises (or falls) monotonically through the week, the
    directional alternative q_friedman's omnibus statistic dilutes.
    The weekday index j is the hypothesized order; ranks carry a
    deterministic weekday tie-break; L and the column sums are exact
    integers, with the classic normal approximation z = (L − mk(k+1)²/4)
    / √(mk²(k+1)(k²−1)/144). Spark's dayofweek is 1..7 (Sun=1), DuckDB's
    0..6 — shifted in the oracle so both engines weight identically.
    Scales: one (type, weekday) hash-agg — 35 cells — then
    dimension-bounded windows."""
    ev = load_table(spark, sf_dir, "events")
    cell = ev.groupBy(
        F.col("event_type").alias("blk"),
        F.dayofweek("ts").cast("bigint").alias("trt"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("activity"))
    wr = Window.partitionBy("blk").orderBy("activity", "trt")
    ranked = cell.select(
        "blk", "trt", F.rank().over(wr).cast("bigint").alias("r")
    )
    colsum = ranked.groupBy("trt").agg(
        F.sum("r").cast("bigint").alias("rj"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
    )
    s = colsum.agg(
        F.sum(F.col("trt") * F.col("rj")).cast("bigint").alias("l"),
        F.max("m").cast("bigint").alias("m"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    l, m, k = F.col("l"), F.col("m"), F.col("k")
    mean_l = (m * k * (k + 1) * (k + 1)).cast("double") / F.lit(4.0)
    var_l = (
        m.cast("double") * k * k * (k + 1) * (k * k - 1) / F.lit(144.0)
    )
    return s.select(
        m.alias("n_blocks"),
        k.alias("n_treatments"),
        l.alias("page_l"),
        portable_round((l - mean_l) / F.sqrt(var_l), 4)
        .cast("double")
        .alias("z_approx"),
    )


# ---------------------------------------------------------------------------
# Capture-recapture population estimate
# ---------------------------------------------------------------------------


@query(
    "q_capture_recapture",
    oracle="""
    WITH span AS (
        SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
               MAX(CAST(o_orderdate AS DATE)) AS hi
        FROM orders
    ),
    tagged AS (
        SELECT DISTINCT o.o_custkey AS ck,
               CAST(o_orderdate AS DATE)
                   < s.lo + CAST(datediff('day', s.lo, s.hi) // 2
                                 AS BIGINT) * INTERVAL 1 DAY
                   AS first_half
        FROM orders o CROSS JOIN span s
    ),
    sets AS (
        SELECT CAST(COUNT(DISTINCT CASE WHEN first_half THEN ck END)
                    AS BIGINT) AS n1,
               CAST(COUNT(DISTINCT CASE WHEN NOT first_half THEN ck END)
                    AS BIGINT) AS n2,
               CAST(COUNT(DISTINCT ck) AS BIGINT) AS n_union
        FROM tagged
    )
    SELECT n1, n2,
           CAST(n1 + n2 - n_union AS BIGINT) AS n_overlap,
           n_union AS n_true,
           CAST((CAST(floor(CAST(((CAST(n1 + 1 AS DOUBLE) * (n2 + 1))
                / (n1 + n2 - n_union + 1) - 1.0) AS DOUBLE) * 100.0
                + 0.5) AS DOUBLE) / 100.0) AS DOUBLE) AS chapman_est
    FROM sets
    """,
)
def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman's capture–recapture estimate of the active-customer
    population: customers ordering in the first calendar half are the
    marked sample, the second half is the recapture, N̂ =
    (n₁+1)(n₂+1)/(m+1) − 1 from the overlap m — the coverage
    estimator for "how many entities exist that this warehouse has
    NOT yet seen", reported BESIDE the true distinct count so the
    estimator's bias under non-random capture is measurable. The
    calendar split point is exact integer date arithmetic; all set
    sizes are exact distinct counts. Scales: one distinct-projection
    + one multi-distinct agg (Spark expands to a union of two
    aggregates under AQE — dimension-bounded output)."""
    o = load_table(spark, sf_dir, "orders")
    span = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("hi"),
    )
    tagged = (
        o.crossJoin(F.broadcast(span))
        .select(
            F.col("o_custkey").alias("ck"),
            (
                F.col("o_orderdate").cast("date")
                < F.date_add(
                    F.col("lo"),
                    (F.datediff(F.col("hi"), F.col("lo")) / 2).cast("int"),
                )
            ).alias("first_half"),
        )
        .distinct()
    )
    sets = tagged.agg(
        F.countDistinct(F.when(F.col("first_half"), F.col("ck")))
        .cast("bigint")
        .alias("n1"),
        F.countDistinct(F.when(~F.col("first_half"), F.col("ck")))
        .cast("bigint")
        .alias("n2"),
        F.countDistinct("ck").cast("bigint").alias("n_union"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    m = n1 + n2 - F.col("n_union")
    chapman = (n1 + 1).cast("double") * (n2 + 1) / (m + 1) - F.lit(1.0)
    return sets.select(
        "n1",
        "n2",
        m.cast("bigint").alias("n_overlap"),
        F.col("n_union").alias("n_true"),
        portable_round(chapman, 2).cast("double").alias("chapman_est"),
    )


# ---------------------------------------------------------------------------
# Chao1 vocabulary richness
# ---------------------------------------------------------------------------


@query(
    "q_chao1_richness",
    oracle=f"""
    WITH words AS (
        SELECT UNNEST({sql_tokenize("text")})
            AS w
        FROM documents
    ),
    wc AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM words GROUP BY w
    ),
    f AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS v,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS f1,
               CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS f2,
               CAST(SUM(c) AS BIGINT) AS n_tokens
        FROM wc
    )
    SELECT v AS vocab_observed, f1 AS n_singletons, f2 AS n_doubletons,
           n_tokens,
           CAST((CAST(floor(CAST((v + CAST(f1 AS DOUBLE) * (f1 - 1)
                / (2.0 * (f2 + 1))) AS DOUBLE) * 100.0 + 0.5)
                AS DOUBLE) / 100.0) AS DOUBLE) AS chao1_est
    FROM f
    """,
)
def q_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 vocabulary-richness estimate over the corpus: Ŝ = V +
    F₁(F₁−1)/(2(F₂+1)) from the singleton/doubleton counts of the
    word-frequency spectrum — the nonparametric lower bound on how
    many word types EXIST given how many were observed once vs twice
    (the estimation layer over q_vocab_coverage's observed counts and
    q_heaps_law's growth fit; a high F₁ share means the corpus is far
    from vocabulary-complete). All spectrum counts are exact integers;
    the estimator is one double expression. Scales: explode collapses
    into the word hash-agg map-side; the frequency-spectrum agg is
    4 scalars."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(tokenize("text")).alias("w"))
    wc = words.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    f = wc.agg(
        F.count(F.lit(1)).cast("bigint").alias("v"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("f2"),
        F.sum("c").cast("bigint").alias("n_tokens"),
    )
    chao1 = F.col("v") + F.col("f1").cast("double") * (F.col("f1") - 1) / (
        F.lit(2.0) * (F.col("f2") + 1)
    )
    return f.select(
        F.col("v").alias("vocab_observed"),
        F.col("f1").alias("n_singletons"),
        F.col("f2").alias("n_doubletons"),
        "n_tokens",
        portable_round(chao1, 2).cast("double").alias("chao1_est"),
    )
