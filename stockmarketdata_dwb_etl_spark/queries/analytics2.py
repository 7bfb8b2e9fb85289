"""Analytics battery round 3: sequence mining (Markov transitions),
customer scoring (RFM), distribution comparison (two-sample KS),
rolling correlation, and the point-in-time (as-of effective-date) SCD2
dimension lookup.

These are the analyst shapes the reference delegates to BigQuery after
load (/root/reference/dump_bigq.py:135-149); the engine runs them
natively. Determinism policy (SURVEY.md §2B): integer counts and
integer-scaled comparisons wherever possible; any cross-row float sum
goes through the exact-decimal cast; divisions happen once, on already
deterministic operands, and results round before ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.functions.exact import portable_round, term_sum
from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.exact import exact_sum, sql_exact_sum
from stockmarketdata_dwb_etl_spark.registry import query

_DEC = "decimal(38,6)"


@query(
    "q_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    trans AS (
        SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT prev_type, event_type, n,
           CAST((CAST(floor(CAST((CAST(n AS DOUBLE)
                      / SUM(n) OVER (PARTITION BY prev_type)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE)
             AS prob
    FROM trans
    ORDER BY prev_type, event_type
    """,
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    P(next event type | current) — the sequence-mining primitive behind
    next-action prediction and funnel-anomaly detection. One lag window
    per user (ordered by ts with event_id tie-break, so concurrent events
    sequence identically on every engine), then an integer-count hash agg
    on the 5×5 type grid; the probability is a single division of exact
    integers. Scales: the user_id window shuffle is the only wide op, the
    transition grid is tiny and the normalizing row-sum runs over it."""
    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    row_total = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "event_type",
        "n",
        portable_round(F.col("n").cast("double") / F.sum("n").over(row_total), 6)
        .cast("double")
        .alias("prob"),
    ).orderBy("prev_type", "event_type")


@query(
    "q_rfm_segmentation",
    oracle=f"""
    WITH cust AS (
        SELECT o_custkey AS c_custkey,
               CAST(date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                              (SELECT CAST(MAX(o_orderdate) AS DATE)
                               FROM orders)) AS INTEGER) AS recency_days,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               {sql_exact_sum("o_totalprice", "monetary")}
        FROM orders GROUP BY 1
    )
    SELECT c_custkey, recency_days, frequency, monetary,
           CAST(ntile(5) OVER (ORDER BY recency_days DESC, c_custkey)
                AS INTEGER) AS r_score,
           CAST(ntile(5) OVER (ORDER BY frequency ASC, c_custkey)
                AS INTEGER) AS f_score,
           CAST(ntile(5) OVER (ORDER BY monetary ASC, c_custkey)
                AS INTEGER) AS m_score
    FROM cust
    ORDER BY c_custkey
    """,
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer scoring: recency (days since last order, vs the corpus
    max date), frequency (order count), monetary (exact-decimal revenue),
    each quintiled 1-5 with 5 = best. The ntile orderings carry a custkey
    tie-break so equal metrics tile identically on every engine.

    Scale posture: a naive ``ntile(5).over(Window.orderBy(...))`` funnels
    the whole customer grain through ONE partition (WindowExec warns);
    instead each score comes from operators/rank.py::global_row_number
    (range shuffle + per-partition rank + P-row offset stitch) +
    ntile_expr -- the same distributed total-order machinery as
    q_window_ntile, applied once per ordering. The corpus max date
    derives from the persisted per-customer aggregate (max of last dates
    == global max), so orders is scanned exactly once."""
    from stockmarketdata_dwb_etl_spark.operators.rank import (
        global_row_number,
        ntile_expr,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = (
        orders.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.max(F.to_date("o_orderdate")).alias("__last_d"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            exact_sum(F.col("o_totalprice"), "monetary"),
        )
    )
    from stockmarketdata_dwb_etl_spark.operators.cache import bounded_persist

    base = bounded_persist(base, "rfm-base")
    max_date = base.agg(F.max("__last_d").alias("__max_d"))
    cust = base.join(F.broadcast(max_date)).select(
        "c_custkey",
        F.datediff(F.col("__max_d"), F.col("__last_d"))
        .cast("int")
        .alias("recency_days"),
        "frequency",
        "monetary",
    )
    # ntile ORDER BY recency DESC == ntile over ascending negated recency
    cust = cust.withColumn("__neg_rec", -F.col("recency_days"))
    cust = global_row_number(
        cust, ["__neg_rec", "c_custkey"], out="__r_idx", n_total="__n"
    )
    cust = global_row_number(
        cust, ["frequency", "c_custkey"], out="__f_idx", n_total=None
    )
    cust = global_row_number(
        cust, ["monetary", "c_custkey"], out="__m_idx", n_total=None
    )
    return cust.select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary",
        ntile_expr(F.col("__r_idx"), F.col("__n"), 5).cast("int").alias("r_score"),
        ntile_expr(F.col("__f_idx"), F.col("__n"), 5).cast("int").alias("f_score"),
        ntile_expr(F.col("__m_idx"), F.col("__n"), 5).cast("int").alias("m_score"),
    ).orderBy("c_custkey")


@query(
    "q_ks_test",
    oracle="""
    WITH pts AS (
        SELECT event_type, value,
               CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS c2
        FROM events GROUP BY event_type, value
    ),
    cdf AS (
        SELECT event_type,
               SUM(c1) OVER (PARTITION BY event_type ORDER BY value
                             ROWS UNBOUNDED PRECEDING) AS cum1,
               SUM(c2) OVER (PARTITION BY event_type ORDER BY value
                             ROWS UNBOUNDED PRECEDING) AS cum2,
               SUM(c1) OVER (PARTITION BY event_type) AS n1,
               SUM(c2) OVER (PARTITION BY event_type) AS n2
        FROM pts
    )
    SELECT event_type,
           CAST(MAX(n1) AS BIGINT) AS n1,
           CAST(MAX(n2) AS BIGINT) AS n2,
           CAST((CAST(floor(CAST((CAST(MAX(abs(cum1 * n2 - cum2 * n1)) AS DOUBLE)
                      / (MAX(n1) * MAX(n2))) AS DOUBLE) * 1000000000.0 + 0.5) AS DOUBLE) / 1000000000.0) AS DOUBLE) AS ks_d
    FROM cdf
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic per event_type between the
    even/odd event_id cohorts — the drift detector that, unlike PSI
    (q_psi_drift), needs no binning choice. The CDF difference is kept as
    the INTEGER |cum1*n2 − cum2*n1| until the final single division, so
    the max is over exact values and no float boundary can reorder it.
    Values are grouped (distinct) first, making tie handling identical on
    both engines. Scales: one hash agg on (type, value), one ordered
    window per type — same shape as any per-key CDF."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("event_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.when(F.col("event_id") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("c2"),
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("event_type")
    cdf = pts.select(
        "event_type",
        F.sum("c1").over(wc).alias("cum1"),
        F.sum("c2").over(wc).alias("cum2"),
        F.sum("c1").over(wt).alias("n1"),
        F.sum("c2").over(wt).alias("n2"),
    )
    return (
        cdf.groupBy("event_type")
        .agg(
            F.max("n1").cast("bigint").alias("n1"),
            F.max("n2").cast("bigint").alias("n2"),
            F.max(F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")))
            .alias("__d_num"),
        )
        .select(
            "event_type",
            "n1",
            "n2",
            portable_round(
                F.col("__d_num").cast("double") / (F.col("n1") * F.col("n2")), 9
            )
            .cast("double")
            .alias("ks_d"),
        )
        .orderBy("event_type")
    )


@query(
    "q_rolling_corr",
    oracle="""
    WITH pairs AS (
        SELECT event_type, event_id, value AS x,
               lag(value) OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS y
        FROM events
    ),
    seq AS (
        SELECT event_type, event_id, x, y,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY event_id) AS rn
        FROM pairs WHERE y IS NOT NULL
    ),
    sums AS (
        SELECT event_type, event_id, rn,
               CAST(SUM(CAST(x AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sy,
               CAST(SUM(CAST(x * y AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sxy,
               CAST(SUM(CAST(x * x AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sxx,
               CAST(SUM(CAST(y * y AS DECIMAL(38,6))) OVER w AS DOUBLE) AS syy
        FROM seq
        WINDOW w AS (PARTITION BY event_type ORDER BY rn
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, event_id,
           CASE WHEN (20 * sxx - sx * sx) * (20 * syy - sy * sy) > 0
                THEN CAST((CAST(floor(CAST(((20 * sxy - sx * sy)
                     / sqrt((20 * sxx - sx * sx) * (20 * syy - sy * sy))) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                     AS DOUBLE)
           END AS corr20
    FROM sums WHERE rn >= 20
    ORDER BY event_type, event_id
    """,
)
def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 20-observation lag-1 autocorrelation per event_type — the
    feature-engineering shape for momentum/mean-reversion signals. Frame
    sums go through the exact-decimal cast (sliding-window float
    accumulation differs per engine: Spark recomputes, DuckDB
    subtracts-on-evict), then the Pearson combination runs in double with
    the identical operation order on both sides before a 6dp round.
    Scales: two ordered windows per type partition, no self-join — the
    frame is O(1) state per row."""
    ev = load_table(spark, sf_dir, "events")
    lagw = Window.partitionBy("event_type").orderBy("ts", "event_id")
    pairs = ev.select(
        "event_type",
        "event_id",
        F.col("value").alias("x"),
        F.lag("value").over(lagw).alias("y"),
    ).filter(F.col("y").isNotNull())
    # prefix-sum form of the 20-row sliding frame: a ROWS BETWEEN -19
    # AND CURRENT decimal SUM makes Spark re-add the 20-term frame for
    # EVERY row; the running (unbounded-preceding) sum is O(1)/row and
    # the frame sum is recovered exactly as S(i) − S(i−20) — lossless
    # because the accumulation is exact DECIMAL, so the 5 window sums
    # drop from 20 BigDecimal adds/row each to one add + one subtract.
    # Both window layers share (event_type, event_id) ordering, so the
    # second needs no extra sort. Magnitude bound: the running sum is
    # unbounded where the old frame form summed 20 rows, but DECIMAL(38,6)
    # holds |Σ| < 1e32 — event values are O(1e3), so overflow (a silent
    # NULL under non-ANSI) needs ~1e29 rows per event_type; an ANSI run
    # would surface it loudly long before the bound tightens.
    w_ord = Window.partitionBy("event_type").orderBy("event_id")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)

    def csum(col: F.Column, alias: str) -> F.Column:
        return F.sum(col.cast(_DEC)).over(w_cum).alias(alias)

    cums = pairs.select(
        "event_type",
        "event_id",
        F.row_number().over(w_ord).alias("rn"),
        csum(F.col("x"), "cx"),
        csum(F.col("y"), "cy"),
        csum(F.col("x") * F.col("y"), "cxy"),
        csum(F.col("x") * F.col("x"), "cxx"),
        csum(F.col("y") * F.col("y"), "cyy"),
    )

    def frame(c: str, alias: str) -> F.Column:
        prev = F.coalesce(
            F.lag(c, 20).over(w_ord), F.lit(0).cast(_DEC)
        )
        return (F.col(c) - prev).cast("double").alias(alias)

    sums = cums.select(
        "event_type",
        "event_id",
        "rn",
        frame("cx", "sx"),
        frame("cy", "sy"),
        frame("cxy", "sxy"),
        frame("cxx", "sxx"),
        frame("cyy", "syy"),
    ).filter(F.col("rn") >= 20)
    n = F.lit(20)
    var_term = (n * F.col("sxx") - F.col("sx") * F.col("sx")) * (
        n * F.col("syy") - F.col("sy") * F.col("sy")
    )
    corr = F.when(
        var_term > 0,
        portable_round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(var_term), 6
        ).cast("double"),
    )
    return sums.select("event_type", "event_id", corr.alias("corr20")).orderBy(
        "event_type", "event_id"
    )


_SCD2_DIM_SQL = """
        SELECT c_custkey, c_mktsegment,
               CASE WHEN c_custkey % 13 = 0 THEN DATE '1998-01-01'
                    ELSE DATE '1990-01-01' END AS effective_from,
               DATE '9999-12-31' AS effective_to
        FROM customer
        UNION ALL
        SELECT c_custkey, 'LEGACY' AS c_mktsegment,
               DATE '1990-01-01' AS effective_from,
               DATE '1998-01-01' AS effective_to
        FROM customer WHERE c_custkey % 13 = 0
"""


@query(
    "q_scd2_lookup",
    oracle=f"""
    WITH dim AS ({_SCD2_DIM_SQL})
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_exact_sum("o_totalprice", "revenue")}
    FROM orders
    JOIN dim ON o_custkey = c_custkey
            AND CAST(o_orderdate AS DATE) >= effective_from
            AND CAST(o_orderdate AS DATE) < effective_to
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup: each order joins the SCD2 customer
    version that was effective ON ITS ORDER DATE (as-of effective-range
    predicate), then revenue rolls up by the segment-at-order-time — the
    late-arriving-fact / historical-reporting join every warehouse needs
    and a truncate-reload dimension (the reference's approach,
    /root/reference/dump_bigq.py:135-145) cannot answer. The versioned dim
    is built deterministically (every 13th customer was LEGACY before
    1998-01-01). Plan: dim broadcasts (equi-key + residual range filter);
    the fact never shuffles before the final small agg. At 100 TB the
    same plan holds — SCD2 dims stay broadcast-size; were they not, the
    equi-key shuffle join with the range residual is the fallback."""
    cust = load_table(spark, sf_dir, "customer")
    legacy_key = F.col("c_custkey") % 13 == 0
    current = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.when(legacy_key, F.to_date(F.lit("1998-01-01")))
        .otherwise(F.to_date(F.lit("1990-01-01")))
        .alias("effective_from"),
        F.to_date(F.lit("9999-12-31")).alias("effective_to"),
    )
    legacy = cust.filter(legacy_key).select(
        "c_custkey",
        F.lit("LEGACY").alias("c_mktsegment"),
        F.to_date(F.lit("1990-01-01")).alias("effective_from"),
        F.to_date(F.lit("1998-01-01")).alias("effective_to"),
    )
    dim = current.unionByName(legacy)
    orders = load_table(spark, sf_dir, "orders")
    od = F.to_date("o_orderdate")
    joined = orders.join(
        F.broadcast(dim),
        (F.col("o_custkey") == F.col("c_custkey"))
        & (od >= F.col("effective_from"))
        & (od < F.col("effective_to")),
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            exact_sum(F.col("o_totalprice"), "revenue"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q_weighted_median",
    oracle="""
    WITH vals AS (
        SELECT l_returnflag AS flag,
               l_extendedprice / l_quantity AS unit_price,
               SUM(CAST(l_quantity AS DECIMAL(38,6))) AS w
        FROM lineitem
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT flag, unit_price, w,
               SUM(w) OVER (PARTITION BY flag ORDER BY unit_price
                            ROWS UNBOUNDED PRECEDING) AS cumw,
               SUM(w) OVER (PARTITION BY flag) AS totw
        FROM vals
    )
    SELECT flag, MIN(unit_price) AS w_median
    FROM cum WHERE 2 * cumw >= totw
    GROUP BY flag
    ORDER BY flag
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median per return flag: the smallest unit price whose
    cumulative quantity-weight reaches half the group total — the robust
    location estimate where heavy rows should count proportionally
    (volume-weighted mid price). Weights aggregate per DISTINCT value
    first (so the cumulative sum is over value groups, not rows, and tie
    handling is definitionally identical), stay exact DECIMAL through the
    cumulative window, and the half-total test is the integer-scaled
    `2·cumw >= totw` — no float boundary. Scales: hash agg on
    (flag, value) + one ordered window per flag."""
    li = load_table(spark, sf_dir, "lineitem")
    vals = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
            F.col("l_quantity"),
        )
        .groupBy("flag", "unit_price")
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).alias("w"))
    )
    wc = (
        Window.partitionBy("flag")
        .orderBy("unit_price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("flag")
    cum = vals.select(
        "flag",
        "unit_price",
        F.sum("w").over(wc).alias("cumw"),
        F.sum("w").over(wt).alias("totw"),
    )
    return (
        cum.filter(F.col("cumw") * 2 >= F.col("totw"))
        .groupBy("flag")
        .agg(F.min("unit_price").alias("w_median"))
        .orderBy("flag")
    )


@query(
    "q_null_impute",
    oracle="""
    WITH masked AS (
        SELECT event_id, event_type,
               CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
        FROM events
    ),
    means AS (
        SELECT event_type,
               CAST((CAST(floor(CAST((CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE)
                          / COUNT(v)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS type_mean
        FROM masked WHERE v IS NOT NULL
        GROUP BY event_type
    )
    SELECT m.event_id, m.event_type,
           CAST(COALESCE(m.v, e.type_mean) AS DOUBLE) AS value_filled,
           CAST(m.v IS NULL AS BOOLEAN) AS was_imputed
    FROM masked m JOIN means e ON e.event_type = m.event_type
    ORDER BY m.event_id
    """,
)
def q_null_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mean imputation — the data-prep primitive for ML feature
    tables: rows deterministically masked (event_id % 7) get their
    event_type's mean of the PRESENT values, exact-decimal-summed and
    6dp-rounded before the fill so both engines substitute the identical
    constant. The per-type mean table broadcasts; the fact is scanned
    once for the means and once for the fill — at 100 TB the masked scan
    is column-pruned and the means agg partial-aggregates map-side."""
    ev = load_table(spark, sf_dir, "events")
    masked = ev.select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(
            F.col("value")
        ).alias("v"),
    )
    means = (
        masked.filter(F.col("v").isNotNull())
        .groupBy("event_type")
        .agg(
            portable_round(
                F.sum(F.col("v").cast(_DEC)).cast("double") / F.count("v"), 6
            )
            .cast("double")
            .alias("type_mean")
        )
    )
    return (
        masked.join(F.broadcast(means), "event_type")
        .select(
            "event_id",
            "event_type",
            F.coalesce(F.col("v"), F.col("type_mean"))
            .cast("double")
            .alias("value_filled"),
            F.col("v").isNull().alias("was_imputed"),
        )
        .orderBy("event_id")
    )


@query(
    "q_skyline_pareto",
    oracle="""
    WITH pts AS (
        SELECT o_orderkey, o_totalprice, o_orderdate
        FROM orders
    ),
    ranked AS (
        SELECT o_orderkey, o_totalprice, o_orderdate,
               MAX(o_orderdate) OVER (ORDER BY o_totalprice, o_orderdate DESC,
                                      o_orderkey
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS best_prev_date
        FROM pts
    )
    SELECT o_orderkey, o_totalprice, o_orderdate
    FROM ranked
    WHERE best_prev_date IS NULL OR o_orderdate > best_prev_date
    ORDER BY o_totalprice, o_orderkey
    """,
)
def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) query: orders not dominated on (cheaper
    price, more recent date) — the multi-criteria shortlist operator
    (classic Börzsönyi et al. SKYLINE OF). 2-D skylines reduce to ONE
    ordered window pass: sort by price (date DESC, orderkey as
    deterministic tie-breaks), keep a row iff its date beats the running
    max date of everything strictly cheaper-or-equal-before it — no
    pairwise dominance join. A point tied on price with an equal-date
    predecessor is kept only via strict improvement, matching the
    dominance definition on both engines (timestamps compare exactly).

    Scale note: the total-order window is the inherent cost of an exact
    2-D skyline; at 100 TB the same pass runs per range-partition with a
    P-row frontier merge (the rank.py pattern) — the fixture-scale plan
    keeps the single window for plan clarity."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.orderBy(
            "o_totalprice", F.desc("o_orderdate"), "o_orderkey"
        ).rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = orders.select(
        "o_orderkey",
        "o_totalprice",
        "o_orderdate",
        F.max("o_orderdate").over(w).alias("best_prev_date"),
    )
    return (
        ranked.filter(
            F.col("best_prev_date").isNull()
            | (F.col("o_orderdate") > F.col("best_prev_date"))
        )
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy("o_totalprice", "o_orderkey")
    )


@query(
    "q_abc_analysis",
    oracle="""
    WITH rev AS (
        SELECT l_partkey,
               SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
                 AS r
        FROM lineitem GROUP BY l_partkey
    ),
    cum AS (
        SELECT l_partkey, r,
               SUM(r) OVER (ORDER BY r DESC, l_partkey
                            ROWS UNBOUNDED PRECEDING) AS cum_r,
               SUM(r) OVER () AS tot_r
        FROM rev
    )
    SELECT l_partkey,
           CAST((CAST(floor(CAST((r) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS revenue,
           CASE WHEN 100 * (cum_r - r) < 60 * tot_r THEN 'A'
                WHEN 100 * (cum_r - r) < 85 * tot_r THEN 'B'
                ELSE 'C' END AS abc_class
    FROM cum
    ORDER BY revenue DESC, l_partkey
    """,
)
def q_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto 80/20) classification: parts ranked by revenue, class A
    until the cumulative share BEFORE the row reaches 60%, B until 85%,
    C after — the inventory-prioritization report. The class boundary
    compares integer-scaled exact decimals (100·cum < pct·total), so no
    float share can flip a class; the exclusive cumulative sum uses
    cum_r − r (same window, same values) rather than a second frame.

    Scale: revenue agg is one fact shuffle; the classification is a
    total-order cumulative sum over the PART grain — at billion-part
    scale it runs through operators/rank.py::global_prefix_sum (range
    shuffle + P-row offsets), same contract."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)
        ).alias("r")
    )
    wc = Window.orderBy(F.desc("r"), "l_partkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = rev.select(
        "l_partkey",
        "r",
        F.sum("r").over(wc).alias("cum_r"),
        F.sum("r").over(wt).alias("tot_r"),
    )
    before = (F.col("cum_r") - F.col("r")) * 100
    abc = (
        F.when(before < F.col("tot_r") * 60, "A")
        .when(before < F.col("tot_r") * 85, "B")
        .otherwise("C")
    )
    return cum.select(
        "l_partkey",
        portable_round("r", 4).cast("double").alias("revenue"),
        abc.alias("abc_class"),
    ).orderBy(F.desc("revenue"), "l_partkey")


@query(
    "q_running_distinct",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                            ORDER BY ts, event_id) = 1
                    THEN 1 ELSE 0 END AS first_seen
        FROM events
    )
    SELECT user_id, ts, event_id,
           CAST(SUM(first_seen) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS distinct_types_so_far
    FROM flagged
    ORDER BY user_id, ts, event_id
    """,
)
def q_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT DISTINCT per user (how many distinct event types seen
    so far at each event) — not directly window-expressible (DISTINCT is
    illegal in running frames on both engines), so it uses the
    first-occurrence identity: flag each (user, type)'s first row by
    event time, then running-sum the flags — two stacked integer windows,
    both partitioned by user_id, one shuffle, O(1) state per row at any
    scale. The feature-engineering shape behind engagement-breadth
    signals."""
    ev = load_table(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("first_seen"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return flagged.select(
        "user_id",
        "ts",
        "event_id",
        F.sum("first_seen").over(w_run).cast("bigint").alias("distinct_types_so_far"),
    ).orderBy("user_id", "ts", "event_id")


@query(
    "q_allocation_largest_remainder",
    oracle="""
    WITH rev AS (
        SELECT c_mktsegment AS segment,
               SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS r
        FROM orders JOIN customer ON c_custkey = o_custkey
        GROUP BY 1
    ),
    quota AS (
        SELECT segment, r,
               CAST(floor(10000 * r / (SELECT SUM(r) FROM rev)) AS BIGINT)
                 AS base_units,
               10000 * r - (SELECT SUM(r) FROM rev)
                 * CAST(floor(10000 * r / (SELECT SUM(r) FROM rev)) AS BIGINT)
                 AS remainder
        FROM rev
    ),
    ranked AS (
        SELECT segment, r, base_units,
               row_number() OVER (ORDER BY remainder DESC, segment)
                 AS rem_rank,
               10000 - SUM(base_units) OVER () AS leftover
        FROM quota
    )
    SELECT segment,
           CAST((CAST(floor(CAST((r) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS revenue,
           CAST(base_units + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS allocated_units
    FROM ranked
    ORDER BY segment
    """,
)
def q_allocation_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional integer allocation by the largest-remainder (Hamilton)
    method: split 10,000 budget units across market segments proportional
    to revenue so the parts sum EXACTLY to the whole — the financial
    allocation primitive naive rounding breaks. All arithmetic stays in
    exact DECIMAL: base quota = floor(units·r/total) on decimals,
    remainders compare as 10000·r − total·base (integer-scaled decimal,
    no division residue), leftovers go to the largest remainders with a
    segment-name tie-break. Segment grain is tiny; the only fact-scale
    work is the revenue agg (one shuffle + broadcast dim)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    rev = (
        orders.join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.sum(F.col("o_totalprice").cast(_DEC)).alias("r"))
    )
    total = rev.agg(F.sum("r").alias("__tot"))
    units = F.lit(10000)
    quota = rev.join(F.broadcast(total)).select(
        "segment",
        "r",
        F.floor(units * F.col("r") / F.col("__tot")).cast("bigint").alias("base_units"),
        (units * F.col("r") - F.col("__tot") * F.floor(units * F.col("r") / F.col("__tot")).cast("bigint")).alias("remainder"),
    )
    w_rank = Window.orderBy(F.desc("remainder"), "segment")
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = quota.select(
        "segment",
        "r",
        "base_units",
        F.row_number().over(w_rank).alias("rem_rank"),
        (units - F.sum("base_units").over(w_all)).alias("leftover"),
    )
    return ranked.select(
        "segment",
        portable_round("r", 4).cast("double").alias("revenue"),
        (
            F.col("base_units")
            + F.when(F.col("rem_rank") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("allocated_units"),
    ).orderBy("segment")


@query(
    "q_entropy_rate",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    trans AS (
        SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    ),
    terms AS (
        SELECT n,
               CAST(SUM(n) OVER () AS BIGINT) AS total,
               CAST(SUM(n) OVER (PARTITION BY prev_type) AS BIGINT) AS row_n
        FROM trans
    ),
    agg AS (
        SELECT CAST(MAX(total) AS BIGINT) AS n_transitions,
               CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(SUM(CAST((CAST(floor(CAST((
                   -(CAST(n AS DOUBLE) / total)
                   * ln(CAST(n AS DOUBLE) / row_n)
                 ) AS DOUBLE) * 1000000000000.0 + 0.5) AS DOUBLE)
                 / 1000000000000.0) AS DECIMAL(38,12))) AS DOUBLE) AS h
        FROM terms
    ),
    k AS (
        SELECT CAST(COUNT(DISTINCT prev_type) AS BIGINT) AS n_states
        FROM trans
    )
    SELECT n_transitions, n_cells, n_states,
           CAST((CAST(floor(CAST((h) AS DOUBLE) * 1000000.0 + 0.5)
                 AS DOUBLE) / 1000000.0) AS DOUBLE) AS entropy_rate,
           CAST(CASE WHEN n_states <= 1 THEN NULL
                ELSE (CAST(floor(CAST((h / ln(CAST(n_states AS DOUBLE)))
                      AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                END AS DOUBLE) AS entropy_rate_norm
    FROM agg, k
    """,
)
def q_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the per-user event-type Markov chain:
    H = −Σ_ij π_i P_ij ln P_ij with the stationary weights estimated
    empirically (π_i = row share of transitions), i.e.
    −Σ_ij (n_ij/N)·ln(n_ij/row_i) — ONE number for how predictable user
    journeys are (0 = deterministic next step, ln k = uniform), on top
    of q_markov_transitions' full matrix. Cell terms follow the
    cell-term policy (integer-quotient probabilities, 12dp round,
    DECIMAL sum); the ln(k) normalizer is a per-run scalar through the
    identical tree. Scale: one lag window pass, a k² hash-agg, then
    cell-table-sized windows — same posture as the transition matrix
    itself."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    terms = trans.select(
        "prev_type",
        "n",
        F.sum("n")
        .over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("bigint")
        .alias("total"),
        F.sum("n")
        .over(Window.partitionBy("prev_type"))
        .cast("bigint")
        .alias("row_n"),
    )
    p_joint = F.col("n").cast("double") / F.col("total")
    p_cond = F.col("n").cast("double") / F.col("row_n")
    agg = terms.agg(
        F.max("total").cast("bigint").alias("n_transitions"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.countDistinct("prev_type").cast("bigint").alias("n_states"),
        term_sum(-p_joint * F.log(p_cond), 12)
        .alias("h"),
    )
    return agg.select(
        "n_transitions",
        "n_cells",
        "n_states",
        portable_round(F.col("h"), 6).cast("double").alias("entropy_rate"),
        F.when(F.col("n_states") <= 1, F.lit(None).cast("double"))
        .otherwise(
            portable_round(
                F.col("h") / F.log(F.col("n_states").cast("double")), 6
            )
        )
        .cast("double")
        .alias("entropy_rate_norm"),
    )
