"""Analytics battery, part 4: position-based multi-touch attribution,
the Lorenz concentration curve, and weekday return seasonality.

Reports over the event/order warehouse the reference feeds
(``/root/reference/dump_bigq.py:131-149`` ships raw rows; the DWB's
analytic queries live in the warehouse this engine replaces natively).

Determinism: conversion grouping and touch ordering run over the padded
(ts, event_id) total order (functions/bars.py::tick_key — ties walk the
same way on both engines); fractional credits and shares are double
expressions through identical trees, term-rounded into exact DECIMAL
sums where they aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.bars import (
    bar_returns,
    ohlcv_bars,
    sql_bar_returns,
    sql_ohlcv_bars,
    sql_tick_key,
    tick_key,
)
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    sql_portable_round,
    sql_term,
    sql_term_sum,
    term,
    term_sum,
)
from stockmarketdata_dwb_etl_spark.registry import query



@query(
    "q_attribution_position",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type,
               event_type IN ('view','click','signup') AS is_touch,
               COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY {sql_tick_key()}
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS conv_idx
        FROM events
    ),
    grp AS (
        SELECT user_id, ts, event_id, event_type, is_touch, conv_idx,
               MAX(CASE WHEN event_type = 'purchase' THEN ts END)
                   OVER (PARTITION BY user_id, conv_idx) AS purchase_ts
        FROM seq
    ),
    attributed AS (
        SELECT user_id, conv_idx, ts, event_id, event_type AS channel
        FROM grp
        WHERE is_touch AND purchase_ts IS NOT NULL
          AND epoch_us(purchase_ts) - epoch_us(ts) BETWEEN 0
              AND 86400000000
    ),
    touches AS (
        SELECT channel,
               row_number() OVER (PARTITION BY user_id, conv_idx
                                  ORDER BY {sql_tick_key()}) AS pos,
               COUNT(*) OVER (PARTITION BY user_id, conv_idx) AS n_touch
        FROM attributed
    ),
    credit AS (
        SELECT channel,
               {sql_term(
                   "CASE WHEN n_touch = 1 THEN 1.0"
                   " WHEN n_touch = 2 THEN 0.5"
                   " WHEN pos = 1 OR pos = n_touch THEN 0.4"
                   " ELSE 0.2 / (n_touch - 2) END", 8)} AS w
        FROM touches
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST({sql_portable_round(
               "CAST(SUM(w) AS DOUBLE)", 4)} AS DOUBLE) AS credit,
           CAST({sql_portable_round(
               "CAST(SUM(w) AS DOUBLE)"
               " / CAST(SUM(SUM(w)) OVER () AS DOUBLE)", 6)} AS DOUBLE)
               AS credit_share
    FROM credit GROUP BY channel ORDER BY channel
    """,
)
def q_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped 40/20/40) multi-touch attribution: every
    touch (view/click/signup) within 24h before a purchase shares that
    conversion's credit — first and last touch get 40% each, the middle
    splits 20% evenly (1 touch → 100%, 2 touches → 50/50) — the
    fractional-credit complement to q_attribution_last_touch's
    winner-takes-all. Conversion journeys are cut WITHOUT a self-join:
    conv_idx = running count of PRIOR purchases assigns every event to
    its journey (the purchase is the journey's last event in the padded
    (ts,event_id) order), the journey's purchase_ts arrives via a
    full-frame window max, and touch positions are ranked over the
    ATTRIBUTED set AFTER the lookback filter (so credit sums to exactly
    1 per converting journey even when the 24h window punches holes in
    the raw touch sequence). Three window passes over user-keyed
    partitions — two exchanges total. Weights are 8dp-rounded into an
    exact DECIMAL credit sum."""
    ev = load_table(spark, sf_dir, "events")
    is_touch = F.col("event_type").isin("view", "click", "signup")
    w_prior = (
        Window.partitionBy("user_id")
        .orderBy(tick_key())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        is_touch.alias("is_touch"),
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(w_prior),
            F.lit(0),
        ).alias("conv_idx"),
    )
    g_full = Window.partitionBy("user_id", "conv_idx").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    grp = seq.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "is_touch",
        "conv_idx",
        F.max(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        )
        .over(g_full)
        .alias("purchase_ts"),
    )
    age_us = F.expr("timestampdiff(MICROSECOND, ts, purchase_ts)")
    attributed = grp.filter(
        F.col("is_touch")
        & F.col("purchase_ts").isNotNull()
        & (age_us >= 0)
        & (age_us <= 86_400_000_000)
    ).select(
        "user_id",
        "conv_idx",
        "ts",
        "event_id",
        F.col("event_type").alias("channel"),
    )
    # positions are ranked over the ATTRIBUTED set (the 24h filter can
    # punch holes in the raw touch sequence — credit must still sum to
    # exactly 1 per converting journey)
    touches = attributed.select(
        "channel",
        F.row_number()
        .over(
            Window.partitionBy("user_id", "conv_idx").orderBy(tick_key())
        )
        .alias("pos"),
        F.count(F.lit(1)).over(g_full).alias("n_touch"),
    )
    weight = (
        F.when(F.col("n_touch") == 1, F.lit(1.0))
        .when(F.col("n_touch") == 2, F.lit(0.5))
        .when(
            (F.col("pos") == 1) | (F.col("pos") == F.col("n_touch")),
            F.lit(0.4),
        )
        .otherwise(F.lit(0.2) / (F.col("n_touch") - 2))
    )
    credit = touches.select(
        "channel", term(weight, 8).alias("w")
    )
    # __c stays DECIMAL through the grand-total window sum (a double
    # window SUM is accumulation-order dependent; DECIMAL Σ is exact) —
    # each side of the share divide casts to double exactly ONCE
    agg = credit.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.sum("w").alias("__c"),
    )
    w_tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return agg.select(
        "channel",
        "n_touches",
        portable_round(F.col("__c").cast("double"), 4)
        .cast("double")
        .alias("credit"),
        portable_round(
            F.col("__c").cast("double")
            / F.sum("__c").over(w_tot).cast("double"),
            6,
        )
        .cast("double")
        .alias("credit_share"),
    ).orderBy("channel")


@query(
    "q_lorenz_curve",
    oracle=f"""
    WITH rev AS (
        SELECT o_custkey,
               SUM(CAST({sql_portable_round("o_totalprice", 4)}
                   AS DECIMAL(38,6))) AS revenue
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT revenue,
               row_number() OVER (ORDER BY revenue, o_custkey) AS rn,
               COUNT(*) OVER () AS n
        FROM rev
    ),
    per AS (
        SELECT CAST((rn - 1) * 10 // n AS INT) + 1 AS decile,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               SUM(revenue) AS rev
        FROM ranked GROUP BY 1
    )
    SELECT decile, n_customers,
           CAST({sql_portable_round(
               "CAST(rev AS DOUBLE)"
               " / CAST(SUM(rev) OVER () AS DOUBLE)", 6)} AS DOUBLE)
               AS revenue_share,
           CAST({sql_portable_round(
               "CAST(SUM(rev) OVER (ORDER BY decile) AS DOUBLE)"
               " / CAST(SUM(rev) OVER () AS DOUBLE)", 6)} AS DOUBLE)
               AS cum_share
    FROM per ORDER BY decile
    """,
)
def q_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz concentration curve over customer revenue: customers are
    ranked into revenue deciles (poorest first) and each decile reports
    its revenue share plus the cumulative share — the curve whose area
    deficit q_gini integrates, materialized as the 10-point report BI
    tools plot. Per-customer revenue is a 4dp-term exact DECIMAL sum.
    The decile cut deliberately avoids a global ntile window (one-task
    sort of the customer table — the q_gini scale lesson): ranks come
    from operators/rank.py::global_row_number (range shuffle + P-row
    offsets), and the decile is position arithmetic (rn−1)·10 div N —
    the identical integer rule on both engines. Scales: one hash-agg
    on custkey, one range shuffle of the customer-grain table, then
    constant-size windows over 10 rows."""
    from stockmarketdata_dwb_etl_spark.operators.rank import (
        global_row_number,
    )

    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(
            portable_round(F.col("o_totalprice"), 4).cast("decimal(38,6)")
        ).alias("revenue")
    )
    ranked = global_row_number(
        rev, [F.col("revenue"), F.col("o_custkey")], out="rn", n_total="n"
    )
    per = (
        ranked.withColumn(
            "decile", F.expr("CAST((rn - 1) * 10 div n AS INT) + 1")
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("revenue").alias("rev"),
        )
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return per.select(
        "decile",
        "n_customers",
        portable_round(
            F.col("rev").cast("double")
            / F.sum("rev").over(w_all).cast("double"),
            6,
        )
        .cast("double")
        .alias("revenue_share"),
        portable_round(
            F.sum("rev").over(w_cum).cast("double")
            / F.sum("rev").over(w_all).cast("double"),
            6,
        )
        .cast("double")
        .alias("cum_share"),
    ).orderBy("decile")


@query(
    "q_weekday_seasonality",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS ({sql_bar_returns("cbars")})
    SELECT symbol,
           CAST(dayofweek(bar_ts) AS INT) AS dow,
           CAST(COUNT(*) AS BIGINT) AS n_bars,
           CAST({sql_portable_round(
               sql_term_sum("r", 12) + " / COUNT(*)", 8)}
               AS DOUBLE) AS mean_ret,
           CAST(COUNT(*) FILTER (WHERE r > 0) AS BIGINT) AS n_up
    FROM rets GROUP BY symbol, dow ORDER BY symbol, dow
    """,
)
def q_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday return seasonality per symbol: mean hourly return and
    up-bar count grouped by day-of-week — the calendar-anomaly screen
    (Monday effect / weekend drift) run before any day-of-week trading
    rule. Day-of-week is normalized to Sunday=0 on both engines
    (Spark's dayofweek is 1-based Sunday, DuckDB's 0-based — the
    off-by-one is an engine trap this oracle pins). Returns are
    12dp-rounded terms in an exact DECIMAL mean. Scales: bar hash-agg,
    one lag window on symbol, then a 7·|symbol| hash-agg — partial
    aggregation collapses the final exchange."""

    rets = bar_returns(

        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")

    )
    return (
        rets.select(
            "symbol",
            (F.dayofweek("bar_ts") - 1).cast("int").alias("dow"),
            "r",
        )
        .groupBy("symbol", "dow")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bars"),
            portable_round(
                term_sum(F.col("r"), 12)
                / F.count(F.lit(1)),
                8,
            )
            .cast("double")
            .alias("mean_ret"),
            F.sum(F.when(F.col("r") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_up"),
        )
        .orderBy("symbol", "dow")
    )


@query(
    "q_waterfall_contribution",
    oracle=f"""
    WITH per AS (
        SELECT o_orderpriority AS segment,
               SUM(CASE WHEN year(o_orderdate) = 1996
                        THEN CAST({sql_portable_round("o_totalprice", 4)}
                             AS DECIMAL(38,6)) END) AS rev_base,
               SUM(CASE WHEN year(o_orderdate) = 1997
                        THEN CAST({sql_portable_round("o_totalprice", 4)}
                             AS DECIMAL(38,6)) END) AS rev_next
        FROM orders
        WHERE year(o_orderdate) IN (1996, 1997)
        GROUP BY o_orderpriority
    )
    SELECT segment,
           CAST({sql_portable_round("CAST(rev_base AS DOUBLE)", 2)}
               AS DOUBLE) AS rev_base,
           CAST({sql_portable_round("CAST(rev_next AS DOUBLE)", 2)}
               AS DOUBLE) AS rev_next,
           CAST({sql_portable_round(
               "CAST(rev_next - rev_base AS DOUBLE)", 2)} AS DOUBLE)
               AS delta,
           CAST({sql_portable_round(
               "CAST(rev_next - rev_base AS DOUBLE)"
               " / nullif(CAST(SUM(rev_next - rev_base) OVER ()"
               " AS DOUBLE), 0.0)", 6)} AS DOUBLE) AS delta_share
    FROM per ORDER BY segment
    """,
)
def q_waterfall_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period waterfall decomposition: each order-priority
    segment's 1996→1997 revenue delta and its share of the TOTAL
    year-over-year change — the bridge chart every revenue review opens
    with (which segments drove the move). Both period sums come from
    ONE conditional aggregation over a single scan (no per-period
    re-scan or self-join — the q_filter_funnel shape); revenue
    accumulates as 4dp-rounded terms in exact DECIMAL; the share
    denominator is a window over the 5-row segment table with a
    zero-total guard. Scales: one pushed-down scan + one hash-agg on a
    5-value key."""
    orders = load_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    price = portable_round(F.col("o_totalprice"), 4).cast("decimal(38,6)")
    per = (
        orders.filter(yr.isin(1996, 1997))
        .groupBy(F.col("o_orderpriority").alias("segment"))
        .agg(
            F.sum(F.when(yr == 1996, price)).alias("rev_base"),
            F.sum(F.when(yr == 1997, price)).alias("rev_next"),
        )
    )
    w_tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    delta = F.col("rev_next") - F.col("rev_base")
    return per.select(
        "segment",
        portable_round(F.col("rev_base").cast("double"), 2)
        .cast("double")
        .alias("rev_base"),
        portable_round(F.col("rev_next").cast("double"), 2)
        .cast("double")
        .alias("rev_next"),
        portable_round(delta.cast("double"), 2)
        .cast("double")
        .alias("delta"),
        portable_round(
            delta.cast("double")
            / F.nullif(F.sum(delta).over(w_tot).cast("double"), F.lit(0.0)),
            6,
        )
        .cast("double")
        .alias("delta_share"),
    ).orderBy("segment")


@query(
    "q_window_funnel",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
        FROM events GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN u ON u.user_id = e.user_id
        WHERE e.event_type = 'click' AND u.t1 IS NOT NULL AND e.ts > u.t1
          AND epoch_us(e.ts) - epoch_us(u.t1) <= 86400000000
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e
        JOIN u ON u.user_id = e.user_id
        JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = 'signup' AND e.ts > s2.t2
          AND epoch_us(e.ts) - epoch_us(u.t1) <= 86400000000
        GROUP BY e.user_id
    ),
    s4 AS (
        SELECT e.user_id, MIN(e.ts) AS t4
        FROM events e
        JOIN u ON u.user_id = e.user_id
        JOIN s3 ON s3.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s3.t3
          AND epoch_us(e.ts) - epoch_us(u.t1) <= 86400000000
        GROUP BY e.user_id
    ),
    depth AS (
        SELECT u.user_id,
               CASE WHEN s4.t4 IS NOT NULL THEN 4
                    WHEN s3.t3 IS NOT NULL THEN 3
                    WHEN s2.t2 IS NOT NULL THEN 2
                    WHEN u.t1 IS NOT NULL THEN 1
                    ELSE 0 END AS depth
        FROM u
        LEFT JOIN s2 ON s2.user_id = u.user_id
        LEFT JOIN s3 ON s3.user_id = u.user_id
        LEFT JOIN s4 ON s4.user_id = u.user_id
    )
    SELECT depth,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST({sql_portable_round(
               "CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER ()", 6)}
               AS DOUBLE) AS user_share
    FROM depth GROUP BY depth ORDER BY depth
    """,
)
def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-window funnel (the windowFunnel operator): per user, the
    deepest prefix of view → click → signup → purchase completed IN
    ORDER within 24h of the user's FIRST view — the earliest-chain
    deterministic variant (each step takes the earliest qualifying
    event after the previous step; window anchored at step 1), vs
    q_funnel's unordered step counts. Spark computes all four step
    timestamps in ONE pass over a single user_id window partition:
    t1 = min view ts (full-frame), then each t_k = min ts of the next
    step type after t_{k−1} within the window — four window exprs over
    the same shuffle, no self-joins (the oracle uses chained
    aggregation CTEs for the same semantics). Scales: one window
    shuffle on user_id + a 5-row depth hash-agg."""
    ev = load_table(spark, sf_dir, "events")
    g = Window.partitionBy("user_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    in_win = lambda t1: (  # noqa: E731
        F.expr(f"timestampdiff(MICROSECOND, {t1}, ts)") <= 86_400_000_000
    )
    step1 = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.min(F.when(F.col("event_type") == "view", F.col("ts")))
        .over(g)
        .alias("t1"),
    )
    step2 = step1.select(
        "user_id",
        "ts",
        "event_type",
        "t1",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & F.col("t1").isNotNull()
                & (F.col("ts") > F.col("t1"))
                & in_win("t1"),
                F.col("ts"),
            )
        )
        .over(g)
        .alias("t2"),
    )
    step3 = step2.select(
        "user_id",
        "ts",
        "event_type",
        "t1",
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "signup")
                & F.col("t2").isNotNull()
                & (F.col("ts") > F.col("t2"))
                & in_win("t1"),
                F.col("ts"),
            )
        )
        .over(g)
        .alias("t3"),
    )
    step4 = step3.select(
        "user_id",
        "t1",
        "t2",
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & F.col("t3").isNotNull()
                & (F.col("ts") > F.col("t3"))
                & in_win("t1"),
                F.col("ts"),
            )
        )
        .over(g)
        .alias("t4"),
    )
    per_user = step4.groupBy("user_id").agg(
        F.max(
            F.when(F.col("t4").isNotNull(), 4)
            .when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .when(F.col("t1").isNotNull(), 1)
            .otherwise(0)
        ).alias("depth")
    )
    w_tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    counts = per_user.groupBy("depth").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    return counts.select(
        "depth",
        "n_users",
        portable_round(
            F.col("n_users").cast("double")
            / F.sum("n_users").over(w_tot),
            6,
        )
        .cast("double")
        .alias("user_share"),
    ).orderBy("depth")
