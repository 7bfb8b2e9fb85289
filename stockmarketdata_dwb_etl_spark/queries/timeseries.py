"""Time-series warehouse operators over the event stream: OHLC bar
resampling, calendar gap-fill with last-observation-carried-forward, and
running-peak drawdown.

This is the query surface the reference's warehouse exists to serve —
its BigQuery table is daily OHLCV bars per index
(``/root/reference/dump_bigq.py:47-56``); these operators produce and
analyze exactly that bar shape natively in Spark, with ``events`` as the
tick-level stand-in (event_type = symbol, value = price).

Determinism: open/close need a total order inside each bar; ts alone can
tie, so both engines order by a zero-padded ``(epoch_micros, event_id)``
string key (``min_by``/``arg_min`` over VARCHAR — DuckDB's arg_min does
not accept struct keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.functions.bars import (
    OHLC,
    close_tick,
    ohlcv_bars,
    open_tick,
    sql_close_tick,
    sql_ohlcv_bars,
    sql_open_tick,
)
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    sql_portable_round,
    sql_term_sum,
    term_sum,
)
from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.registry import query

@query(
    "q_ohlc_resample",
    oracle=f"""
    SELECT event_type,
           date_trunc('hour', ts) AS bar_ts,
           {sql_open_tick()} AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           {sql_close_tick()} AS close,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           CAST((CAST(floor(CAST((SUM(value)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS volume_proxy
    FROM events
    GROUP BY event_type, date_trunc('hour', ts)
    """,
)
def q_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: tick-level events → hourly bars per symbol
    (event_type) — the resample step that turns a tick store into the
    reference's bar warehouse. ``min_by``/``max_by`` on the padded
    (ts, event_id) key pick open/close inside the partial aggregate, so
    the whole operator is ONE hash-aggregate shuffle — no per-bar sort,
    no window. At 100 TB: partial aggregation map-side reduces each
    partition to one row per (symbol, hour) before the exchange."""
    ev = load_table(spark, sf_dir, "events")
    bar = F.date_trunc("hour", F.col("ts")).alias("bar_ts")
    return ev.groupBy("event_type", bar).agg(
        open_tick().alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        close_tick().alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
        portable_round(F.sum("value"), 4).alias("volume_proxy"),
    )


@query(
    "q_gap_fill_locf",
    oracle="""
    WITH agg AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST((CAST(floor(CAST((SUM(value)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS hour_value
        FROM events GROUP BY 1, 2
    ), span AS (
        SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM agg GROUP BY 1
    ), cal AS (
        SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        FROM span
    )
    SELECT c.event_type, c.h AS bar_ts,
           LAST_VALUE(a.hour_value IGNORE NULLS) OVER (
               PARTITION BY c.event_type ORDER BY c.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
           a.hour_value IS NULL AS was_gap
    FROM cal c LEFT JOIN agg a ON a.event_type = c.event_type AND a.h = c.h
    """,
)
def q_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill + LOCF: densify each symbol's hourly series over
    its own [min, max] hour range and carry the last observation forward
    into the gaps — the regularization step every bar warehouse runs
    before window analytics (a missing bar must mean "price unchanged",
    not "row absent"). The calendar is generated per key from a 1-row-
    per-key span table (sequence + explode — rows created map-side, never
    collected); the fill is one partitioned window. At 100 TB the span
    table is tiny (one row per symbol) and broadcast-joined."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(portable_round(F.sum("value"), 4).alias("hour_value"))
    span = agg.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    cal = span.select(
        "event_type",
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("h"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cal.join(agg, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.col("h").alias("bar_ts"),
            F.last("hour_value", ignorenulls=True).over(w).alias("filled_value"),
            F.col("hour_value").isNull().alias("was_gap"),
        )
    )


@query(
    "q_drawdown",
    oracle=f"""
    WITH bars AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               {sql_close_tick()}
                   AS price
        FROM events GROUP BY 1, 2
    ), dd AS (
        SELECT event_type, h, price,
               MAX(price) OVER (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        FROM bars
    )
    SELECT event_type, h AS bar_ts, price, peak,
           CAST((CAST(floor(CAST((price / peak - 1.0) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS drawdown
    FROM dd
    """,
)
def q_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-peak drawdown per symbol over the hourly mean-price series:
    cumulative max + ratio — the risk metric every OHLCV warehouse
    reports. One hash-aggregate shuffle to bars, one partitioned window
    (cumulative frame, no full sort of the table) — both scale as
    per-symbol streams. The bar price is the CLOSE (max_by on the padded
    tick key) — an exact stored value: an AVG-based price systematically
    lands on 4-dp half-rounding boundaries (2-decimal inputs over counts
    like 8/16/40 terminate at the 5th decimal) where the engines' double
    rounding disagrees by 1 ulp; measured at sf0.1."""
    ev = load_table(spark, sf_dir, "events")
    bars = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(close_tick().alias("price"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = bars.withColumn("peak", F.max("price").over(w))
    return dd.select(
        "event_type",
        F.col("h").alias("bar_ts"),
        "price",
        "peak",
        portable_round(F.col("price") / F.col("peak") - 1.0, 4).alias("drawdown"),
    )


@query(
    "q_rollup_cascade",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               COUNT(*) AS n, CAST((CAST(floor(CAST((SUM(value)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2
    ), daily AS (
        SELECT event_type, date_trunc('day', h) AS d,
               CAST(SUM(n) AS BIGINT) AS n, CAST((CAST(floor(CAST((SUM(v)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS v
        FROM hourly GROUP BY 1, 2
    )
    SELECT event_type, date_trunc('month', d) AS month_start,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST((CAST(floor(CAST((SUM(v)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS sum_value
    FROM daily GROUP BY 1, 2
    """,
)
def q_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample cascade: ticks → hourly → daily → monthly, each level
    re-aggregating the PREVIOUS level (sum-of-sums, count-of-counts) — the
    continuous-aggregate / hypertable-rollup pattern. At 100 TB the fact
    table is scanned exactly once (hourly); daily and monthly aggregate
    tables that are orders of magnitude smaller, and each level is the
    materialization a serving layer would store. Each re-aggregation is a
    shrinking hash shuffle with map-side combine."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        F.count(F.lit(1)).alias("n"), portable_round(F.sum("value"), 4).alias("v")
    )
    daily = hourly.groupBy(
        "event_type", F.date_trunc("day", F.col("h")).alias("d")
    ).agg(F.sum("n").alias("n"), portable_round(F.sum("v"), 4).alias("v"))
    return daily.groupBy(
        "event_type", F.date_trunc("month", F.col("d")).alias("month_start")
    ).agg(
        F.sum("n").alias("n_events"),
        portable_round(F.sum("v"), 4).alias("sum_value"),
    )


@query(
    "q_winsorize",
    oracle="""
    WITH bounds AS (
        SELECT event_type,
               quantile_cont(value, 0.01) AS p01,
               quantile_cont(value, 0.99) AS p99
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST((CAST(floor(CAST((b.p01) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS p01,
           CAST((CAST(floor(CAST((b.p99) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS p99,
           CAST(SUM(CASE WHEN e.value < b.p01 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_low,
           CAST(SUM(CASE WHEN e.value > b.p99 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_high,
           CAST((CAST(floor(CAST((AVG(least(greatest(e.value, b.p01), b.p99))) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE)
               AS avg_winsorized
    FROM events e JOIN bounds b ON e.event_type = b.event_type
    GROUP BY e.event_type, b.p01, b.p99
    """,
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clip each symbol's values at its exact p01/p99 and
    report clip counts + the winsorized mean — the outlier-robust
    normalization step of a feature pipeline. Exact percentiles (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``, both linear-interpolation)
    computed per key in one aggregate; the tiny per-key bounds table
    broadcasts back onto the fact scan, so the data pass is map-side
    clip + one hash aggregate. At 100 TB swap the exact percentile for
    the mergeable approx sketch (q_approx_percentile) — same plan shape."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.01)).alias("p01"),
        F.percentile("value", F.lit(0.99)).alias("p99"),
    )
    joined = ev.join(F.broadcast(bounds), "event_type")
    clipped = F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99"))
    return joined.groupBy("event_type", "p01", "p99").agg(
        F.sum((F.col("value") < F.col("p01")).cast("bigint")).alias(
            "n_clipped_low"
        ),
        F.sum((F.col("value") > F.col("p99")).cast("bigint")).alias(
            "n_clipped_high"
        ),
        portable_round(F.avg(clipped), 4).alias("avg_winsorized"),
    ).select(
        "event_type",
        portable_round("p01", 4).alias("p01"),
        portable_round("p99", 4).alias("p99"),
        "n_clipped_low",
        "n_clipped_high",
        "avg_winsorized",
    )


@query(
    "q_user_path",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS rn
        FROM events
    )
    SELECT user_id,
           string_agg(event_type, '>' ORDER BY rn) AS path,
           CAST(COUNT(*) AS BIGINT) AS n_steps
    FROM ordered WHERE rn <= 10
    GROUP BY user_id
    """,
)
def q_user_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey path analytics: each user's first 10 events as an
    ordered 'click>view>purchase' path string — the sequence feature
    behind funnel mining and next-action models. Ordered aggregation in
    Spark is done the DETERMINISTIC way: collect structs of (order-key,
    value), array_sort (total order via the padded tick key), then
    project — never relying on collect_list's incidental ordering. One
    window for the first-10 cut + one hash aggregate, both partitioned by
    user — scales as per-user streams."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first10 = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("user_id", "rn", "event_type")
    )
    steps = first10.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("rn"), F.col("event_type")))
        ).alias("steps"),
        F.count(F.lit(1)).alias("n_steps"),
    )
    return steps.select(
        "user_id",
        F.array_join(
            F.transform("steps", lambda s: s.getField("event_type")), ">"
        ).alias("path"),
        "n_steps",
    )


@query(
    "q_zscore_outliers",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", "close")}), stats AS (
        SELECT symbol, bar_ts, close,
               AVG(close) OVER w AS mu,
               STDDEV_SAMP(close) OVER w AS sigma,
               COUNT(*) OVER w AS n_in_window
        FROM bars
        WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts
                     ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    )
    SELECT symbol, bar_ts, close,
           CAST(n_in_window AS BIGINT) AS n_in_window,
           CASE WHEN sigma IS NULL OR sigma = 0 THEN NULL
                ELSE CAST((CAST(floor(CAST(((close - mu) / sigma) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) END AS z,
           COALESCE(ABS(CASE WHEN sigma IS NULL OR sigma = 0 THEN NULL
                ELSE (CAST(floor(CAST(((close - mu) / sigma) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) END) > 2, FALSE) AS is_outlier
    FROM stats
    """,
)
def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags over the hourly close series per
    symbol: 24-bar trailing mean/stddev, z = (close - μ)/σ, outlier when
    |z| > 2 — the monitoring query a bar warehouse runs after each load
    (the reference's `Change %` column is the 1-bar special case of this).

    The bar value is the deterministic CLOSE (max_by on the padded
    (ts,event_id) key), not a float-summed hourly mean, so both engines
    window over bit-identical inputs; the flag compares the 4dp-ROUNDED z
    in both engines so no ulp can flip it. Scale: one hash-agg shuffle to
    bars, then the window shuffles once on symbol — bar count is already
    ~6 orders below tick count, so the window stage is trivial at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    bars = ohlcv_bars(ev, "hour", "close")
    w = (
        Window.partitionBy("symbol")
        .orderBy("bar_ts")
        .rowsBetween(-23, Window.currentRow)
    )
    stats = bars.select(
        "symbol",
        "bar_ts",
        "close",
        F.avg("close").over(w).alias("mu"),
        F.stddev_samp("close").over(w).alias("sigma"),
        F.count(F.lit(1)).over(w).alias("n_in_window"),
    )
    z = F.when(
        F.col("sigma").isNull() | (F.col("sigma") == 0), F.lit(None)
    ).otherwise(portable_round((F.col("close") - F.col("mu")) / F.col("sigma"), 4))
    return stats.select(
        "symbol",
        "bar_ts",
        "close",
        "n_in_window",
        z.alias("z"),
        F.coalesce(F.abs(z) > 2, F.lit(False)).alias("is_outlier"),
    )


@query(
    "q_corr_pairs",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", "close")})
    SELECT a.symbol AS sym_a, b.symbol AS sym_b,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST((CAST(floor(CAST((CORR(a.close, b.close)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS pearson_r
    FROM bars a JOIN bars b
      ON a.bar_ts = b.bar_ts AND a.symbol < b.symbol
    GROUP BY a.symbol, b.symbol
    """,
)
def q_corr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation between symbols' hourly close series —
    the cross-asset co-movement matrix computed over the bar warehouse
    (symbol count is small and fixed; hours are the long axis).

    Self-equi-join on bar_ts aligns the series; `a.symbol < b.symbol`
    keeps each unordered pair once. Scale: the bars relation is tiny
    relative to ticks (one row per symbol-hour), so the join broadcasts
    one side and CORR reduces each pair to a single row; the tick→bar
    hash-agg is the only full-data shuffle."""
    ev = load_table(spark, sf_dir, "events")
    bars = ohlcv_bars(ev, "hour", "close")
    a = bars.alias("a")
    b = bars.alias("b")
    joined = a.join(
        F.broadcast(b),
        (F.col("a.bar_ts") == F.col("b.bar_ts"))
        & (F.col("a.symbol") < F.col("b.symbol")),
    )
    return joined.groupBy(
        F.col("a.symbol").alias("sym_a"), F.col("b.symbol").alias("sym_b")
    ).agg(
        F.count(F.lit(1)).alias("n_hours"),
        portable_round(F.corr(F.col("a.close"), F.col("b.close")), 4).alias("pearson_r"),
    )


@query(
    "q_regression",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", "close")}), mkt AS (
        SELECT bar_ts, close AS mkt_close FROM bars WHERE symbol = 'view'
    )
    SELECT b.symbol,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST((CAST(floor(CAST((regr_slope(b.close, m.mkt_close)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS beta,
           CAST((CAST(floor(CAST((regr_intercept(b.close, m.mkt_close)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE)
               AS alpha,
           CAST((CAST(floor(CAST((regr_r2(b.close, m.mkt_close)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS r2
    FROM bars b JOIN mkt m ON b.bar_ts = m.bar_ts
    WHERE b.symbol <> 'view'
    GROUP BY b.symbol
    """,
)
def q_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol OLS market regression: each symbol's hourly close series
    regressed on the market proxy series (symbol 'view'), producing the
    beta / alpha / R² battery a bar warehouse serves to risk models.

    Built-in JVM ``regr_slope/regr_intercept/regr_r2`` aggregates — the
    whole regression is ONE hash-agg over the bar join, no UDF, no
    driver-side math (the closed-form moments accumulate map-side like
    any algebraic aggregate). The market side is one symbol's bars —
    tiny — so it broadcasts; the deterministic close basis (max_by on the
    padded (ts,event_id) key) keeps both engines' inputs bit-identical."""
    ev = load_table(spark, sf_dir, "events")
    bars = ohlcv_bars(ev, "hour", "close")
    mkt = bars.filter(F.col("symbol") == "view").select(
        "bar_ts", F.col("close").alias("mkt_close")
    )
    joined = bars.filter(F.col("symbol") != "view").join(
        F.broadcast(mkt), "bar_ts"
    )
    return joined.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_hours"),
        portable_round(F.regr_slope(F.col("close"), F.col("mkt_close")), 4).alias("beta"),
        portable_round(
            F.regr_intercept(F.col("close"), F.col("mkt_close")), 4
        ).alias("alpha"),
        portable_round(F.regr_r2(F.col("close"), F.col("mkt_close")), 4).alias("r2"),
    )


@query(
    "q_ewma",
    oracle=f"""
    WITH RECURSIVE bars AS (
        SELECT event_type AS symbol,
               date_trunc('hour', ts) AS bar_ts,
               {sql_close_tick()} AS close,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY date_trunc('hour', ts)) AS rn
        FROM events GROUP BY 1, 2
    ), packed AS (
        -- pack each symbol's close series into a list so the recursion
        -- carries 1 row per symbol per step (vs re-joining the full bars
        -- table every level: measured 12.6s -> 0.9s at sf0.01, results
        -- bit-identical — the multiply-add order is unchanged)
        SELECT symbol, list(close ORDER BY rn) AS xs, len(list(close)) AS n
        FROM bars GROUP BY symbol
    ), rec AS (
        SELECT symbol, xs, n, 1 AS rn, xs[1] AS ewma FROM packed
        UNION ALL
        SELECT symbol, xs, n, rn + 1, 0.8 * ewma + 0.2 * xs[rn + 1]
        FROM rec WHERE rn < n
    )
    SELECT b.symbol, b.bar_ts, b.close,
           CAST((CAST(floor(CAST((r.ewma) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS ewma
    FROM bars b JOIN rec r ON b.symbol = r.symbol AND b.rn = r.rn
    """,
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per symbol (α = 0.2,
    adjust=False): e_t = 0.8·e_{t−1} + 0.2·x_t seeded at the first bar —
    the smoothing recurrence risk systems run over close series. The
    recurrence is inherently SEQUENTIAL (each value depends on the
    previous), which no built-in window frame expresses, so this is the
    documented (b)-path custom operator: Arrow-batched ``applyInPandas``
    per symbol, each group computed in one vectorized pass driver-free.
    The oracle is the same recurrence as a recursive CTE, multiply-add
    order matched exactly (0.8·e + 0.2·x) so float64 results agree
    bit-for-bit before the 4dp round.

    Scale: groups are symbols — the series per symbol is bar-grained
    (calendar-bounded, ≤ 10⁴ rows/year), so each Arrow batch is small no
    matter the tick volume; the tick→bar hash-agg upstream is the only
    full-data shuffle. Skewed/giant single series would chunk by time
    range with carried seed (the applyInPandasWithState pattern,
    see streaming/jobs.py)."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    bars = ohlcv_bars(ev, "hour", "close")

    def ewma_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bar_ts").reset_index(drop=True)
        out, prev = [], None
        for x in pdf["close"]:
            prev = x if prev is None else 0.8 * prev + 0.2 * x
            out.append(prev)
        pdf["ewma"] = out
        return pdf

    long = bars.groupBy("symbol").applyInPandas(
        ewma_group, "symbol string, bar_ts timestamp, close double, ewma double"
    )
    return long.select("symbol", "bar_ts", "close", portable_round("ewma", 4).alias("ewma"))


@query(
    "q_unpivot_long",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", *OHLC)}), long AS (
        SELECT symbol, 'open' AS field, open AS v FROM bars
        UNION ALL SELECT symbol, 'high', high FROM bars
        UNION ALL SELECT symbol, 'low', low FROM bars
        UNION ALL SELECT symbol, 'close', close FROM bars
    )
    SELECT symbol, field,
           CAST(COUNT(*) AS BIGINT) AS n_bars,
           CAST({sql_portable_round(sql_term_sum("v", 12) + " / COUNT(*)", 4)} AS DOUBLE) AS avg_value
    FROM long GROUP BY symbol, field
    """,
)
def q_unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape: hourly OHLC bars unpivoted so (open, high, low,
    close) become rows keyed by a `field` column — the melt that feeds
    generic per-metric pipelines (plotting, anomaly scans) without a
    per-column query. Native ``DataFrame.unpivot`` (SQL UNPIVOT / stack):
    a zero-shuffle row-expanding projection — ×4 rows, same partitions —
    followed by one hash-agg; the oracle reshapes via UNION ALL.

    Scale: unpivot is map-only so the reshape itself never exchanges
    data; only the downstream agg shuffles, on the (symbol, field) key
    whose cardinality is symbols × 4."""
    ev = load_table(spark, sf_dir, "events")
    bars = ohlcv_bars(ev, "hour", *OHLC)
    long = bars.unpivot(
        ids=["symbol", "bar_ts"],
        values=["open", "high", "low", "close"],
        variableColumnName="field",
        valueColumnName="v",
    )
    # exact order-independent Σ (functions/exact.py::sql_term_sum): a
    # double AVG depends on the order partial sums merge, and DuckDB's
    # threads made the oracle flip at 4dp half boundaries between runs
    total = term_sum("v", 12)
    n = F.count(F.lit(1))
    return long.groupBy("symbol", "field").agg(
        n.alias("n_bars"),
        portable_round(total / n, 4).alias("avg_value"),
    )
