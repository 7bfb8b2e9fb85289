"""Timeseries battery round 3b: seasonal decomposition, linear forecast
extrapolation, and IQR outlier fences.

Rounds out the anomaly/forecast corner of the market-analytics surface
(joining q_zscore_outliers, q_mad_outliers, q_cusum_changepoint,
q_regression): classical moving-average decomposition, the simplest
trend-extrapolation forecast, and Tukey fences.

Determinism: bar bases use the padded (ts,event_id) ordering key from
timeseries.py; frame sums accumulate in exact DECIMAL; regression uses
the built-in algebraic regr_* aggregates both engines share; quartiles
use the linearly-interpolated percentile both engines define at rank
(n−1)·p.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.functions.bars import (
    ohlcv_bars,
    sql_ohlcv_bars,
    sql_tick_key,
    tick_key,
)
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    split_term_sum,
    sql_split_term_sum,
    sql_term,
    sql_term_sum,
    term,
    term_sum,
)
from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.registry import query

_DEC = "decimal(38,6)"


@query(
    "q_seasonal_decompose",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", "close")}),
    seq AS (
        SELECT symbol, bar_ts, close, hour(bar_ts) AS hod,
               row_number() OVER (PARTITION BY symbol ORDER BY bar_ts) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY symbol) AS BIGINT) AS n
        FROM bars
    ),
    trend AS (
        SELECT symbol, bar_ts, close, hod, rn, n,
               CAST(SUM(CAST(close AS DECIMAL(38,6))) OVER w AS DOUBLE) / 25
                 AS trend
        FROM seq
        WINDOW w AS (PARTITION BY symbol ORDER BY rn
                     ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ),
    resid AS (
        SELECT symbol, hod, close - trend AS r
        FROM trend WHERE rn > 12 AND rn <= n - 12
    )
    SELECT symbol, hod,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST((CAST(floor(CAST((CAST(SUM(CAST(r AS DECIMAL(38,6))) AS DOUBLE)
                      / COUNT(*)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS seasonal
    FROM resid
    GROUP BY symbol, hod
    ORDER BY symbol, hod
    """,
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition, seasonal component: trend = a
    centered 25-bar moving average over the hourly close series (full
    windows only — the textbook edge trim), residual = close − trend,
    seasonal profile = mean residual per hour-of-day per symbol. Both
    the trend frame sum and the residual mean accumulate in exact
    DECIMAL; the /25 and final mean divide in identical-tree double.
    Scales: one symbol-keyed window + one (symbol,hod)-keyed hash-agg —
    two shuffles, both on bar-grained (calendar-bounded) data."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    wseq = Window.partitionBy("symbol").orderBy("bar_ts")
    seq = bars.select(
        "symbol",
        "bar_ts",
        "close",
        F.hour("bar_ts").alias("hod"),
        F.row_number().over(wseq).alias("rn"),
        F.count(F.lit(1))
        .over(
            Window.partitionBy("symbol").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("bigint")
        .alias("n"),
    )
    wtrend = Window.partitionBy("symbol").orderBy("rn").rowsBetween(-12, 12)
    trend = seq.select(
        "symbol",
        "hod",
        "close",
        "rn",
        "n",
        (
            F.sum(F.col("close").cast(_DEC)).over(wtrend).cast("double")
            / F.lit(25)
        ).alias("trend"),
    )
    resid = trend.filter(
        (F.col("rn") > 12) & (F.col("rn") <= F.col("n") - 12)
    ).select("symbol", "hod", (F.col("close") - F.col("trend")).alias("r"))
    return (
        resid.groupBy("symbol", "hod")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_obs"),
            portable_round(
                F.sum(F.col("r").cast(_DEC)).cast("double") / F.count(F.lit(1)),
                6,
            )
            .cast("double")
            .alias("seasonal"),
        )
        .orderBy("symbol", "hod")
    )


@query(
    "q_forecast_linear",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", "close")}),
    seq AS (
        SELECT symbol, close,
               CAST(row_number() OVER (PARTITION BY symbol ORDER BY bar_ts)
                    AS DOUBLE) AS rn
        FROM bars
    ),
    fit AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS n_bars,
               regr_slope(close, rn) AS slope,
               regr_intercept(close, rn) AS icept
        FROM seq GROUP BY symbol
    )
    SELECT f.symbol, h.horizon, f.n_bars,
           CAST((CAST(floor(CAST((f.icept + f.slope * (f.n_bars + h.horizon)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0)
                AS DOUBLE) AS forecast
    FROM fit f CROSS JOIN (
        SELECT unnest(generate_series(1, 5)) AS horizon) h
    ORDER BY f.symbol, h.horizon
    """,
)
def q_forecast_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-trend forecast: per-symbol OLS of close on bar index
    (algebraic regr_slope/regr_intercept aggregates — map-side moment
    accumulation, no iteration), extrapolated 1–5 bars past the series
    end via a generated horizon spine. The naive-but-canonical baseline
    every forecasting pipeline is judged against. Scales: one hash-agg
    per symbol + a 5-row explode — nothing global."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    seq = bars.select(
        "symbol",
        "close",
        F.row_number()
        .over(Window.partitionBy("symbol").orderBy("bar_ts"))
        .cast("double")
        .alias("rn"),
    )
    fit = seq.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bars"),
        F.regr_slope("close", "rn").alias("slope"),
        F.regr_intercept("close", "rn").alias("icept"),
    )
    horizons = fit.select(
        "symbol",
        "n_bars",
        "slope",
        "icept",
        F.explode(F.sequence(F.lit(1), F.lit(5))).alias("horizon"),
    )
    return horizons.select(
        "symbol",
        "horizon",
        "n_bars",
        portable_round(
            F.col("icept") + F.col("slope") * (F.col("n_bars") + F.col("horizon")),
            4,
        )
        .cast("double")
        .alias("forecast"),
    ).orderBy("symbol", "horizon")


@query(
    "q_outlier_iqr",
    oracle="""
    WITH q AS (
        SELECT event_type,
               quantile_cont(value, 0.25) AS q1,
               quantile_cont(value, 0.75) AS q3
        FROM events GROUP BY event_type
    ),
    fences AS (
        SELECT event_type, q1, q3,
               q1 - 1.5 * (q3 - q1) AS lo,
               q3 + 1.5 * (q3 - q1) AS hi
        FROM q
    )
    SELECT e.event_type,
           CAST((CAST(floor(CAST((f.lo) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS fence_lo,
           CAST((CAST(floor(CAST((f.hi) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS fence_hi,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (WHERE e.value < f.lo OR e.value > f.hi)
                AS BIGINT) AS n_outliers
    FROM events e JOIN fences f ON f.event_type = e.event_type
    GROUP BY e.event_type, f.lo, f.hi
    ORDER BY e.event_type
    """,
)
def q_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR outlier fences per event_type: quartiles by the shared
    linearly-interpolated percentile definition, fences at 1.5×IQR,
    outlier counts from a broadcast join of the per-type fences back to
    the stream — the third member of the outlier family (vs z-score's
    moment sensitivity and MAD's rank robustness). Fence comparisons are
    identical-tree doubles against raw parquet values. Scales: percentile
    agg + broadcast fence join + counting agg — the fact table streams
    twice, shuffles once (by type) for the percentile."""
    ev = load_table(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.percentile("value", 0.25).alias("q1"),
        F.percentile("value", 0.75).alias("q3"),
    )
    fences = q.select(
        F.col("event_type").alias("f_type"),
        (F.col("q1") - F.lit(1.5) * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + F.lit(1.5) * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    return (
        ev.join(F.broadcast(fences), F.col("event_type") == F.col("f_type"))
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(
                F.when(
                    (F.col("value") < F.col("lo"))
                    | (F.col("value") > F.col("hi")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "event_type",
            portable_round("lo", 4).cast("double").alias("fence_lo"),
            portable_round("hi", 4).cast("double").alias("fence_hi"),
            "n_rows",
            "n_outliers",
        )
        .orderBy("event_type")
    )


@query(
    "q_disorder_audit",
    oracle="""
    WITH feed AS (
        -- every 10th event is delivered 25 sequence slots late (the
        -- deterministic delay injection; the fixture itself arrives in
        -- event_id order, which would make the audit vacuous)
        SELECT user_id, ts, event_id,
               event_id + CASE WHEN event_id % 10 = 0 THEN 25 ELSE 0 END
                 AS arrival_seq
        FROM events
    ),
    seq AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts < MAX(ts) OVER (PARTITION BY user_id
                                            ORDER BY arrival_seq, event_id
                                            ROWS BETWEEN UNBOUNDED PRECEDING
                                                     AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS is_late
        FROM feed
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(is_late) AS BIGINT) AS n_out_of_order,
           CAST((CAST(floor(CAST((CAST(SUM(is_late) AS DOUBLE) / COUNT(*)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE)
             AS disorder_rate
    FROM seq GROUP BY user_id
    HAVING SUM(is_late) > 0
    ORDER BY user_id
    """,
)
def q_disorder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order arrival audit: per user, events whose timestamp is
    BEHIND the running maximum in arrival order (event_id) are late
    arrivals — the disorder-rate statistic that sizes streaming
    watermarks (q_stream_watermark's delay is exactly this quantile) and
    decides whether a feed needs re-sequencing. The fixture arrives
    perfectly ordered, so a deterministic delay injects disorder (every
    10th event delivered 25 sequence slots late — the same
    injected-perturbation pattern as the near-dup and corrupt-record
    fixtures). One running-max window in arrival order + a per-user agg;
    integer flags, no float drift. Emits only users with disorder."""
    ev = load_table(spark, sf_dir, "events")
    feed = ev.select(
        "user_id",
        "ts",
        "event_id",
        (
            F.col("event_id")
            + F.when(F.col("event_id") % 10 == 0, 25).otherwise(0)
        ).alias("arrival_seq"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("arrival_seq", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = feed.select(
        "user_id",
        F.when(F.col("ts") < F.max("ts").over(w), 1).otherwise(0).alias(
            "is_late"
        ),
    )
    return (
        seq.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("is_late").cast("bigint").alias("n_out_of_order"),
        )
        .filter(F.col("n_out_of_order") > 0)
        .select(
            "user_id",
            "n_events",
            "n_out_of_order",
            portable_round(
                F.col("n_out_of_order").cast("double") / F.col("n_events"), 6
            )
            .cast("double")
            .alias("disorder_rate"),
        )
        .orderBy("user_id")
    )


@query(
    "q_missing_bars",
    oracle=f"""
    WITH bars AS (
        SELECT event_type AS symbol, date_trunc('hour', ts) AS bar_ts
        FROM events GROUP BY 1, 2
    ),
    bounds AS (
        SELECT symbol, MIN(bar_ts) AS t0, MAX(bar_ts) AS t1,
               CAST(COUNT(*) AS BIGINT) AS n_present
        FROM bars GROUP BY symbol
    ),
    spine AS (
        SELECT b.symbol, b.n_present,
               CAST(1 + date_diff('hour', b.t0, b.t1) AS BIGINT) AS n_expected
        FROM bounds b
    )
    SELECT symbol, n_expected, n_present,
           CAST(n_expected - n_present AS BIGINT) AS n_missing,
           CAST((CAST(floor(CAST((CAST(n_expected - n_present AS DOUBLE) / n_expected) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                AS DOUBLE) AS gap_rate
    FROM spine ORDER BY symbol
    """,
)
def q_missing_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bar-completeness audit: per symbol, the expected hourly bar count
    over its [first, last] span (dense calendar arithmetic — no spine
    materialization needed for the COUNT form) vs bars actually present,
    with the gap rate every downstream gap-filler (q_gap_fill_locf) is
    sized by. Exact integer hour arithmetic via timestampdiff. One
    tick→bar hash-agg + a symbol-grain agg — nothing global."""
    ev = load_table(spark, sf_dir, "events")
    bars = ev.groupBy(
        F.col("event_type").alias("symbol"),
        F.date_trunc("hour", F.col("ts")).alias("bar_ts"),
    ).agg(F.lit(1).alias("__x"))
    bounds = bars.groupBy("symbol").agg(
        F.min("bar_ts").alias("t0"),
        F.max("bar_ts").alias("t1"),
        F.count(F.lit(1)).cast("bigint").alias("n_present"),
    )
    n_expected = (
        F.lit(1) + F.expr("timestampdiff(HOUR, t0, t1)")
    ).cast("bigint")
    return bounds.select(
        "symbol",
        n_expected.alias("n_expected"),
        "n_present",
        (n_expected - F.col("n_present")).cast("bigint").alias("n_missing"),
        portable_round(
            (n_expected - F.col("n_present")).cast("double") / n_expected, 6
        )
        .cast("double")
        .alias("gap_rate"),
    ).orderBy("symbol")


@query(
    "q_tick_rule",
    oracle=f"""
    WITH ticks AS (
        SELECT event_type AS symbol, ts, event_id, value,
               value - lag(value) OVER w AS dp
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY {sql_tick_key()})
    ),
    signed AS (
        SELECT symbol, ts, event_id,
               last_value(CASE WHEN dp > 0 THEN 1
                               WHEN dp < 0 THEN -1 END IGNORE NULLS)
                 OVER (PARTITION BY symbol ORDER BY {sql_tick_key()}
                       ROWS UNBOUNDED PRECEDING) AS side
        FROM ticks
    )
    SELECT symbol,
           CAST(COUNT(*) AS BIGINT) AS n_classified,
           CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_buys,
           CAST((CAST(floor(CAST((CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END)
                           AS DOUBLE) / COUNT(*)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS buy_ratio
    FROM signed WHERE side IS NOT NULL
    GROUP BY symbol ORDER BY symbol
    """,
)
def q_tick_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tick-rule trade signing (the Lee–Ready fallback): each tick is a
    buy (+1) if its price uptick, a sell (−1) on a downtick, and CARRIES
    the previous sign on zero ticks — classic microstructure
    classification, expressed as lag + last_value(IGNORE NULLS) over the
    running frame (the carry is the same ignore-nulls LOCF machinery as
    q_gap_fill_locf, applied to a derived sign). Per-symbol buy ratio is
    the checked output; unclassified prefix ticks (before the first
    price change) drop on both engines. Ordering uses the padded
    (ts,event_id) key — bit-deterministic; comparisons are raw-parquet
    doubles. One window shuffle on symbol."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(tick_key())
    ticks = ev.select(
        F.col("event_type").alias("symbol"),
        (F.col("value") - F.lag("value").over(w)).alias("dp"),
        tick_key().alias("__ord"),
    )
    wrun = (
        Window.partitionBy("symbol")
        .orderBy("__ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sign = (
        F.when(F.col("dp") > 0, F.lit(1))
        .when(F.col("dp") < 0, F.lit(-1))
        .otherwise(F.lit(None))
    )
    signed = ticks.select(
        "symbol",
        F.last(sign, ignorenulls=True).over(wrun).alias("side"),
    ).filter(F.col("side").isNotNull())
    return (
        signed.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_classified"),
            F.sum(F.when(F.col("side") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_buys"),
        )
        .select(
            "symbol",
            "n_classified",
            "n_buys",
            portable_round(
                F.col("n_buys").cast("double") / F.col("n_classified"), 6
            )
            .cast("double")
            .alias("buy_ratio"),
        )
        .orderBy("symbol")
    )


@query(
    "q_interarrival_stats",
    oracle=f"""
    WITH gaps AS (
        SELECT event_type,
               (epoch_us(ts) - epoch_us(lag(ts) OVER
                   (PARTITION BY event_type ORDER BY ts, event_id)))
                   / 1000000.0 AS dt_s
        FROM events
        QUALIFY dt_s IS NOT NULL
    ),
    m AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_term_sum("dt_s", 6)} AS s,
               {sql_split_term_sum("dt_s * dt_s", 6, 0)} AS ss
        FROM gaps GROUP BY event_type
    )
    SELECT event_type, n,
           CAST((CAST(floor(CAST((s / n) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS mean_gap_s,
           CAST(CASE WHEN s <= 0 THEN NULL
                ELSE (CAST(floor(CAST((sqrt(greatest(ss / n - (s / n) * (s / n), 0.0))
                           / (s / n)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) END AS DOUBLE) AS cv
    FROM m ORDER BY event_type
    """,
)
def q_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time diagnostics per event type: mean gap and the
    coefficient of variation σ/μ — the Poisson check (CV ≈ 1 for a
    memoryless arrival process; CV > 1 flags bursty flow, the input to
    capacity models and the watermark-sizing story q_disorder_audit
    starts). Gaps compute in exact microseconds over the (ts, event_id)
    total order then scale to seconds (one exact division); moment sums
    accumulate in DECIMAL, the CV chain in identical-tree double. One
    lag window + one hash-agg keyed by type."""
    ev = load_table(spark, sf_dir, "events")
    gaps = ev.select(
        "event_type",
        (
            F.expr(
                "timestampdiff(MICROSECOND, lag(ts) OVER "
                "(PARTITION BY event_type ORDER BY ts, event_id), ts)"
            )
            / F.lit(1_000_000.0)
        ).alias("dt_s"),
    ).filter(F.col("dt_s").isNotNull())
    # 6dp round-then-DECIMAL: dt_s is an exact microsecond multiple, so
    # the 6dp round is LOSSLESS on s, and |dt_s|·1e6 stays under the
    # 2^53 ≈ 9.0e15 cross-engine round-trip bound to gaps of ~285
    # years. dt_s² has no such cap (a single 26h+ gap breaches 2^53 at
    # 6dp), so the squared sum routes through the two-bucket split:
    # sub-second gaps keep 6dp, larger gaps round to integer seconds²
    # (safe to |dt_s| < ~9.5e7 s ≈ 3 years — beyond any table span).
    m = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        term_sum(F.col("dt_s"), 6).alias("s"),
        split_term_sum(F.col("dt_s") * F.col("dt_s"), 6, 0).alias("ss"),
    )
    mu = F.col("s") / F.col("n")
    sd = F.sqrt(F.greatest(F.col("ss") / F.col("n") - mu * mu, F.lit(0.0)))
    return m.select(
        "event_type",
        "n",
        portable_round(mu, 4).cast("double").alias("mean_gap_s"),
        F.when(F.col("s") <= 0, F.lit(None).cast("double"))
        .otherwise(portable_round(sd / mu, 4))
        .cast("double")
        .alias("cv"),
    ).orderBy("event_type")


@query(
    "q_burstiness",
    oracle="""
    WITH mins AS (
        SELECT event_type, date_trunc('minute', ts) AS mn,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    m AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_minutes,
               CAST(SUM(c) AS BIGINT) AS s,
               CAST(SUM(c * c) AS BIGINT) AS ss
        FROM mins GROUP BY event_type
    )
    SELECT event_type, n_minutes,
           CAST((CAST(floor(CAST((CAST(s AS DOUBLE) / n_minutes) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE)
               AS mean_per_min,
           CAST(CASE WHEN s = 0 THEN NULL
                ELSE (CAST(floor(CAST(((CAST(ss AS DOUBLE) / n_minutes
                            - (CAST(s AS DOUBLE) / n_minutes)
                              * (CAST(s AS DOUBLE) / n_minutes))
                           / (CAST(s AS DOUBLE) / n_minutes)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) END
                AS DOUBLE) AS fano_factor
    FROM m ORDER BY event_type
    """,
)
def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano-factor burstiness per event type over occupied per-minute
    count bins: var/mean of counts (1 for Poisson, >1 over-dispersed /
    bursty, <1 regular) — the companion to q_interarrival_stats on the
    counting-process side. Count sums and squared sums are EXACT
    integers (no decimal needed); the variance/mean chain runs in
    identical-tree double. Two stacked hash-aggs (minute bins → type),
    both partial+final."""
    ev = load_table(spark, sf_dir, "events")
    mins = ev.groupBy(
        "event_type", F.date_trunc("minute", "ts").alias("mn")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    m = mins.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_minutes"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ss"),
    )
    mu = F.col("s").cast("double") / F.col("n_minutes")
    return m.select(
        "event_type",
        "n_minutes",
        portable_round(mu, 4).cast("double").alias("mean_per_min"),
        F.when(F.col("s") == 0, F.lit(None).cast("double"))
        .otherwise(
            portable_round(
                (F.col("ss").cast("double") / F.col("n_minutes") - mu * mu)
                / mu,
                4,
            )
        )
        .cast("double")
        .alias("fano_factor"),
    ).orderBy("event_type")


@query(
    "q_rolling_median",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", "close")}),
    arr AS (
        SELECT symbol, bar_ts, close,
               list_sort(list(close) OVER (
                   PARTITION BY symbol ORDER BY bar_ts
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)) AS w
        FROM bars
    )
    SELECT symbol, bar_ts,
           CAST((CAST(floor(CAST((close) AS DOUBLE) * 10000.0 + 0.5)
                 AS DOUBLE) / 10000.0) AS DOUBLE) AS close,
           CAST((CAST(floor(CAST((CASE WHEN len(w) % 2 = 1
                    THEN w[(len(w) + 1) // 2]
                    ELSE (w[len(w) // 2] + w[len(w) // 2 + 1]) / 2.0
                END) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                AS DOUBLE) AS roll_med20
    FROM arr
    ORDER BY symbol, bar_ts
    """,
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling EXACT median over a 20-bar trailing window per symbol —
    the robust smoother quant pipelines prefer over the moving average
    when spikes must not drag the centre (complements q_mad_outliers'
    global MAD and q_winsorize's clipping with the windowed-exact
    form). Both engines collect the identical 20-element frame, sort
    it, and take the same element (odd) or same two-element mean
    (even) — element selection + one double add/divide, so the floor
    round is bit-identical. Scale: frame state is a bounded 20-element
    array per row (O(k log k) per row map-side after ONE per-symbol
    window shuffle); an unbounded-frame median would instead go through
    the global rank operator."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    w = (
        Window.partitionBy("symbol")
        .orderBy("bar_ts")
        .rowsBetween(-19, Window.currentRow)
    )
    arr = F.sort_array(F.collect_list("close").over(w))
    n = F.size(arr)
    med = F.when(
        n % 2 == 1, F.element_at(arr, ((n + 1) / 2).cast("int"))
    ).otherwise(
        (
            F.element_at(arr, (n / 2).cast("int"))
            + F.element_at(arr, (n / 2).cast("int") + 1)
        )
        / 2.0
    )
    return bars.select(
        "symbol",
        "bar_ts",
        portable_round("close", 4).cast("double").alias("close"),
        portable_round(med, 6).cast("double").alias("roll_med20"),
    ).orderBy("symbol", "bar_ts")


@query(
    "q_sax_symbols",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", "close")}),
    idx AS (
        SELECT symbol, close,
               row_number() OVER (PARTITION BY symbol
                                  ORDER BY bar_ts DESC) AS rn
        FROM bars
        QUALIFY rn <= 64
    ),
    pos AS (
        SELECT symbol, close,
               CAST(COUNT(*) OVER (PARTITION BY symbol) AS BIGINT) AS m,
               ((CAST(COUNT(*) OVER (PARTITION BY symbol) AS BIGINT)
                 - rn + 1 - 1) * 8)
                 // CAST(COUNT(*) OVER (PARTITION BY symbol) AS BIGINT)
                   AS seg
        FROM idx
    ),
    segs AS (
        SELECT symbol, seg,
               SUM({sql_term("close", 12)}) AS ssum,
               SUM({sql_term("close * close", 8)}) AS ssq,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM pos GROUP BY symbol, seg
    ),
    lettered AS (
        SELECT symbol, seg, cnt,
               CAST(SUM(ssum) OVER (PARTITION BY symbol) AS DOUBLE)
                   / SUM(cnt) OVER (PARTITION BY symbol) AS mu,
               sqrt(greatest(
                   CAST(SUM(ssq) OVER (PARTITION BY symbol) AS DOUBLE)
                       / SUM(cnt) OVER (PARTITION BY symbol)
                   - (CAST(SUM(ssum) OVER (PARTITION BY symbol) AS DOUBLE)
                      / SUM(cnt) OVER (PARTITION BY symbol))
                   * (CAST(SUM(ssum) OVER (PARTITION BY symbol) AS DOUBLE)
                      / SUM(cnt) OVER (PARTITION BY symbol)), 0.0)) AS sig,
               CAST(ssum AS DOUBLE) / cnt AS seg_mean
        FROM segs
    ),
    letters AS (
        SELECT symbol, seg, mu, sig,
               CASE WHEN z < -0.6745 THEN 'a'
                    WHEN z < 0.0 THEN 'b'
                    WHEN z < 0.6745 THEN 'c'
                    ELSE 'd' END AS letter,
               cnt
        FROM (SELECT *,
                     CASE WHEN sig = 0 THEN 0.0
                          ELSE (seg_mean - mu) / sig END AS z
              FROM lettered)
    )
    SELECT symbol,
           CAST(SUM(cnt) AS BIGINT) AS n_bars,
           string_agg(letter, '' ORDER BY seg) AS sax_word,
           CAST((CAST(floor(CAST((MAX(mu)) AS DOUBLE) * 1000000.0 + 0.5)
                 AS DOUBLE) / 1000000.0) AS DOUBLE) AS mu,
           CAST((CAST(floor(CAST((MAX(sig)) AS DOUBLE) * 1000000.0 + 0.5)
                 AS DOUBLE) / 1000000.0) AS DOUBLE) AS sigma
    FROM letters GROUP BY symbol ORDER BY symbol
    """,
)
def q_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolic aggregate approximation per symbol: z-normalize the
    last 64 hourly closes, PAA-compress into 8 segments, map each
    segment mean to a 4-letter alphabet at the standard Gaussian
    breakpoints (−0.6745, 0, 0.6745) — the Lin/Keogh symbolic index that
    makes motif search and whole-series matching a string problem.
    Exactness: segment sums and moments accumulate in DECIMAL, μ/σ/z are
    identical scalar trees on both engines, and letters come from plain
    double comparisons against literal breakpoints (bit-deterministic —
    no rounding anywhere near the decision). Flat windows (σ=0) map to
    'c' via the z=0 convention. Scale: one per-symbol window pass to
    index the last 64 bars, one (symbol, seg) hash-agg, then 8-row-per-
    symbol arithmetic; the word assembles from a sorted 8-element array,
    never a cross-row string fold."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    w = Window.partitionBy("symbol").orderBy(F.col("bar_ts").desc())
    idx = bars.select(
        "symbol", "close", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 64)
    m = F.count(F.lit(1)).over(Window.partitionBy("symbol")).cast("bigint")
    pos = idx.select(
        "symbol",
        "close",
        ((m - F.col("rn")) * 8).cast("bigint").alias("__num"),
        m.alias("m"),
    ).select(
        "symbol",
        "close",
        F.expr("__num div m").alias("seg"),
    )
    segs = pos.groupBy("symbol", "seg").agg(
        # round-then-cast at the rounding scale (2^53 rule): close^2
        # reaches ~3.1e5, so the raw 18-scale cast was engine-asymmetric.
        # Sums STAY decimal so the cross-segment window sums keep exact.
        F.sum(
            term(F.col("close"), 12)
        ).alias("ssum"),
        F.sum(
            term(F.col("close") * F.col("close"), 8)
        ).alias("ssq"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    sw = Window.partitionBy("symbol")
    n = F.sum("cnt").over(sw)
    mu = F.sum("ssum").over(sw).cast("double") / n
    sig = F.sqrt(
        F.greatest(
            F.sum("ssq").over(sw).cast("double") / n - mu * mu, F.lit(0.0)
        )
    )
    seg_mean = F.col("ssum").cast("double") / F.col("cnt")
    z = F.when(sig == 0, F.lit(0.0)).otherwise((seg_mean - mu) / sig)
    letter = (
        F.when(z < -0.6745, "a")
        .when(z < 0.0, "b")
        .when(z < 0.6745, "c")
        .otherwise("d")
    )
    letters = segs.select(
        "symbol",
        "seg",
        "cnt",
        mu.alias("mu"),
        sig.alias("sig"),
        letter.alias("letter"),
    )
    return (
        letters.groupBy("symbol")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_bars"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg", "letter"))),
                    lambda x: x["letter"],
                ),
                "",
            ).alias("sax_word"),
            portable_round(F.max("mu"), 6).cast("double").alias("mu"),
            portable_round(F.max("sig"), 6).cast("double").alias("sigma"),
        )
        .orderBy("symbol")
    )
