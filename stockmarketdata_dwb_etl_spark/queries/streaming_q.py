"""Time-window / streaming query surface (SURVEY.md §2B M7).

Tumbling, session and sliding windows run as batch here (identical
semantics to their streaming forms — asserted by the batch≡stream
equivalence tests in tests/test_streaming.py); the q_stream_* queries
execute REAL Structured Streaming replays (file source, availableNow).
Every one carries a full DuckDB oracle: the replay design (ts-range
chunks, deterministic merges) makes even watermark emission and
streaming state SQL-expressible — see each query's docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stockmarketdata_dwb_etl_spark.functions.bars import (
    sql_close_tick,
    sql_open_tick,
    sql_tick_key,
    tick_key,
)
from stockmarketdata_dwb_etl_spark.functions.exact import portable_round
from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.exact import exact_sum, sql_exact_sum
from stockmarketdata_dwb_etl_spark.functions.text import (
    distinct_shingle_ratio,
    sql_distinct_shingle_ratio,
    sql_tokenize,
    tokenize,
)
from stockmarketdata_dwb_etl_spark.registry import query
from stockmarketdata_dwb_etl_spark.streaming.jobs import (
    instant_of,
    ntz_of,
    prepare_event_chunks,
    read_events_stream,
    run_stream_to_parquet,
    stateful_user_totals,
)


@query(
    "q_tumbling_window",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           COUNT(*) AS n_events,
           {sql_exact_sum('value', 'sum_value')}
    FROM events
    GROUP BY date_trunc('hour', ts)
    """,
)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window counts+sums over event time. Same groupBy
    works unchanged on a stream (see tests/test_streaming.py)."""
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour")
    return (
        ev.groupBy(win.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum(F.col("value"), "sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "q_session_window",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        -- event_id tie-break: under duplicate ts the cumulative sum must
        -- walk rows in the same order the marked CTE computed new_sess
        SELECT user_id, ts,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, sess_id
    """,
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) per user with the native
    session_window; the oracle derives identical sessions from first
    principles (lag + cumulative sum) — the two formulations must agree."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "q_sliding_window",
    oracle="""
    WITH expanded AS (
        SELECT user_id,
               make_timestamp((floor(epoch(ts))::BIGINT // 900) * 900 * 1000000
                              - k * 900 * 1000000) AS window_start
        FROM events, generate_series(0, 3) t(k)
    )
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           user_id,
           COUNT(*) AS n_events
    FROM expanded
    GROUP BY window_start, user_id
    """,
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 15 min: each event lands in 4 windows.
    The oracle expands the 4 buckets arithmetically — same window grid."""
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour", "15 minutes")
    return (
        ev.groupBy(win.alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "user_id",
            "n_events",
        )
    )


@query(
    "q_stream_watermark",
    oracle="""
    WITH mx AS (SELECT MAX(ts) AS m FROM events),
    agg AS (
        SELECT make_timestamp((floor(epoch(ts))::BIGINT // 3600)
                              * 3600 * 1000000) AS window_start,
               COUNT(*) AS n_events,
               CAST((CAST(floor(CAST((SUM(value)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1
    )
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           n_events, sum_value
    FROM agg, mx
    WHERE window_start + INTERVAL 1 HOUR <= m - INTERVAL 10 MINUTE
    """,
)
def q_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming run: replay events as a chunked file
    stream, 10-min watermark, 1-hour tumbling agg, append mode — only
    watermark-finalized windows reach the sink (windows still open when the
    replay ends are withheld, so the count is below the batch answer).

    The emitted set IS SQL-expressible: chunks are ts-range-partitioned so
    no event ever arrives behind the watermark (min ts of batch k exceeds
    max ts of batch k-1, whatever the sampled range boundaries), hence no
    late drops — and availableNow's final watermark-advancing batch flushes
    every window whose end <= global max ts - 10 min. The oracle encodes
    exactly that rule (verified at sf0.001 and sf0.01)."""
    chunks = prepare_event_chunks(spark, sf_dir)
    # watermark needs an LTZ event-time column: bridge the canonical NTZ ts
    # through the UTC-instant bijection, window on the instant, and emit the
    # hour-aligned bounds back as NTZ so the output matches the naive oracle
    stream = read_events_stream(spark, chunks).withColumn("ts_i", instant_of("ts"))
    agg = (
        stream.withWatermark("ts_i", "10 minutes")
        .groupBy(F.window("ts_i", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            portable_round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            ntz_of("w.start").alias("window_start"),
            ntz_of("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )
    sink = run_stream_to_parquet(agg, "watermark_tumbling")
    return spark.read.parquet(sink)


@query(
    "q_stream_stateful",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST((CAST(floor(CAST((SUM(COALESCE(value, 0.0))) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS sum_value
    FROM events GROUP BY user_id
    """,
)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run of the custom applyInPandasWithState operator
    (streaming/jobs.py::stateful_user_totals): per-user running totals in
    explicit group state, one emission per (user, microbatch). Returned
    rows are each user's FINAL state, which must equal the batch groupBy
    answer — the oracle. (4-dp float safety: inputs are 2-decimal doubles
    with sums ~1e4, so Python running-sum vs DuckDB pairwise-sum error
    ~1e-8 never crosses a 4-dp rounding boundary.)"""
    from pyspark.sql.window import Window

    chunks = prepare_event_chunks(spark, sf_dir)
    stream = read_events_stream(spark, chunks)
    sink = run_stream_to_parquet(stateful_user_totals(stream), "stateful_totals")
    emissions = spark.read.parquet(sink)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        emissions.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", portable_round("sum_value", 4).alias("sum_value"))
    )


@query(
    "q_stream_dedup",
    oracle="""
    SELECT event_id, ts, user_id, event_type FROM events
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup: replay the stream unioned with itself (every event
    arrives twice) and drop duplicates on event_id within the watermark —
    the sink must contain each event EXACTLY once, which is precisely the
    batch events table: a full SQL gate on a streaming-state operator
    (both copies of an event arrive in the same ts-ordered microbatch, so
    the 30-min watermark never expires a key before its duplicate)."""
    chunks = prepare_event_chunks(spark, sf_dir)
    doubled = read_events_stream(spark, chunks).union(
        read_events_stream(spark, chunks)
    )
    deduped = (
        doubled.withColumn("ts_i", instant_of("ts"))
        .withWatermark("ts_i", "30 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "ts", "user_id", "event_type")
    )
    sink = run_stream_to_parquet(deduped, "stream_dedup")
    return spark.read.parquet(sink)


@query(
    "q_stream_foreachbatch",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value FROM events
    """,
)
def q_stream_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run of the incremental foreachBatch MERGE sink
    (streaming/jobs.py::run_stream_incremental_merge): the stream delivers
    every event twice (self-union), the sink merges each microbatch into a
    keyed snapshot — the final snapshot must hold each event exactly once
    and equal the batch events table, which IS the oracle (rows pass
    through the merge unchanged, so full value-hash parity applies)."""
    from stockmarketdata_dwb_etl_spark.streaming.jobs import (
        run_stream_incremental_merge,
    )

    chunks = prepare_event_chunks(spark, sf_dir)
    doubled = read_events_stream(spark, chunks).union(
        read_events_stream(spark, chunks)
    )
    snapshot = run_stream_incremental_merge(
        doubled.select("event_id", "ts", "user_id", "event_type", "value"),
        "foreachbatch_merge",
        ["event_id"],
    )
    return spark.read.parquet(snapshot)


@query(
    "q_stream_merge_partitioned",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value,
           CAST(ts AS DATE) AS event_date
    FROM events
    """,
)
def q_stream_merge_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned incremental MERGE (streaming/jobs.py::
    run_stream_incremental_merge_partitioned): snapshot partitioned by
    event date, each microbatch rewrites only its touched date partitions
    (dynamic partition overwrite). Fed every event twice; the snapshot
    must equal the batch table — the oracle (event_date is the hive
    partition column, cast explicitly to date on read-back so partition
    type inference can't drift the schema)."""
    from stockmarketdata_dwb_etl_spark.streaming.jobs import (
        run_stream_incremental_merge_partitioned,
    )

    chunks = prepare_event_chunks(spark, sf_dir)
    doubled = read_events_stream(spark, chunks).union(
        read_events_stream(spark, chunks)
    )
    snapshot = run_stream_incremental_merge_partitioned(
        doubled.select(
            "event_id", "ts", "user_id", "event_type", "value",
            F.to_date("ts").alias("event_date"),
        ),
        "merge_partitioned",
        ["event_id"],
        "event_date",
    )
    return spark.read.parquet(snapshot).select(
        "event_id", "ts", "user_id", "event_type", "value",
        F.col("event_date").cast("date").alias("event_date"),
    )


@query(
    "q_stream_stream_join",
    oracle="""
    SELECT c.user_id,
           c.event_id AS click_id,
           c.ts AS click_ts,
           p.event_id AS purchase_id,
           p.ts AS purchase_ts
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream interval join: clicks joined to the same user's
    purchases within the following hour, both sides watermarked (2 h) so
    join state is evicted as event time passes — the state store holds only
    the trailing window, not the whole stream. Because the replay is
    event-time-ordered (range-partitioned chunks), the full-replay result
    equals the batch interval join bit-for-bit, which is what the DuckDB
    oracle checks — a streaming operator with a full SQL correctness gate,
    not just a rows-count."""
    chunks = prepare_event_chunks(spark, sf_dir)
    # join + watermark run on LTZ instants (watermark requirement); the NTZ
    # originals ride along and are what the sink emits, so the output wall
    # clocks match the naive oracle under any session timezone
    clicks = (
        read_events_stream(spark, chunks)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            instant_of("ts").alias("click_ts_i"),
        )
        .withWatermark("click_ts_i", "2 hours")
    )
    purchases = (
        read_events_stream(spark, chunks)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            instant_of("ts").alias("purchase_ts_i"),
        )
        .withWatermark("purchase_ts_i", "2 hours")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = user_id AND purchase_ts_i >= click_ts_i "
            "AND purchase_ts_i <= click_ts_i + INTERVAL 1 HOUR"
        ),
    ).select("user_id", "click_id", "click_ts", "purchase_id", "purchase_ts")
    sink = run_stream_to_parquet(joined, "stream_stream_join")
    return spark.read.parquet(sink)


@query(
    "q_stream_transform_state",
    oracle="""
    SELECT user_id,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events GROUP BY user_id
    """,
)
def q_stream_transform_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run of the Spark-4 transformWithStateInPandas
    operator (streaming/jobs.py::stateful_distinct_types): per-user
    distinct event-type cardinality in explicit typed ValueState. The
    per-batch emissions are monotone nondecreasing, so each user's final
    profile is the max emission — which must equal the batch
    COUNT(DISTINCT event_type), the oracle. Complements q_stream_stateful
    (the legacy applyInPandasWithState API) so both custom-stateful
    surfaces carry a full SQL gate. In containers without
    google.protobuf (this one) the operator transparently runs its
    semantics-identical applyInPandasWithState fallback — see the
    ENVIRONMENT GUARD note in stateful_distinct_types."""
    from pyspark.sql.window import Window

    from stockmarketdata_dwb_etl_spark.streaming.jobs import (
        stateful_distinct_types,
    )

    chunks = prepare_event_chunks(spark, sf_dir)
    stream = read_events_stream(spark, chunks)
    sink = run_stream_to_parquet(
        stateful_distinct_types(stream), "transform_state_types"
    )
    emissions = spark.read.parquet(sink)
    w = Window.partitionBy("user_id").orderBy(F.col("n_types").desc())
    return (
        emissions.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_types")
    )


@query(
    "q_stream_session",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM marked
    ), sessions AS (
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events
        FROM numbered
        GROUP BY user_id, sess_id
    )
    SELECT s.* FROM sessions s
    WHERE s.session_end <= (SELECT MAX(ts) - INTERVAL 10 MINUTE FROM events)
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming sessionization: session_window(30 min) per user with
    a 10-min watermark over the event-time-ordered replay — merging
    session state finalized and emitted as event time passes. The emitted
    set is SQL-expressible by the same argument as q_stream_watermark:
    the ts-range replay never delivers late data, so the final
    availableNow watermark (max ts − 10 min) flushes exactly the sessions
    whose end (last event + 30-min gap) precedes it; the oracle derives
    the identical sessions from first principles (lag + cumulative sum,
    event_id tie-break) and applies that watermark rule."""
    chunks = prepare_event_chunks(spark, sf_dir)
    stream = read_events_stream(spark, chunks).withColumn("ts_i", instant_of("ts"))
    agg = (
        stream.withWatermark("ts_i", "10 minutes")
        .groupBy(F.session_window("ts_i", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            ntz_of("w.start").alias("session_start"),
            ntz_of("w.end").alias("session_end"),
            "n_events",
        )
    )
    sink = run_stream_to_parquet(agg, "stream_sessions")
    return spark.read.parquet(sink)


@query(
    "q_stream_static_join",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST((CAST(floor(CAST((SUM(CAST(e.value AS DECIMAL(38,6)))) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE)
             AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the replayed event stream joins the
    static customer dimension (user profile lookup) INSIDE the streaming
    query — each microbatch broadcast-joins the dim, the standard
    enrich-then-aggregate shape of production pipelines (the static side
    is re-resolvable per batch, so a slowly-changing dim picks up updates
    between triggers). Sink totals per segment must equal the batch join,
    which is the oracle. State: only the aggregation's — the join itself
    is stateless per batch. The sum uses the exact-decimal policy so
    accumulation order across batches cannot move the 4dp round."""
    from stockmarketdata_dwb_etl_spark.streaming.jobs import (
        run_stream_incremental_merge,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment")
    )
    chunks = prepare_event_chunks(spark, sf_dir)
    stream = read_events_stream(spark, chunks)
    enriched = stream.join(
        F.broadcast(cust), stream["user_id"] == cust["c_custkey"]
    )
    agg = enriched.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(38,6)")).alias("sum_dec"),
    )
    # update-mode emissions are each segment's cumulative totals as of the
    # batch; the arrivals-win keyed MERGE keeps the latest per segment, so
    # the snapshot after the final batch holds the full-stream totals
    snapshot = run_stream_incremental_merge(
        agg, "stream_static_join", ["segment"], output_mode="update"
    )
    return spark.read.parquet(snapshot).select(
        "segment",
        "n_events",
        portable_round(F.col("sum_dec"), 4).cast("double").alias("sum_value"),
    )


@query(
    "q_stream_ohlc",
    oracle=f"""
    WITH bars AS (
        SELECT event_type AS symbol,
               date_trunc('hour', ts) AS window_start,
               date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
               {sql_open_tick()}
                   AS open,
               MAX(value) AS high,
               MIN(value) AS low,
               {sql_close_tick()}
                   AS close,
               CAST(COUNT(*) AS BIGINT) AS volume
        FROM events GROUP BY 1, 2, 3
    )
    SELECT symbol, window_start, window_end,
           CAST((CAST(floor(CAST((open) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS open,
           CAST((CAST(floor(CAST((high) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS high,
           CAST((CAST(floor(CAST((low) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS low,
           CAST((CAST(floor(CAST((close) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS close,
           volume
    FROM bars
    WHERE window_end <= (SELECT MAX(ts) FROM events) - INTERVAL 10 MINUTE
    ORDER BY symbol, window_start
    """,
)
def q_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming OHLCV bar construction — the live-feed
    form of the flagship q_ohlc_resample (the reference's entire product
    is this table, /root/reference/dump_bigq.py:47-56, built nightly;
    here it builds incrementally as ticks arrive): chunked file replay,
    10-min watermark, per-(symbol, 1-hour window) min_by/max_by
    open/close over the same padded (ts,event_id) total order as the
    batch query, high/low/volume alongside, append mode — only
    watermark-finalized bars reach the sink. The replay chunks are
    ts-range-partitioned (no event arrives behind the watermark), so
    the emitted set is exactly the bars whose window_end ≤ global max
    ts − 10 min — which the oracle states in SQL over the batch table.
    Scale: per-microbatch state is one open bar per (symbol, hour) —
    bounded by watermark horizon × symbol count, not stream length."""

    chunks = prepare_event_chunks(spark, sf_dir)
    stream = read_events_stream(spark, chunks).withColumn(
        "ts_i", instant_of("ts")
    )
    ordk = tick_key()
    agg = (
        stream.withWatermark("ts_i", "10 minutes")
        .groupBy(
            F.col("event_type").alias("symbol"),
            F.window("ts_i", "1 hour").alias("w"),
        )
        .agg(
            F.min_by("value", ordk).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ordk).alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("volume"),
        )
        .select(
            "symbol",
            ntz_of("w.start").alias("window_start"),
            ntz_of("w.end").alias("window_end"),
            portable_round("open", 4).cast("double").alias("open"),
            portable_round("high", 4).cast("double").alias("high"),
            portable_round("low", 4).cast("double").alias("low"),
            portable_round("close", 4).cast("double").alias("close"),
            "volume",
        )
    )
    sink = run_stream_to_parquet(agg, "ohlc_bars")
    return spark.read.parquet(sink).orderBy("symbol", "window_start")


@query(
    "q_stream_quality_gate",
    oracle=f"""
    WITH sig AS (
        SELECT doc_id, lang,
               len(ws) AS n_tokens,
               {sql_distinct_shingle_ratio("ws", 3)} AS distinct_ratio,
               length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::DOUBLE
                 / greatest(length(text), 1) AS alpha_ratio
        FROM (SELECT doc_id, lang, text, {sql_tokenize("text")} AS ws
              FROM documents)
    )
    SELECT doc_id, lang,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           (n_tokens >= 30 AND distinct_ratio >= 0.6 AND alpha_ratio >= 0.6)
               AS keep
    FROM sig
    """,
)
def q_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run of the corpus quality gate: the documents
    table replays as doc_id-range chunks (one file per microbatch) and
    the q_quality_gate signal/verdict expressions run MAP-ONLY inside
    the stream — the stateless-transform streaming pattern every live
    ingestion filter uses (no watermark, no state store; append mode).
    The parquet sink must hold exactly the batch gate's verdict for
    every document, which IS the oracle — streaming adds arrival
    batching, not semantics, for a stateless operator. Scale: the gate
    streams the corpus once with zero shuffles per microbatch."""
    from stockmarketdata_dwb_etl_spark.streaming.jobs import (
        prepare_doc_chunks,
        read_docs_stream,
    )

    chunks = prepare_doc_chunks(spark, sf_dir)
    stream = read_docs_stream(spark, chunks)
    toks = tokenize(F.col("text"))
    with_toks = stream.withColumn("__toks", toks)
    n_tok = F.size("__toks")
    distinct_ratio = distinct_shingle_ratio(F.col("__toks"), 3)
    alpha_ratio = (
        F.length(F.regexp_replace("text", "[^A-Za-z ]", "")).cast("double")
        / F.greatest(F.length("text"), F.lit(1))
    )
    gated = with_toks.select(
        "doc_id",
        "lang",
        n_tok.cast("bigint").alias("n_tokens"),
        (
            (n_tok >= 30) & (distinct_ratio >= 0.6) & (alpha_ratio >= 0.6)
        ).alias("keep"),
    )
    sink = run_stream_to_parquet(gated, "stream_quality_gate")
    return spark.read.parquet(sink)


@query(
    "q_stream_dollar_bars",
    oracle=f"""
    WITH t AS (
        SELECT event_type AS symbol, value,
               {sql_tick_key()} AS ord,
               CAST(sum(CAST(value AS DECIMAL(38,6))) OVER (
                   PARTITION BY event_type
                   ORDER BY {sql_tick_key()}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS DOUBLE) AS cum_before
        FROM events
    ),
    bt AS (
        SELECT symbol, value, ord,
               CAST(floor(COALESCE(cum_before, 0.0) / 5000.0) AS BIGINT)
                   AS bar_id
        FROM t
    )
    SELECT symbol, bar_id,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           arg_min(value, ord) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, ord) AS close,
           CAST((CAST(floor(CAST((CAST(SUM(CAST(value AS DECIMAL(38,6)))
                AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE)
                / 10000.0) AS DOUBLE) AS dollar_volume
    FROM bt GROUP BY symbol, bar_id
    ORDER BY symbol, bar_id
    """,
)
def q_stream_dollar_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run of dollar-bar construction
    (streaming/jobs.py::stateful_dollar_bars): the event replay streams
    per symbol through a custom stateful operator whose ONLY state is
    the cumulative traded value in exact integer cents, emitting
    partial per-bar aggregates each microbatch; bars spanning
    microbatches merge here with MERGEABLE aggregates (sum / min / max
    / ord-keyed min_by-max_by — the two-level-aggregate pattern), so
    no bar-close logic or timeout exists anywhere. The merged sink
    must equal the batch q_dollar_bars table exactly — the oracle IS
    that batch query (integer-cents state cannot drift from the batch
    DECIMAL running sum, and the bar_id floor runs the identical
    double op order). Scale: state is one bigint per symbol; the
    partial-bar merge shuffles on (symbol, bar_id) only."""
    from stockmarketdata_dwb_etl_spark.streaming.jobs import (
        stateful_dollar_bars,
    )

    chunks = prepare_event_chunks(spark, sf_dir)
    stream = read_events_stream(spark, chunks).select(
        "event_type", "value", tick_key().alias("ord")
    )
    sink = run_stream_to_parquet(
        stateful_dollar_bars(stream), "stream_dollar_bars"
    )
    parts = spark.read.parquet(sink)
    return (
        parts.groupBy("symbol", "bar_id")
        .agg(
            F.sum("n_ticks").cast("bigint").alias("n_ticks"),
            F.min_by("open", "open_ord").alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", "close_ord").alias("close"),
            portable_round(
                F.sum("dollar_cents").cast("double") / F.lit(100.0), 4
            )
            .cast("double")
            .alias("dollar_volume"),
        )
        .orderBy("symbol", "bar_id")
    )


@query(
    "q_stream_heavy_hitters",
    oracle="""
    WITH c AS (
        SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY event_type, user_id
    ),
    r AS (
        SELECT event_type, user_id, cnt,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cnt DESC, user_id) AS rn
        FROM c
    )
    SELECT event_type, CAST(user_id AS BIGINT) AS user_id, cnt
    FROM r WHERE rn <= 10
    ORDER BY event_type, cnt DESC, user_id
    """,
)
def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run of the bounded-state heavy-hitters operator
    (streaming/jobs.py::stateful_heavy_hitters): per event type, a
    mergeable Misra-Gries summary of user activity maintained in group
    state across the replay microbatches, at most k=4096 counters per
    key no matter how many users arrive. Each microbatch emits the
    snapshot stamped with a per-key sequence; the reader keeps each
    key's LAST snapshot and ranks its top-10 users. The fixture's
    cardinality (1.5k users/type) sits under k, so no eviction fires
    and the summary is EXACT — the oracle is the exact batch top-10
    (count desc, user_id tie-break). At production cardinality the
    identical plan holds with the documented est >= true - n/k bound.
    Scale: state is O(k) per key, emission O(k) per key per batch, the
    final rank one tiny window over key-count rows."""
    from stockmarketdata_dwb_etl_spark.streaming.jobs import (
        stateful_heavy_hitters,
    )

    from pyspark.sql.window import Window

    chunks = prepare_event_chunks(spark, sf_dir)
    stream = read_events_stream(spark, chunks).select("event_type", "user_id")
    sink = run_stream_to_parquet(
        stateful_heavy_hitters(stream), "stream_heavy_hitters"
    )
    snaps = spark.read.parquet(sink)
    w_last = Window.partitionBy("event_type")
    w_rank = Window.partitionBy("event_type").orderBy(
        F.desc("cnt"), "user_id"
    )
    return (
        snaps.withColumn("__mx", F.max("batch_seq").over(w_last))
        .filter(F.col("batch_seq") == F.col("__mx"))
        .withColumn("__rn", F.row_number().over(w_rank))
        .filter(F.col("__rn") <= 10)
        .select("event_type", "user_id", "cnt")
        .orderBy("event_type", F.desc("cnt"), "user_id")
    )


@query(
    "q_stream_warm_start",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST((CAST(floor(CAST((CAST(SUM(CAST(value AS DECIMAL(38,6)))
                AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE)
                / 10000.0) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_stream_warm_start(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill→live CUTOVER of a stateful job: the first half of the
    event history is pre-aggregated by a batch job into per-user summary
    rows, the stream bootstraps its state from those summaries IN-BAND
    (they replay as microbatch 0 — the compacted-bootstrap-topic /
    state-changelog-restore pattern), then raw events from the second
    half accumulate on top (streaming/jobs.py::stateful_warm_start_totals
    + prepare_warm_start_stream). The final per-user snapshot must equal
    the batch aggregate over the WHOLE history — the oracle — proving the
    cutover loses and double-counts nothing. All accumulation is exact
    integer cents, so cross-batch order cannot drift the 4dp round.
    Scale: the bootstrap file is the ONLY extra input (keys × 3 bigints);
    state is O(1) per user and co-partitioned with the group key."""
    from stockmarketdata_dwb_etl_spark.streaming.jobs import (
        WARM_START_SCHEMA,
        prepare_warm_start_stream,
        stateful_warm_start_totals,
    )
    from pyspark.sql.window import Window

    src_dir = prepare_warm_start_stream(spark, sf_dir)
    stream = (
        spark.readStream.schema(WARM_START_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    sink = run_stream_to_parquet(
        stateful_warm_start_totals(stream), "stream_warm_start"
    )
    snaps = spark.read.parquet(sink)
    w_last = Window.partitionBy("user_id")
    return (
        snaps.withColumn("__mx", F.max("batch_seq").over(w_last))
        .filter(F.col("batch_seq") == F.col("__mx"))
        .select(
            "user_id",
            "n_events",
            portable_round(F.col("cents").cast("double") / F.lit(100.0), 4)
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("user_id")
    )
