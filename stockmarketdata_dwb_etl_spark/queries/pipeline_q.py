"""The reference-pipeline facade as an oracle-checked query: the full
bronze(string-scrape shape) → silver(typed) → gold(analytics) flow, with
the DuckDB oracle rebuilding the identical pipeline in SQL."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    sql_portable_round,
)
from stockmarketdata_dwb_etl_spark.functions.text import (
    sql_canonical_text,
    sql_distinct_shingle_ratio,
    sql_tokenize,
)

from pipelines.stock_ingest import build_gold
from stockmarketdata_dwb_etl_spark.registry import query

STOCK_PIPELINE_ORACLE = """
    WITH bars AS (
        SELECT 'IDX' || CAST(user_id % 10 AS VARCHAR) AS stock_name,
               CAST(ts AS DATE) AS d,
               arg_min(value, ts) AS open_v,
               arg_max(value, ts) AS close_v,
               MAX(value) AS high_v,
               MIN(value) AS low_v,
               SUM(value) AS vol_v
        FROM events
        GROUP BY 1, 2
    ), bronze AS (
        SELECT stock_name,
               strftime(d, '%b %-d, %Y') AS date_str,
               printf('%.2f', (CAST(floor(CAST((close_v) AS DOUBLE) * 100.0 + 0.5) AS DOUBLE) / 100.0)) AS price_str,
               printf('%.2f', (CAST(floor(CAST((open_v) AS DOUBLE) * 100.0 + 0.5) AS DOUBLE) / 100.0)) AS open_str,
               printf('%.2f', (CAST(floor(CAST((high_v) AS DOUBLE) * 100.0 + 0.5) AS DOUBLE) / 100.0)) AS high_str,
               printf('%.2f', (CAST(floor(CAST((low_v) AS DOUBLE) * 100.0 + 0.5) AS DOUBLE) / 100.0)) AS low_str,
               printf('%.2f', (CAST(floor(CAST((vol_v / 1000) AS DOUBLE) * 100.0 + 0.5) AS DOUBLE) / 100.0)) || 'K' AS vol_str
        FROM bars
    ), silver AS (
        SELECT stock_name,
               CAST(strptime(date_str, '%b %-d, %Y') AS DATE) AS "Date",
               TRY_CAST(replace(price_str, ',', '') AS DOUBLE) AS "Price",
               TRY_CAST(replace(open_str, ',', '') AS DOUBLE) AS "Open",
               TRY_CAST(replace(high_str, ',', '') AS DOUBLE) AS "High",
               TRY_CAST(replace(low_str, ',', '') AS DOUBLE) AS "Low",
               TRY_CAST(substr(vol_str, 1, length(vol_str) - 1) AS DOUBLE) * 1e3 AS "Vol"
        FROM bronze
    )
    SELECT stock_name, "Date", "Price", "Open", "High", "Low", "Vol",
           CAST((CAST(floor(CAST((("Price" - LAG("Price") OVER w)
                 / nullif(LAG("Price") OVER w, 0) * 100) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS "Change",
           CAST((CAST(floor(CAST((AVG("Price") OVER (PARTITION BY stock_name ORDER BY "Date"
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE) AS sma7
    FROM silver
    WINDOW w AS (PARTITION BY stock_name ORDER BY "Date")
"""


@query("q_stock_pipeline", oracle=STOCK_PIPELINE_ORACLE)
def q_stock_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end reference-pipeline semantics (pipelines/stock_ingest.py):
    scrape-shaped strings → parsing library → warehouse schema → OHLCV
    analytics. The engine's flagship integration query."""
    return build_gold(spark, sf_dir)


_SILVER_CTE = STOCK_PIPELINE_ORACLE.split("SELECT stock_name, \"Date\",")[0]


@query(
    "q_pipeline_incremental",
    oracle=_SILVER_CTE
    + """
    , bounds AS (
        SELECT MAX("Date") AS mx FROM silver
    )
    SELECT CASE WHEN s."Date" < b.mx - INTERVAL 9 DAY THEN 'kept'
                WHEN s."Date" < b.mx - INTERVAL 7 DAY THEN 'updated'
                ELSE 'inserted' END AS merge_action,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST((CAST(floor(CAST((CAST(SUM(CAST(s."Price" AS DECIMAL(38,6))) AS DOUBLE)) AS DOUBLE) * 100.0 + 0.5) AS DOUBLE) / 100.0) AS DOUBLE) AS sum_price
    FROM silver s CROSS JOIN bounds b
    GROUP BY 1 ORDER BY 1
    """,
)
def q_pipeline_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental daily-run upgrade of the reference pipeline: where
    the reference truncate-reloads the whole warehouse every day
    (WRITE_TRUNCATE, /root/reference/dump_bigq.py:137), this runs the
    SAME silver build as two daily batches — the historical snapshot
    (dates before cutoff−2) and today's scrape (the last 9 days, which
    restates the 2-day overlap exactly as a live scraper re-lands the
    latest partial days) — and MERGEs batch 2 into batch 1 on the
    (stock, date) key: overlap keys update, new dates insert, history
    keeps. The merged table is proven EQUAL to the full-run silver by
    the oracle, which computes the same per-action partition of full
    silver by date arithmetic — so incremental == truncate-reload, at
    the cost of touching only the arriving slice. Scale: the merge
    shuffles on the (stock,date) key only; at 100 TB batch 2 is a day's
    data against a partitioned history (partition-pruned MERGE, cf.
    q_stream_merge_partitioned)."""
    from pipelines.stock_ingest import build_bronze, bronze_to_silver
    from stockmarketdata_dwb_etl_spark.operators.cache import bounded_persist

    # the silver build feeds the bound scan AND both daily batches —
    # persist it once (in production each batch reads the stored silver
    # table; here the build pipeline stands in for that storage)
    silver = bounded_persist(
        bronze_to_silver(build_bronze(spark, sf_dir)), "pipeline-silver"
    )
    bounds = silver.agg(F.max("Date").alias("mx"))
    s = silver.crossJoin(F.broadcast(bounds))
    cutoff_new = F.date_sub(F.col("mx"), 7)   # inserted: last 7 days
    cutoff_upd = F.date_sub(F.col("mx"), 9)   # updated: 2-day restatement
    batch1 = s.filter(F.col("Date") < cutoff_new).drop("mx")
    batch2 = s.filter(F.col("Date") >= cutoff_upd).drop("mx")

    b1 = batch1.select(
        "stock_name", "Date", F.col("Price").alias("p1")
    )
    b2 = batch2.select(
        "stock_name", "Date", F.col("Price").alias("p2")
    )
    merged = b1.join(b2, ["stock_name", "Date"], "full").select(
        "stock_name",
        "Date",
        F.coalesce("p2", "p1").alias("Price"),
        F.when(F.col("p2").isNull(), F.lit("kept"))
        .when(F.col("p1").isNull(), F.lit("inserted"))
        .otherwise(F.lit("updated"))
        .alias("merge_action"),
    )
    return (
        merged.groupBy("merge_action")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            portable_round(
                F.sum(F.col("Price").cast("decimal(38,6)")).cast("double"), 2
            )
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("merge_action")
    )


CORPUS_PIPELINE_ORACLE = f"""
    WITH canon AS (
        SELECT doc_id, lang,
               {sql_canonical_text("text")} AS ctext
        FROM documents
    ),
    sig AS (
        SELECT doc_id, lang, ctext,
               md5(ctext) AS digest,
               CAST(len(ws) AS BIGINT) AS n_tokens,
               {sql_portable_round(sql_distinct_shingle_ratio("ws", 3), 4)}
                   AS distinct_ratio,
               {sql_portable_round(
                   "CAST(length(regexp_replace(ctext, '[^a-z ]', '', 'g'))"
                   " AS DOUBLE) / greatest(length(ctext), 1)",
                   4,
               )} AS alpha_ratio
        FROM (SELECT doc_id, lang, ctext,
                     {sql_tokenize("ctext")} AS ws
              FROM canon)
    ),
    gated AS (
        SELECT *,
               (strpos('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
               AS bucket
        FROM sig
        WHERE n_tokens >= 30 AND distinct_ratio >= 0.6 AND alpha_ratio >= 0.6
    ),
    deduped AS (
        SELECT *,
               CASE WHEN bucket < 230 THEN 'train'
                    WHEN bucket < 243 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT *, row_number() OVER (PARTITION BY digest
                                           ORDER BY doc_id) AS rn
              FROM gated)
        WHERE rn = 1
    ),
    bdig AS (
        SELECT split, lang, CAST(doc_id % 64 AS INTEGER) AS bkt,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               SUM(CAST(distinct_ratio AS DECIMAL(38,4))) AS sum_dr,
               md5(string_agg(digest, '' ORDER BY doc_id)) AS bdigest
        FROM deduped
        GROUP BY 1, 2, 3
    )
    SELECT split, lang,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(total_tokens) AS BIGINT) AS total_tokens,
           CAST((CAST(floor(CAST((CAST(SUM(sum_dr) AS DOUBLE)
                / SUM(n_docs)) AS DOUBLE)
                * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE)
               AS avg_distinct_ratio,
           md5(string_agg(bdigest, '' ORDER BY bkt)) AS corpus_digest
    FROM bdig
    GROUP BY split, lang
    ORDER BY split, lang
"""


@query("q_corpus_pipeline", oracle=CORPUS_PIPELINE_ORACLE)
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM corpus-curation pipeline end to end
    (pipelines/corpus_curation.py): canonicalize → quality gate →
    digest-keyed exact dedup → deterministic hash split → per-(split,
    lang) accounting with a byte-certifying corpus digest — the corpus
    twin of q_stock_pipeline, composing the individually-proven
    operator families (q_text_canonicalize, q_quality_gate,
    q_dedup_exact, q_hash_split) into one integration query. Scale:
    map-only until the digest window (one 32-char-key shuffle; text
    never shuffles twice) and the final (split, lang) hash-agg."""
    from pipelines.corpus_curation import build_gold as corpus_gold

    return corpus_gold(spark, sf_dir)
