"""Reference-pipeline facade: bronze → silver → gold OHLCV ingestion.

Mirrors the reference's staged pipeline (extract → CSV checkpoint →
transform → truncate-load; /root/reference/stock_data_scraper/dags/scrapers/
stock_data_scraper.py:310-333) as a medallion flow on Spark:

- **bronze**: all-string rows in exactly the scraped-page shape the
  reference checkpoints to CSV (main.py:123-133) — dates as 'Mar 7, 2025',
  prices as '%.2f' strings, volume K-suffixed. Derived deterministically
  from the events fixture (10 synthetic indices = user_id mod 10) so the
  DuckDB oracle can rebuild the identical input.
- **silver**: typed via the parsing expression library (the dump_bigq.py:
  70-128 semantics) into the reference's warehouse schema
  stock_name/Date/Price/Open/High/Low/Vol (dump_bigq.py:47-56).
- **gold**: the analytics the warehouse exists for — per-index daily
  %-change (recomputing the scraped 'Change %' column from first
  principles) and 7-day SMA.

``run_pipeline`` materializes each layer as parquet with
``mode("overwrite")`` — the reference's WRITE_TRUNCATE daily-refresh
semantics (dump_bigq.py:137).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pipelines import write_and_read
from stockmarketdata_dwb_etl_spark.functions.exact import portable_round
from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.parsing import (
    parse_kmb,
    parse_mdy_date,
    parse_money,
)


def build_bronze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLCV bars per synthetic index, formatted as the all-string
    scraped shape (ref S5: every cell is a string at this stage)."""
    ev = load_table(spark, sf_dir, "events")
    bars = (
        ev.withColumn("stock_name", F.concat(F.lit("IDX"), (F.col("user_id") % 10).cast("string")))
        .withColumn("d", F.col("ts").cast("date"))
        .groupBy("stock_name", "d")
        .agg(
            F.min_by("value", "ts").alias("open_v"),
            F.max_by("value", "ts").alias("close_v"),
            F.max("value").alias("high_v"),
            F.min("value").alias("low_v"),
            F.sum("value").alias("vol_v"),
        )
    )
    fmt = lambda c: F.format_string("%.2f", portable_round(c, 2))  # noqa: E731
    return bars.select(
        "stock_name",
        F.date_format("d", "MMM d, yyyy").alias("date_str"),
        fmt(F.col("close_v")).alias("price_str"),
        fmt(F.col("open_v")).alias("open_str"),
        fmt(F.col("high_v")).alias("high_str"),
        fmt(F.col("low_v")).alias("low_str"),
        F.concat(fmt(F.col("vol_v") / 1000), F.lit("K")).alias("vol_str"),
    )


def bronze_to_silver(bronze: DataFrame) -> DataFrame:
    """Type the string rows with the parsing library into the reference's
    warehouse schema (dump_bigq.py:47-56)."""
    return bronze.select(
        "stock_name",
        parse_mdy_date(F.col("date_str")).alias("Date"),
        parse_money(F.col("price_str")).alias("Price"),
        parse_money(F.col("open_str")).alias("Open"),
        parse_money(F.col("high_str")).alias("High"),
        parse_money(F.col("low_str")).alias("Low"),
        parse_kmb(F.col("vol_str")).alias("Vol"),
    )


def silver_to_gold(silver: DataFrame) -> DataFrame:
    """Per-index daily %-change + 7-day SMA (deterministic windows)."""
    w = Window.partitionBy("stock_name").orderBy("Date")
    w7 = w.rowsBetween(-6, Window.currentRow)
    prev = F.lag("Price").over(w)
    return silver.select(
        "stock_name",
        "Date",
        "Price",
        "Open",
        "High",
        "Low",
        "Vol",
        portable_round((F.col("Price") - prev) / F.nullif(prev, F.lit(0)) * 100, 4)
        .cast("double")
        .alias("Change"),
        portable_round(F.avg("Price").over(w7), 4).cast("double").alias("sma7"),
    )


def build_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    return silver_to_gold(bronze_to_silver(build_bronze(spark, sf_dir)))


def run_pipeline(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, int]:
    """Materialize bronze/silver/gold with truncate-load semantics and
    verify row counts (ref L4 post-load verification, dump_bigq.py:147-149).
    """
    counts: dict[str, int] = {}
    bronze = write_and_read(
        spark, build_bronze(spark, sf_dir), os.path.join(out_dir, "bronze")
    )
    counts["bronze"] = bronze.count()

    silver = write_and_read(
        spark, bronze_to_silver(bronze), os.path.join(out_dir, "silver")
    )
    counts["silver"] = silver.count()

    gold = write_and_read(
        spark, silver_to_gold(silver), os.path.join(out_dir, "gold")
    )
    counts["gold"] = gold.count()
    return counts
