"""Medallion pipelines on the engine: :mod:`pipelines.stock_ingest`
(OHLCV bronze → silver → gold) and :mod:`pipelines.corpus_curation`
(LLM corpus silver → dedup → gold)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_and_read(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Write ``df`` as parquet (overwrite) and return the written layer,
    read back with the schema it was written with (no inference job)."""
    df.write.mode("overwrite").parquet(path)
    return spark.read.schema(df.schema).parquet(path)
