"""stock_ingest pipeline: materialized medallion flow with truncate-load
semantics (idempotent re-run, ref WRITE_TRUNCATE dump_bigq.py:137)."""

from __future__ import annotations

import os

from tests.conftest import SF_DIR

OUT = "/root/repo/.scratch/pipeline_test"


def test_run_pipeline_counts_and_idempotence(spark):
    from pipelines.stock_ingest import run_pipeline

    counts1 = run_pipeline(spark, SF_DIR, OUT)
    assert counts1["bronze"] == counts1["silver"] == counts1["gold"] > 0

    # daily refresh: re-run overwrites, same result (truncate-load)
    counts2 = run_pipeline(spark, SF_DIR, OUT)
    assert counts1 == counts2

    gold = spark.read.parquet(os.path.join(OUT, "gold"))
    assert set(gold.columns) == {
        "stock_name", "Date", "Price", "Open", "High", "Low", "Vol",
        "Change", "sma7",
    }
    # silver types follow the reference warehouse schema (dump_bigq.py:47-56)
    silver = spark.read.parquet(os.path.join(OUT, "silver"))
    dtypes = dict(silver.dtypes)
    assert dtypes["Date"] == "date"
    assert all(dtypes[c] == "double" for c in ("Price", "Open", "High", "Low", "Vol"))


def test_warehouse_sink_truncate_load(spark):
    """L1-L4 sink contract: idempotent DDL, schema enforcement, truncate
    semantics (double-load keeps the count), post-load verification."""
    import pytest

    from pipelines.stock_ingest import build_gold
    from stockmarketdata_dwb_etl_spark.sinks import (
        BigQuerySink,
        REFERENCE_STOCK_SCHEMA,
        SparkWarehouseSink,
    )

    gold = build_gold(spark, SF_DIR)
    sink = SparkWarehouseSink()
    n1 = sink.load(gold, "StockMktData", "StockData", REFERENCE_STOCK_SCHEMA)
    n2 = sink.load(gold, "StockMktData", "StockData", REFERENCE_STOCK_SCHEMA)
    assert n1 == n2 == gold.count()
    loaded = spark.table("StockMktData.StockData")
    assert [f.name for f in loaded.schema.fields] == [
        f.name for f in REFERENCE_STOCK_SCHEMA.fields
    ]
    assert dict(loaded.dtypes)["Date"] == "date"
    # gold's sma7 column is not in the warehouse schema -> dropped (L2)
    assert "sma7" not in loaded.columns
    with pytest.raises(NotImplementedError):
        BigQuerySink("proj", "ds").load(
            gold, "StockMktData", "StockData", REFERENCE_STOCK_SCHEMA
        )


def test_corpus_pipeline_materializes_and_near_dedup_only_removes(
    spark, tmp_path
):
    """run_pipeline writes all three layers; the near-dedup stage can
    only REMOVE docs relative to the exact-dedup corpus, never add or
    alter, and the gold accounting stays consistent with the corpus."""
    from tests.conftest import SF_DIR

    from pipelines.corpus_curation import build_deduped, run_pipeline

    out = str(tmp_path / "corpus_out")
    gold = run_pipeline(spark, SF_DIR, out, near_dedup=True)
    rows = gold.collect()
    assert rows, "gold layer is empty"
    corpus = spark.read.parquet(f"{out}/corpus.parquet")
    exact = build_deduped(spark, SF_DIR)
    n_corpus, n_exact = corpus.count(), exact.count()
    assert 0 < n_corpus <= n_exact
    # near-dedup survivors are a subset of the exact-dedup survivors
    extra = corpus.select("doc_id").subtract(exact.select("doc_id")).count()
    assert extra == 0
    # gold totals reconcile with the materialized corpus
    assert sum(r["n_docs"] for r in rows) == n_corpus


def test_corpus_pipeline_layers_match_build_functions(spark, tmp_path):
    """Without near-dedup, each layer run_pipeline builds from the
    previous layer's parquet equals the one-plan build_* function of that layer,
    and the returned gold is gold.parquet (exceptAll both ways)."""
    from pipelines.corpus_curation import build_deduped, build_silver, run_pipeline

    out = str(tmp_path / "corpus_out")
    gold = run_pipeline(spark, SF_DIR, out, near_dedup=False)

    def same(a, b) -> None:
        assert a.count() > 0
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0

    same(spark.read.parquet(f"{out}/silver.parquet"), build_silver(spark, SF_DIR))
    same(spark.read.parquet(f"{out}/corpus.parquet"), build_deduped(spark, SF_DIR))
    same(gold, spark.read.parquet(f"{out}/gold.parquet"))
