"""The benchmark's two workloads and the output check behind each op.

An op is one call a user of the engine makes, split into the part that
builds a plan (``build``) and the part that executes it (``run``):

- a registry query builds with ``QUERIES[name](spark, sf_dir)`` and runs
  through the noop sink, as ``bench.py`` times it, or, when its output
  is kept for the check, collects it;
- an ETL call with no separate plan step (the two ``run_pipeline``
  calls) has no build;
- the warehouse load builds the gold table and runs ``sink.load``.

Every op also carries a ``check``, run untimed after the timed passes,
that compares the op's output with the DuckDB oracle under the
``tests/compare.py`` rules and raises on any mismatch. A query's output
is the one its cold-pass execution collected; an ETL op's output is what
the last pass wrote, read back.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

#: execution-bound queries from ``bench.py``'s HEADLINE battery: scans,
#: hash and sort aggregation and joins. Same queries, noop sink and
#: cold-slot rule as ``bench.py``, so each one's time reads against its
#: ``queries`` entry in the BENCH_r*.json history. The other fourteen are
#: left out to keep a run short; four of them return 100k+ rows, which the
#: output check would spend most of a run canonicalizing.
OLAP = (
    "q_agg_groupby",
    "q_tpch_q3",
    "q_tpch_q5",
    "q_agg_percentile",
)

#: an iterative operator whose time is mostly driver-side plan building and
#: eager lineage cuts (checkpoint jobs taken while the plan is built); the
#: workload also runs ``corpus_curation.run_pipeline``. The other iterative
#: queries are left out so a run fits the benchmark's time budget.
ITERATIVE = ("q_pagerank_iter",)

WARMUP_QUERY = "q_orderby_limit"
_STOCK_DATASET, _STOCK_TABLE = "StockMktData", "StockData"


@dataclass(frozen=True)
class Op:
    name: str
    build: Callable | None  # (spark) -> plan handed to run
    run: Callable  # (spark, plan, collect) -> output kept for check, or None
    check: Callable  # (spark, duck, output) -> None, raises on a wrong output


@dataclass(frozen=True)
class Workload:
    """One set of ops at one scale; why each was chosen is in README.md."""

    name: str
    sf: float
    make_ops: Callable[[str, str], list[Op]]  # (sf_dir, out_dir) -> ops


def _execute(spark, df, collect: bool):
    if collect:
        return df.toPandas()
    df.write.format("noop").mode("overwrite").save()
    return None


def _assert_match(spark_pdf, oracle_pdf, name: str) -> None:
    from tests.compare import assert_frames_match

    assert_frames_match(spark_pdf, oracle_pdf, name)


def _query_op(name: str, sf_dir: str) -> Op:
    from stockmarketdata_dwb_etl_spark.registry import ORACLE, QUERIES

    def check(spark, duck, pdf) -> None:
        if name not in ORACLE:
            # rows-only contract, as tests/test_oracle.py applies it
            if pdf.shape[1] == 0:
                raise AssertionError(f"{name}: empty schema")
            return
        _assert_match(pdf, duck.execute(ORACLE[name]).fetchdf(), name)

    return Op(name, lambda spark: QUERIES[name](spark, sf_dir), _execute, check)


def _etl_ops(sf_dir: str, out_dir: str) -> list[Op]:
    from pipelines import stock_ingest
    from stockmarketdata_dwb_etl_spark.registry import ORACLE
    from stockmarketdata_dwb_etl_spark.sinks import (
        REFERENCE_STOCK_SCHEMA,
        SparkWarehouseSink,
    )

    stock_out = os.path.join(out_dir, "stock")
    sink = SparkWarehouseSink(root_dir=os.path.join(out_dir, "warehouse"))

    def stock_oracle(duck):
        return duck.execute(ORACLE["q_stock_pipeline"]).fetchdf()

    def run_stock(spark, _plan, _collect) -> None:
        counts = stock_ingest.run_pipeline(spark, sf_dir, stock_out)
        if not counts["bronze"] == counts["silver"] == counts["gold"] > 0:
            raise AssertionError(f"stock_ingest layer counts differ: {counts}")

    def check_stock(spark, duck, _output) -> None:
        gold = spark.read.parquet(os.path.join(stock_out, "gold")).toPandas()
        _assert_match(gold, stock_oracle(duck), "stock_ingest.run_pipeline gold")

    def load(spark, gold, _collect) -> None:
        n = sink.load(gold, _STOCK_DATASET, _STOCK_TABLE, REFERENCE_STOCK_SCHEMA)
        if n <= 0:
            raise AssertionError(f"warehouse read-back counted {n} rows")

    def check_load(spark, duck, _output) -> None:
        cols = [f.name for f in REFERENCE_STOCK_SCHEMA.fields]
        back = spark.table(f"{_STOCK_DATASET}.{_STOCK_TABLE}").toPandas()
        _assert_match(back, stock_oracle(duck)[cols], "sinks.load read-back")

    return [
        Op("pipelines.stock_ingest.run_pipeline", None, run_stock, check_stock),
        Op(
            "sinks.load",
            lambda spark: stock_ingest.build_gold(spark, sf_dir),
            load,
            check_load,
        ),
    ]


def _corpus_op(sf_dir: str, out_dir: str) -> Op:
    from pipelines import corpus_curation
    from stockmarketdata_dwb_etl_spark.registry import ORACLE

    corpus_out = os.path.join(out_dir, "corpus")
    cols = ["split", "lang", "n_docs", "total_tokens"]

    def run(spark, _plan, _collect) -> None:
        corpus_curation.run_pipeline(spark, sf_dir, corpus_out, near_dedup=False)

    def check(spark, duck, _output) -> None:
        gold = spark.read.parquet(os.path.join(corpus_out, "gold.parquet")).toPandas()
        oracle = duck.execute(ORACLE["q_corpus_pipeline"]).fetchdf()[cols]
        _assert_match(gold[cols], oracle, "corpus_curation.run_pipeline gold")

    return Op("pipelines.corpus_curation.run_pipeline", None, run, check)


def _warehouse_ops(sf_dir: str, out_dir: str) -> list[Op]:
    return _etl_ops(sf_dir, out_dir) + [_query_op(n, sf_dir) for n in OLAP]


def _iterative_ops(sf_dir: str, out_dir: str) -> list[Op]:
    return [_query_op(n, sf_dir) for n in ITERATIVE] + [_corpus_op(sf_dir, out_dir)]


WORKLOADS = {
    w.name: w
    for w in (
        Workload("warehouse", 0.1, _warehouse_ops),
        Workload("iterative", 0.01, _iterative_ops),
    )
}
