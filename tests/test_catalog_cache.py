"""Per-session schema cache behind catalog.load_table: the first load
of a (scan path, fixture vintage, nanos conf) infers the parquet schema,
later loads reuse it. Each test below fails against a cache that keeps
a DataFrame (shared relation) or that keys on the path alone."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from stockmarketdata_dwb_etl_spark.catalog import load_table
from tests.conftest import SF_DIR


def _write_nation(dirpath: str, extra: bool = False, binary: bool = False) -> None:
    os.makedirs(dirpath, exist_ok=True)
    cols = {
        "n_nationkey": pa.array([0, 1, 2], type=pa.int64()),
        "n_name": pa.array([b"A", b"B", b"C"] if binary else ["A", "B", "C"]),
    }
    if extra:
        cols["n_extra"] = pa.array([10, 11, 12], type=pa.int64())
    pq.write_table(pa.table(cols), os.path.join(dirpath, "nation.parquet"))


def test_rewritten_table_shows_new_column(tmp_path, spark):
    sf_dir = str(tmp_path / "sf")
    _write_nation(sf_dir)
    assert "n_extra" not in load_table(spark, sf_dir, "nation").columns
    # same path, new content: the fixture fingerprint changes, so the
    # next load infers again instead of serving the old schema
    _write_nation(sf_dir, extra=True)
    df = load_table(spark, sf_dir, "nation")
    assert "n_extra" in df.columns
    assert sorted(r["n_extra"] for r in df.collect()) == [10, 11, 12]


def test_two_loads_self_join_unambiguously(spark):
    a = load_table(spark, SF_DIR, "nation")
    b = load_table(spark, SF_DIR, "nation")
    pairs = a.join(b, a["n_regionkey"] == b["n_regionkey"]).select(
        a["n_nationkey"], b["n_nationkey"].alias("other")
    )
    per_region = a.groupBy("n_regionkey").count().collect()
    assert pairs.count() == sum(r["count"] ** 2 for r in per_region) > 0


def test_new_session_infers_its_own_schema(tmp_path, spark):
    """A second session with a schema-relevant conf of its own must not
    reuse the first session's entry: binaryAsString types a BINARY
    column as STRING only when that session infers the schema."""
    sf_dir = str(tmp_path / "sf")
    _write_nation(sf_dir, binary=True)
    assert dict(load_table(spark, sf_dir, "nation").dtypes)["n_name"] == "binary"
    other = spark.newSession()
    other.conf.set("spark.sql.parquet.binaryAsString", "true")
    df = load_table(other, sf_dir, "nation")
    assert dict(df.dtypes)["n_name"] == "string"
    assert sorted(r["n_name"] for r in df.collect()) == ["A", "B", "C"]
    # and the first session keeps its own
    assert dict(load_table(spark, sf_dir, "nation").dtypes)["n_name"] == "binary"
