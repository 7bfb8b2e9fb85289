"""LLM training-corpus curation pipeline: bronze → silver → gold.

The corpus twin of :mod:`pipelines.stock_ingest` — where that pipeline
mirrors the reference's scrape→parse→load flow (/root/reference/
stock_data_scraper/dags/scrapers/stock_data_scraper.py:310-333), this
one composes the engine's LLM-data operators into the curation flow a
pretraining corpus actually runs, each stage an operator family the
query surface already proves individually:

- **bronze**: raw documents (doc_id, text, lang, source).
- **silver**: canonicalize (lowercase, collapse whitespace runs, trim —
  the q_text_canonicalize pass) + quality signals on the CANONICAL text
  (token count, distinct-3gram repetition ratio, alphabetic ratio — the
  q_quality_gate signals) + the keep verdict + the canonical md5 digest
  every dedup stage keys on.
- **dedup**: quality-gated docs exact-deduplicated on the canonical
  digest, first doc_id wins (q_dedup_exact / q_dedup_keep_canonical
  semantics). ``run_pipeline(near_dedup=True)`` additionally drops
  MinHash-LSH near-duplicates via
  :func:`operators.dedup.minhash_near_dups` (dropping the larger doc_id
  of every verified pair) — the scale path the oracle-checked summary
  deliberately excludes so the registered query stays SQL-expressible.
- **split**: deterministic md5-bucket train/val/test (~90/5/5), the
  q_hash_split rule — content-independent, join-free, reproducible on
  any engine.
- **gold**: per (split, lang) corpus accounting — kept-doc count, total
  tokens, mean repetition ratio, and a corpus digest (md5 over the
  doc_id-ordered per-doc canonical md5s) that certifies the SURVIVING
  TEXT byte-for-byte, not just counts.

Scale posture: every stage up to the gold agg is map-only (canonical
text, signals, gate, bucket) except the digest-keyed dedup window (ONE
shuffle on the 32-char digest — text never shuffles twice) and the
final (split, lang) hash-agg. ``run_pipeline`` builds each layer
once: silver is written, and the dedup reads the written silver back;
the corpus is written, and gold aggregates the written corpus; the
returned gold is ``gold.parquet`` read back. No layer is derived from
``documents`` twice, and every read-back uses the schema the layer was
written with, so it runs no schema-inference job. ``build_deduped``
(and the registered ``q_corpus_pipeline`` above it) composes the same
silver and dedup steps as one plan. The optional near-dedup stage
shuffles on (doc_id)/(band_hash) only, per operators/dedup.py's
posture.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pipelines import write_and_read
from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.exact import portable_round
from stockmarketdata_dwb_etl_spark.functions.text import (
    canonical_text,
    distinct_shingle_ratio,
    tokenize,
)
from stockmarketdata_dwb_etl_spark.queries.reports import hash_bucket

_DEC18 = "decimal(38,18)"


def build_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text + quality signals + keep verdict + split label."""
    docs = load_table(spark, sf_dir, "documents")
    ctext = canonical_text(F.col("text"))
    canon = docs.select("doc_id", "lang", "source", ctext.alias("ctext"))
    toks = tokenize(F.col("ctext"))
    with_toks = canon.withColumn("__toks", toks)
    # distinct_shingle_ratio builds its shingles in the slice/zip_with
    # form of word_shingles, NOT an element_at comprehension: the
    # keep-filter below gets predicate-pushed past this projection, and
    # the pushdown rewrite INLINES __toks into the predicate — an
    # element_at form then re-evaluates tokenize(ctext) per 3-gram per
    # position (measured 0.9 s -> 13.8 s for the gated silver at probe
    # x1; the slice form references __toks only k+1 times, restoring ~1 s).
    n_tok = F.size("__toks")
    distinct_ratio = portable_round(distinct_shingle_ratio(F.col("__toks"), 3), 4)
    alpha_ratio = portable_round(
        F.length(F.regexp_replace("ctext", "[^a-z ]", "")).cast("double")
        / F.greatest(F.length("ctext"), F.lit(1)),
        4,
    )
    bucket = hash_bucket("doc_id", 256)
    split = (
        F.when(bucket < 230, "train").when(bucket < 243, "val").otherwise("test")
    )
    return with_toks.select(
        "doc_id",
        "lang",
        "source",
        "ctext",
        F.md5("ctext").alias("digest"),
        n_tok.cast("bigint").alias("n_tokens"),
        distinct_ratio.cast("double").alias("distinct_ratio"),
        alpha_ratio.cast("double").alias("alpha_ratio"),
        (
            (n_tok >= 30) & (distinct_ratio >= 0.6) & (alpha_ratio >= 0.6)
        ).alias("keep"),
        split.alias("split"),
    )


def exact_dedup(silver: DataFrame) -> DataFrame:
    """Quality-gated docs of ``silver``, exact-deduplicated on the
    canonical digest (first doc_id per digest survives — one shuffle on
    the digest)."""
    w = Window.partitionBy("digest").orderBy("doc_id")
    return (
        silver.filter(F.col("keep"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def build_deduped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`exact_dedup` over :func:`build_silver`, as one plan."""
    return exact_dedup(build_silver(spark, sf_dir))


def build_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(split, lang) accounting over the surviving corpus.

    The corpus digest is TWO-LEVEL so no aggregation state is ever
    proportional to group size (the scale fix over
    q_text_canonicalize's single-level ordered collect): docs hash
    into 64 doc_id-buckets, each bucket folds its doc_id-ordered
    digests into one md5 (bucket-bounded array), then the group digest
    folds the ≤64 ordered bucket digests — both levels deterministic
    on both engines, state O(bucket count) per group at any corpus
    size."""
    kept = build_deduped(spark, sf_dir)
    bucket = (F.col("doc_id") % 64).cast("int")
    bdig = (
        kept.groupBy("split", "lang", bucket.alias("bkt"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum(F.col("distinct_ratio").cast("decimal(38,4)")).alias("sum_dr"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("doc_id", F.col("digest").alias("h"))
                            )
                        ),
                        lambda s: s["h"],
                    ),
                    "",
                ).cast("binary")
            ).alias("bdigest"),
        )
    )
    return (
        bdig.groupBy("split", "lang")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("total_tokens").cast("bigint").alias("total_tokens"),
            portable_round(
                F.sum("sum_dr").cast("double") / F.sum("n_docs"), 4
            )
            .cast("double")
            .alias("avg_distinct_ratio"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("bkt", F.col("bdigest").alias("h"))
                            )
                        ),
                        lambda s: s["h"],
                    ),
                    "",
                ).cast("binary")
            ).alias("corpus_digest"),
        )
        .orderBy("split", "lang")
    )


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    near_dedup: bool = False,
) -> DataFrame:
    """Materialize silver/dedup/gold layers as parquet (overwrite — the
    reference's WRITE_TRUNCATE refresh semantics, dump_bigq.py:137).
    Each layer is built ONCE, from the previous layer's parquet read
    back (the reference's checkpoint-then-reload flow, main.py:123-133
    → dump_bigq.py:88-132), and the returned gold is ``gold.parquet``
    read back, so nothing upstream is recomputed. With
    ``near_dedup=True``, MinHash-LSH near-duplicate pairs over the
    surviving canonical texts additionally drop the larger doc_id of
    each verified pair before the gold accounting (the q_dedup_minhash
    operator as a pipeline stage)."""
    silver = write_and_read(
        spark, build_silver(spark, sf_dir), os.path.join(out_dir, "silver.parquet")
    )
    kept = exact_dedup(silver)
    if near_dedup:
        from stockmarketdata_dwb_etl_spark.operators.dedup import (
            minhash_near_dups,
        )

        pairs = minhash_near_dups(
            kept.select("doc_id", F.col("ctext").alias("text")),
            threshold=0.7,
        )
        losers = pairs.select(
            F.greatest("id_a", "id_b").alias("doc_id")
        ).distinct()
        kept = kept.join(losers, "doc_id", "left_anti")
    corpus = write_and_read(spark, kept, os.path.join(out_dir, "corpus.parquet"))
    gold = (
        corpus.groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .orderBy("split", "lang")
    )
    return write_and_read(spark, gold, os.path.join(out_dir, "gold.parquet"))
