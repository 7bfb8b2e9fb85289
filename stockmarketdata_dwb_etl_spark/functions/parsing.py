"""Parsing expression library — the reference pipeline's scalar soul.

Re-expresses the cleaning semantics of /root/reference/dump_bigq.py:70-128
(and the identical class-pipeline copies at
/root/reference/stock_data_scraper/dags/scrapers/stock_data_scraper.py:206-269)
as pure Spark Column expressions: JVM-side, codegen-friendly, no Python UDF
in the hot path. Null policy follows the reference exactly: empty string,
``'nan'`` and unparseable input → NULL (dump_bigq.py:71-72,85-86,107,126-127).

All functions take/return ``pyspark.sql.Column`` so they compose into any
plan and stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: K/M/B magnitude suffixes used by the reference's volume column
#: (dump_bigq.py:74-81): multiplier applied to the numeric body.
KMB_MULTIPLIERS = {"K": 1e3, "M": 1e6, "B": 1e9}


#: every case spelling of 'nan': the only strings whose ``lower`` is
#: 'nan' (tests/test_parsing.py enumerates the code points), tested
#: without a case-mapping call
NAN_SPELLINGS = ("nan", "naN", "nAn", "nAN", "Nan", "NaN", "NAn", "NAN")


def null_if_missing(c: Column) -> Column:
    """Reference null policy: '' and 'nan' (any case) mean missing."""
    t = F.trim(c)
    return F.when(t.isNull() | (t == "") | t.isin(*NAN_SPELLINGS), F.lit(None)).otherwise(t)


def parse_money(c: Column) -> Column:
    """``'42,801.72'`` → 42801.72 (dump_bigq.py:102-111): strip thousands
    separators, cast; unparseable → NULL (Spark try-cast semantics)."""
    return F.regexp_replace(null_if_missing(c), ",", "").try_cast("double")


def parse_kmb(c: Column) -> Column:
    """``'763.44M'`` → 763 440 000.0 (dump_bigq.py:70-86): K/M/B suffix
    × 1e3/1e6/1e9; plain numbers comma-stripped; ''/'nan'/bad → NULL."""
    t = null_if_missing(c)
    suffix = F.substring(t, -1, 1)
    body = F.regexp_replace(F.substring(t, F.lit(1), F.length(t) - 1), ",", "")
    expr = F.regexp_replace(t, ",", "").try_cast("double")
    for suf, mult in KMB_MULTIPLIERS.items():
        expr = F.when(suffix == suf, body.try_cast("double") * mult).otherwise(expr)
    return expr


def parse_pct(c: Column) -> Column:
    """``'+0.52%'`` → 0.52, ``'-1.75%'`` → -1.75 (dump_bigq.py:124-128):
    strip the trailing %, keep the sign, cast; bad → NULL."""
    return F.regexp_replace(null_if_missing(c), "%$", "").try_cast("double")


def parse_mdy_date(c: Column) -> Column:
    """``'Mar 07, 2025'`` → DATE (dump_bigq.py:97-99, format MMM d, yyyy).

    ``try_to_date`` so malformed dates follow the reference's bad→NULL
    policy under Spark 4's default ANSI mode instead of failing the job.
    """
    return F.try_to_date(null_if_missing(c), "MMM d, yyyy")
