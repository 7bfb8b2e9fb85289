"""Unit tests for the parsing expression library, pinned to the reference's
observed behaviors (golden values from /root/reference/stock_data.csv and
the cleaning code at /root/reference/dump_bigq.py:70-128)."""

from __future__ import annotations

import datetime as dt
import itertools

import pytest
from pyspark.sql import functions as F

from stockmarketdata_dwb_etl_spark.functions.parsing import (
    NAN_SPELLINGS,
    parse_kmb,
    parse_mdy_date,
    parse_money,
    parse_pct,
)

KMB_CASES = [
    ("763.44M", 763_440_000.0),
    ("1.01B", 1_010_000_000.0),
    ("1.2K", 1_200.0),
    ("2B", 2_000_000_000.0),
    ("42,801.72", 42_801.72),
    ("15", 15.0),
    ("", None),
    ("nan", None),
    ("NaN", None),
    (None, None),
    ("garbage", None),
]

PCT_CASES = [
    ("+0.52%", 0.52),
    ("-1.75%", -1.75),
    ("0.00%", 0.0),
    ("", None),
    ("nan", None),
    (None, None),
]

MONEY_CASES = [
    ("42,801.72", 42_801.72),
    ("1,234,567.89", 1_234_567.89),
    ("900.5", 900.5),
    ("", None),
    ("nan", None),
    ("bogus", None),
]

DATE_CASES = [
    ("Mar 07, 2025", dt.date(2025, 3, 7)),
    ("Mar 7, 2025", dt.date(2025, 3, 7)),
    ("Feb 10, 2025", dt.date(2025, 2, 10)),
    ("", None),
    (None, None),
    ("not a date", None),
]


def _run(spark, fn, cases):
    df = spark.createDataFrame([(c[0],) for c in cases], "raw: string")
    return [r.out for r in df.select(fn(F.col("raw")).alias("out")).collect()]


@pytest.mark.parametrize(
    "fn,cases",
    [
        (parse_kmb, KMB_CASES),
        (parse_pct, PCT_CASES),
        (parse_money, MONEY_CASES),
        (parse_mdy_date, DATE_CASES),
    ],
    ids=["kmb", "pct", "money", "mdy_date"],
)
def test_parse_golden(spark, fn, cases):
    got = _run(spark, fn, cases)
    for (raw, want), out in zip(cases, got):
        if want is None:
            assert out is None, f"{raw!r}: want NULL got {out!r}"
        elif isinstance(want, float):
            assert out == pytest.approx(want), f"{raw!r}: want {want} got {out}"
        else:
            assert out == want, f"{raw!r}: want {want} got {out}"


def test_kmb_roundtrip_property(spark):
    """format(x)|>parse == x for K/M/B magnitudes (SURVEY.md §5.5)."""
    rows = [(f"{v:.2f}{s}",) for v in (0.01, 1.5, 999.99, 42.42) for s in "KMB"]
    df = spark.createDataFrame(rows, "raw: string")
    out = df.select(
        F.col("raw"), parse_kmb(F.col("raw")).alias("parsed")
    ).collect()
    mult = {"K": 1e3, "M": 1e6, "B": 1e9}
    for r in out:
        base = float(r.raw[:-1]) * mult[r.raw[-1]]
        assert r.parsed == pytest.approx(base)


def test_nan_spellings_are_every_string_whose_lower_is_nan(spark):
    """``null_if_missing`` tests ``t IN NAN_SPELLINGS`` where it once
    tested ``lower(t) = 'nan'``. Spark's ``lower`` maps a string code
    point by code point (its only context rule, Greek final sigma, maps
    to sigma) and maps no code point to the empty string, so
    ``lower(t) = 'nan'`` holds exactly when t's code points map to
    pieces that concatenate to 'nan'. Enumerating every code point
    shows that only n, N, a and A map to a piece of 'nan' at all, and
    each to one letter: the strings are the 8 case spellings, and the
    two tests have the same truth table."""
    # one code point per string: UTF-32 after an explicit BOM, so U+FEFF
    # itself decodes as a character
    s = F.decode(
        F.unhex(F.concat(F.lit("0000FEFF"), F.lpad(F.hex("id"), 8, "0"))), "UTF-32"
    )
    chars = (
        spark.range(0x110000)
        .filter((F.col("id") < 0xD800) | (F.col("id") > 0xDFFF))
        .select(s.alias("s"))
    )
    pieces = ["n", "a", "na", "an", "nan"]
    hits = chars.filter((F.length("s") != 1) | F.lower("s").isin(*pieces))
    got = sorted((r.s, r.low) for r in hits.select("s", F.lower("s").alias("low")).collect())
    assert got == [("A", "a"), ("N", "n"), ("a", "a"), ("n", "n")]
    assert sorted(NAN_SPELLINGS) == sorted(map("".join, itertools.product("nN", "aA", "nN")))
