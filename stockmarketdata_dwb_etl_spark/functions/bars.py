"""OHLCV bars from ``events``: one tick-pick, bar and return policy.

The reference loads per-index daily OHLCV bars (open, high, low, close,
volume). Here ``events`` stands in for the tick stream: ``event_type`` is
the symbol, ``value`` the price, and a bar's tick count its volume. Every
helper below is a Spark builder paired with the DuckDB text that computes
the identical result, in the style of :mod:`functions.exact`:

- Tick order is the padded key ``%020d-%012d`` over (epoch microseconds,
  event_id). It is a string, so both engines compare it the same way and
  ``ts`` ties are broken by ``event_id``. Open is the value at the lowest
  key (``min_by`` / ``arg_min``), close the value at the highest.
- A bar groups by ``event_type AS symbol`` and ``date_trunc(grain, ts)
  AS bar_ts``. The grain is named at every call; there is no default.
  At 'day' grain DuckDB's ``bar_ts`` is a DATE and Spark's a midnight
  TIMESTAMP: the same day, typed differently.
- The simple return is ``close / lag(close) - 1.0`` over the caller's
  window, in that operator order on both engines.
- The market benchmark is the equal-weight mean return per ``bar_ts``:
  an exact split sum at (12, 8) over the count. Hourly returns spike to
  |r| ~1.5e3 when a close lands near 0, inside the 8dp bound of 9e7.

The DuckDB bar and return texts are SELECT bodies with surrounding
whitespace, meant to sit inside a CTE: ``bars AS ({sql_ohlcv_bars(...)})``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec

from stockmarketdata_dwb_etl_spark.functions.exact import (
    split_term_sum,
    sql_split_term_sum,
)

#: The bar fields, in the reference table's column order.
OHLC = ("open", "high", "low", "close")
OHLCV = (*OHLC, "volume")

_SQL_TICK_KEY = "printf('%020d-%012d', epoch_us(ts), event_id)"


def tick_key() -> Column:
    """The padded (ts, event_id) tick-order key, for window ``orderBy``.

    Built lazily: a Column cannot exist before the SparkContext does.
    ``ts`` is TIMESTAMP_NTZ (catalog.load_table) and ``unix_micros``
    takes only TIMESTAMP_LTZ, so the micros are a ``timestampdiff`` from
    the naive epoch: timezone-independent and equal to DuckDB's
    ``epoch_us(ts)``."""
    return F.format_string(
        "%020d-%012d",
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ),
        F.col("event_id"),
    )


def sql_tick_key() -> str:
    """DuckDB twin of :func:`tick_key`."""
    return _SQL_TICK_KEY


def open_tick() -> Column:
    """Aggregate: ``value`` at the group's first tick."""
    return F.min_by("value", tick_key())


def sql_open_tick() -> str:
    """DuckDB twin of :func:`open_tick`."""
    return f"arg_min(value, {_SQL_TICK_KEY})"


def close_tick() -> Column:
    """Aggregate: ``value`` at the group's last tick."""
    return F.max_by("value", tick_key())


def sql_close_tick() -> str:
    """DuckDB twin of :func:`close_tick`."""
    return f"arg_max(value, {_SQL_TICK_KEY})"


_FIELDS = {
    "open": open_tick,
    "high": lambda: F.max("value"),
    "low": lambda: F.min("value"),
    "close": close_tick,
    "volume": lambda: F.count(F.lit(1)).cast("bigint"),
}

_SQL_FIELDS = {
    "open": sql_open_tick(),
    "high": "MAX(value)",
    "low": "MIN(value)",
    "close": sql_close_tick(),
    "volume": "CAST(COUNT(*) AS BIGINT)",
}


def ohlcv_bars(events: DataFrame, grain: str, *fields: str) -> DataFrame:
    """Per-(symbol, bar_ts) bars of ``events`` at ``grain`` ('hour',
    'day', ...), with the named :data:`OHLCV` fields in the given order."""
    return events.groupBy(
        F.col("event_type").alias("symbol"),
        F.date_trunc(grain, F.col("ts")).alias("bar_ts"),
    ).agg(*(_FIELDS[f]().alias(f) for f in fields))


def sql_ohlcv_bars(grain: str, *fields: str) -> str:
    """DuckDB twin of :func:`ohlcv_bars` over the ``events`` view."""
    cols = ",\n               ".join(f"{_SQL_FIELDS[f]} AS {f}" for f in fields)
    return f"""
        SELECT event_type AS symbol,
               date_trunc('{grain}', ts) AS bar_ts,
               {cols}
        FROM events GROUP BY 1, 2
    """


def simple_return(w: WindowSpec) -> Column:
    """``close / lag(close) - 1.0`` over ``w``."""
    return F.col("close") / F.lag("close").over(w) - F.lit(1.0)


def sql_simple_return(over: str) -> str:
    """DuckDB twin of :func:`simple_return`; ``over`` is a window name or
    a parenthesized window specification."""
    return f"close / lag(close) OVER {over} - 1.0"


def bar_returns(bar_frame: DataFrame) -> DataFrame:
    """Per-symbol simple returns ``r`` of a bar frame, first bar dropped:
    columns (symbol, bar_ts, r)."""
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    return bar_frame.select(
        "symbol", "bar_ts", simple_return(w).alias("r")
    ).filter(F.col("r").isNotNull())


def sql_bar_returns(source: str) -> str:
    """DuckDB twin of :func:`bar_returns` over the bar relation ``source``."""
    return f"""
        SELECT symbol, bar_ts,
               {sql_simple_return("(PARTITION BY symbol ORDER BY bar_ts)")} AS r
        FROM {source}
        QUALIFY r IS NOT NULL
    """


def market_return(rets: DataFrame) -> DataFrame:
    """Equal-weight market return ``rm`` per ``bar_ts`` of a frame with a
    return column ``r``: columns (bar_ts, rm)."""
    return rets.groupBy("bar_ts").agg(
        (split_term_sum(F.col("r"), 12, 8) / F.count(F.lit(1))).alias("rm")
    )


def sql_market_return(source: str) -> str:
    """DuckDB twin of :func:`market_return` over the relation ``source``."""
    return f"""
        SELECT bar_ts,
               {sql_split_term_sum("r", 12, 8)}
                   / COUNT(*) AS rm
        FROM {source} GROUP BY bar_ts
    """
