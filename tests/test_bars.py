"""The OHLCV bar policy lives in functions/bars.py, and each of its Spark
builders returns the same rows as its DuckDB twin."""

from __future__ import annotations

import ast
import pathlib
import re

import duckdb
import pytest

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.bars import (
    OHLCV,
    bar_returns,
    market_return,
    ohlcv_bars,
    sql_bar_returns,
    sql_market_return,
    sql_ohlcv_bars,
)
from tests.conftest import SF_DIR

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "stockmarketdata_dwb_etl_spark"
BARS = PKG / "functions" / "bars.py"

# The tick-key format, and the names the key had before it moved, are
# spelled in pieces so that a grep for them finds only functions/bars.py.
_KEY_FORMAT = "%020d" "-%012d"
# What turns events into bars. A package helper that calls one of these
# is a bars helper; one that takes bars from its caller and adds to them
# (a row number, returns by hour of day) is a composition, and may stay.
_BUILDERS = {
    "ohlcv_bars",
    "sql_ohlcv_bars",
    "open_tick",
    "sql_open_tick",
    "close_tick",
    "sql_close_tick",
    "_spark" "_ord",
    "_DUCK" "_ORD",
}
_SQL_RETURN = re.compile(r"close\s*/\s*lag\(close\)\s+OVER\s+(\w+|\([^)]*\))\s*-\s*1\.0")


def _name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _is_query(fn: ast.FunctionDef) -> bool:
    return any(
        isinstance(d, ast.Call) and _name(d.func) == "query" for d in fn.decorator_list
    )


def _is_col(node: ast.AST, text: str, fn: str) -> bool:
    return (
        isinstance(node, ast.Call)
        and _name(node.func) == fn
        and bool(node.args)
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value == text
    )


def _bar_policy_copies(path: pathlib.Path, package: bool) -> list[str]:
    src = path.read_text()
    copies = []
    if _KEY_FORMAT in src:
        copies.append(f"{path.name}: tick-key format literal")
    tree = ast.parse(src)
    # a package helper that builds bars is a second bars module
    for node in tree.body if package else ():
        if isinstance(node, ast.FunctionDef) and _is_query(node):
            continue
        if not isinstance(node, (ast.FunctionDef, ast.Assign)):
            continue
        used = {_name(n) for n in ast.walk(node)} & _BUILDERS
        if used:
            copies.append(f"{path.name}:{node.lineno} helper over {sorted(used)}")
    for node in ast.walk(tree):
        where = f"{path.name}:{getattr(node, 'lineno', 0)}"
        # Spark: min_by/max_by(value, tick_key()) is open_tick()/close_tick()
        if (
            isinstance(node, ast.Call)
            and _name(node.func) in ("min_by", "max_by")
            and len(node.args) == 2
            and isinstance(node.args[1], ast.Call)
            and _name(node.args[1].func) == "tick_key"
        ):
            copies.append(f"{where} {_name(node.func)}(..., tick_key())")
        # DuckDB: arg_min/arg_max(value, {sql_tick_key()})
        if isinstance(node, ast.JoinedStr):
            for before, after in zip(node.values, node.values[1:]):
                if (
                    isinstance(before, ast.Constant)
                    and re.search(r"arg_m(in|ax)\(\s*value,\s*$", before.value)
                    and isinstance(after, ast.FormattedValue)
                    and isinstance(after.value, ast.Call)
                    and _name(after.value.func) == "sql_tick_key"
                ):
                    copies.append(f"{where} arg_min/arg_max(value, sql_tick_key())")
        # Spark: F.col("close") / F.lag("close").over(w) - F.lit(1.0)
        if (
            isinstance(node, ast.BinOp)
            and isinstance(node.op, ast.Sub)
            and isinstance(node.left, ast.BinOp)
            and isinstance(node.left.op, ast.Div)
            and _is_col(node.left.left, "close", "col")
            and isinstance(node.left.right, ast.Call)
            and _name(node.left.right.func) == "over"
            and isinstance(node.left.right.func, ast.Attribute)
            and _is_col(node.left.right.func.value, "close", "lag")
            and len(node.left.right.func.value.args) == 1
        ):
            copies.append(f"{where} inline simple return")
        # DuckDB: close / lag(close) OVER w - 1.0
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and _SQL_RETURN.search(node.value)
        ):
            copies.append(f"{where} inline SQL simple return")
    return sorted(set(copies))


def bar_policy_copies(root: pathlib.Path) -> list[str]:
    """Every copy of the bar policy outside functions/bars.py under
    ``root``'s package and tests."""
    pkg = root / PKG.relative_to(ROOT)
    bars = root / BARS.relative_to(ROOT)
    paths = [*sorted(pkg.rglob("*.py")), *sorted((root / "tests").rglob("*.py"))]
    return [
        c
        for path in paths
        if path != bars
        for c in _bar_policy_copies(path, pkg in path.parents)
    ]


def test_bar_policy_lives_only_in_bars():
    """No module outside functions/bars.py builds the tick-order key,
    picks open/close ticks or computes the simple return inline, and no
    package helper outside it builds bars from events."""
    copies = bar_policy_copies(ROOT)
    assert not copies, copies


def _ev(spark):
    return load_table(spark, SF_DIR, "events")


# (Spark frame builder, DuckDB SELECT over the events view)
TWINS = [
    pytest.param(
        lambda spark: ohlcv_bars(_ev(spark), "hour", *OHLCV),
        sql_ohlcv_bars("hour", *OHLCV),
        id="hour_ohlcv",
    ),
    pytest.param(
        lambda spark: ohlcv_bars(_ev(spark), "day", *OHLCV),
        sql_ohlcv_bars("day", *OHLCV),
        id="day_ohlcv",
    ),
    pytest.param(
        lambda spark: ohlcv_bars(_ev(spark), "day", "close", "volume", "open"),
        sql_ohlcv_bars("day", "close", "volume", "open"),
        id="day_fields_in_caller_order",
    ),
    pytest.param(
        lambda spark: bar_returns(ohlcv_bars(_ev(spark), "hour", "close")),
        f"""WITH b AS ({sql_ohlcv_bars("hour", "close")})
        {sql_bar_returns("b")}""",
        id="hour_returns",
    ),
    pytest.param(
        lambda spark: market_return(
            bar_returns(ohlcv_bars(_ev(spark), "hour", "close"))
        ),
        f"""WITH b AS ({sql_ohlcv_bars("hour", "close")}),
        r AS ({sql_bar_returns("b")})
        {sql_market_return("r")}""",
        id="hour_market_return",
    ),
]


@pytest.fixture(scope="module")
def events_duck():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF_DIR}/events.parquet')"
    )
    yield con
    con.close()


@pytest.mark.parametrize("spark_frame, duck_sql", TWINS)
def test_bar_twins_cross_engine_identical(spark, events_duck, spark_frame, duck_sql):
    """Each Spark builder returns exactly its DuckDB twin's rows. DuckDB's
    date_trunc('day', TIMESTAMP) is a DATE where Spark's is a midnight
    TIMESTAMP, so the DuckDB side casts bar_ts back for the comparison."""
    got = sorted(tuple(r) for r in spark_frame(spark).collect())
    duck = sorted(
        events_duck.execute(
            f"SELECT * REPLACE (CAST(bar_ts AS TIMESTAMP) AS bar_ts) FROM ({duck_sql})"
        ).fetchall()
    )
    assert got, "empty fixture"
    assert repr(got) == repr(duck)
