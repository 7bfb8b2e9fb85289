"""The superstep primitive (operators/iterate.py): every lineage-cut loop
in the package runs through ``iterate``, which cuts each new state,
stops on ``until`` and releases superseded cuts once their successor is
materialized — and no other module carries its own cut loop."""

from __future__ import annotations

import ast
import pathlib
import time

import pytest
from pyspark.sql import functions as F

from stockmarketdata_dwb_etl_spark.operators.iterate import iterate, release

PKG = pathlib.Path(__file__).resolve().parent.parent / "stockmarketdata_dwb_etl_spark"
_LOOPS = (
    ast.For,
    ast.AsyncFor,
    ast.While,
    ast.ListComp,
    ast.SetComp,
    ast.DictComp,
    ast.GeneratorExp,
)


def loop_cuts(tree: ast.AST) -> list[int]:
    """Line of every ``.localCheckpoint(`` call inside a for/while body
    or a comprehension."""
    found = []

    def walk(node: ast.AST, in_loop: bool) -> None:
        if (
            in_loop
            and isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "localCheckpoint"
        ):
            found.append(node.lineno)
        for child in ast.iter_child_nodes(node):
            walk(child, in_loop or isinstance(node, _LOOPS))

    walk(tree, False)
    return found


def test_cut_loops_live_only_in_iterate():
    findings = [
        f"{path.relative_to(PKG)}:{line}"
        for path in sorted(PKG.rglob("*.py"))
        if path.relative_to(PKG) != pathlib.Path("operators/iterate.py")
        for line in loop_cuts(ast.parse(path.read_text()))
    ]
    assert findings == [], "cut inside a loop; run it through operators.iterate"


def test_guard_sees_loop_and_comprehension_cuts_not_one_shot():
    src = """
df.localCheckpoint(eager=True)
for _ in range(3):
    df = df.select("x").localCheckpoint(eager=True)
while True:
    def inner():
        return df.localCheckpoint()
xs = [d.localCheckpoint() for d in dfs]
"""
    assert loop_cuts(ast.parse(src)) == [4, 7, 8]


def _storage(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _cut_rdd(df) -> int:
    return df._jdf.logicalPlan().rdd().id()


def _settled(spark, base: set[int], want: int, timeout: float = 10.0) -> set[int]:
    """RDDs in storage added since ``base``, once at most ``want`` remain
    (block removal is asynchronous) or ``timeout`` passes."""
    deadline = time.time() + timeout
    while True:
        new = _storage(spark) - base
        if len(new) <= want or time.time() > deadline:
            return new


def test_eager_loop_cuts_every_state_and_releases_superseded(spark):
    before = _storage(spark)
    step = lambda s, i: s.select((F.col("x") + i).alias("x"))  # noqa: E731
    out = iterate(spark.range(4).select(F.col("id").alias("x")), step, 3, eager=True)
    assert sorted(r.x for r in out.collect()) == [3, 4, 5, 6]
    # the two superseded cuts are gone; the returned one stays
    assert _settled(spark, before, 1) == {_cut_rdd(out)}


def test_tuple_state_cuts_only_replaced_elements(spark):
    from stockmarketdata_dwb_etl_spark.plans.audit import capture_checkpoints

    a0 = spark.range(2).select(F.col("id").alias("a"))

    def half(state, i):
        a, b = state
        if i % 2 == 0:
            return a, a.select((F.col("a") * 10).alias("b"))
        return b.select((F.col("b") + 1).alias("a")), b

    with capture_checkpoints() as acc:
        a, b = iterate((a0, None), half, 3, eager=True)
    assert acc.n_checkpoints == 3
    assert sorted(r.b for r in b.collect()) == [10, 110]
    assert sorted(r.a for r in a.collect()) == [1, 11]


def test_until_stops_and_lazy_chain_keeps_its_cuts(spark):
    calls = []

    def until(s):
        calls.append(s.count())
        return len(calls) == 2

    out = iterate(
        spark.range(3), lambda s, _: s.select("id"), 10, eager=False, until=until
    )
    assert calls == [3, 3] and out.count() == 3
    # a lazy chain with no until releases nothing: the caller's action
    # reads every cut
    seen = []

    def step(s, _):
        seen.append(s)
        return s.select("id")

    out = iterate(spark.range(3), step, 2, eager=False)
    assert out.count() == 3
    assert _cut_rdd(seen[1]) in _storage(spark)


def test_release_leaves_non_checkpoint_frames_alone(spark):
    df = spark.range(5).persist()
    df.count()
    release(df)
    assert df.is_cached and df.storageLevel.useMemory
    df.unpersist()


def test_connected_components_leaves_only_its_result_in_storage(spark):
    from stockmarketdata_dwb_etl_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12)], "src long, dst long"
    )
    first = connected_components(edges)
    rows = sorted(map(tuple, first.collect()))
    base = _storage(spark)
    second = connected_components(edges)
    assert sorted(map(tuple, second.collect())) == rows
    # the second call's edge copy, initial labels and superseded rounds
    # are released: only the returned labels' cut stays
    new = _settled(spark, base, 1)
    assert len(new) == 1, sorted(new)


@pytest.mark.parametrize("iters", [0, 1])
def test_zero_or_one_step(spark, iters):
    out = iterate(spark.range(2), lambda s, _: s.select("id"), iters, eager=True)
    assert out.count() == 2
