"""Print one optimized-plan hash per registered query, for plan-identity checks.

Usage: python scripts/plan_dump.py <sf_dir> [name ...]

Builds every registered query (or only the named ones) in one fresh JVM,
in sorted name order, and prints ``<name> <sha256>`` per query, where the
hash is over ``queryExecution().optimizedPlan()`` with expression ids
(``#\\d+L?``) and ``plan_id=\\d+`` masked. A query that fails to build
prints ``<name> ERROR <exception class>``. Run it on two checkouts and
``diff`` the outputs: a refactor that keeps every Column tree keeps every
line. Building a query can run eager jobs (checkpoints, persists), so the
sort order keeps warm-slot effects the same on both sides. The JVM
gets a 3g driver heap unless ``SPARK_GRAFT_DRIVER_MEM`` is set: a full
sweep finishes in 3g, and two sweeps at the 16g session default can
outgrow a 16 GB host.

PySpark names a lambda's variables by position (x, y, z), not by the
Python parameter names, so renaming a parameter is no plan change.
Catalyst numbers expression ids and lambda variables (``x_15``) from
JVM-wide counters, so a query's ids depend on every query built before
it. Masking hides the numbers but not their effect: the distinct-
aggregate rewrite numbers its Expand groups (``gid``) in the hash order
of the expressions' ids. Before each query the counters therefore jump
to fixed values keyed on the query's place in the sorted registry, and
a query prints the same line in a full sweep, in a partial one and on
either checkout, whatever the queries before it built.
"""

from __future__ import annotations

import hashlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_MASKS = ((re.compile(r"#\d+L?"), "#"), (re.compile(r"plan_id=\d+"), "plan_id="))

#: (Scala object, counter field, stride per query): expression ids,
#: lambda variable names (``x_15``) and CTE ids
_COUNTERS = (
    ("org.apache.spark.sql.catalyst.expressions.NamedExpression$", "curId", 10**8),
    ("org.apache.spark.sql.internal.UnresolvedNamedLambdaVariable$", "nextId", 10**6),
    ("org.apache.spark.sql.catalyst.plans.logical.CTERelationDef$", "curId", 10**6),
)


def _counter(spark, cls_name: str, field: str):
    """(get, set) of a private static Atomic* counter. py4j returns every
    java.lang.Number as a Python int, so the counter object never leaves
    the JVM: both are method handles composed over its static getter."""
    sc = spark.sparkContext
    jvm, new_array = sc._jvm, sc._gateway.new_array
    mh, mt = jvm.java.lang.invoke.MethodHandles, jvm.java.lang.invoke.MethodType
    cls = jvm.java.lang.Class.forName(cls_name)
    atomic = cls.getDeclaredField(field).getType()
    lookup = mh.privateLookupIn(cls, mh.lookup())
    getter = lookup.findStaticGetter(cls, field, atomic)
    long_t, void_t = jvm.java.lang.Long.TYPE, jvm.java.lang.Void.TYPE
    get_h = mh.collectArguments(
        lookup.findVirtual(atomic, "get", mt.methodType(long_t)), 0, getter
    )
    set_h = mh.collectArguments(
        lookup.findVirtual(atomic, "set", mt.methodType(void_t, long_t)), 0, getter
    )
    no_args = new_array(jvm.java.lang.Object, 0)

    def set_(value: int) -> None:
        mh.collectArguments(set_h, 0, mh.constant(long_t, value)).invokeWithArguments(
            no_args
        )

    return (lambda: get_h.invokeWithArguments(no_args)), set_


def pin_counters(spark, slot: int) -> None:
    """Move every id counter to ``(slot + 1) * stride``. Counters only
    move forward: when a query used more than a stride of ids, the next
    one stays unpinned and a warning says so."""
    for cls_name, field, stride in _COUNTERS:
        get, set_ = _counter(spark, cls_name, field)
        target = (slot + 1) * stride
        if get() > target:
            print(f"warning: {cls_name}{field} past {target}", file=sys.stderr)
        else:
            set_(target)


def plan_hash(df) -> str:
    text = df._jdf.queryExecution().optimizedPlan().toString()
    for pattern, repl in _MASKS:
        text = pattern.sub(repl, text)
    return hashlib.sha256(text.encode()).hexdigest()


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    sf_dir = sys.argv[1]
    only = set(sys.argv[2:])

    from stockmarketdata_dwb_etl_spark.registry import QUERIES, load_all
    from stockmarketdata_dwb_etl_spark.session import get_spark

    load_all()
    unknown = sorted(only - set(QUERIES))
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    spark = get_spark(app_name="plan-dump")
    for slot, name in enumerate(sorted(QUERIES)):
        if only and name not in only:
            continue
        pin_counters(spark, slot)
        try:
            line = plan_hash(QUERIES[name](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — reported, not fatal
            line = f"ERROR {type(exc).__name__}"
        print(f"{name} {line}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
