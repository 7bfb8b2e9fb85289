"""Print one optimized-plan hash per registered query, for plan-identity checks.

Usage: python scripts/plan_dump.py <sf_dir> [name ...]

Builds every registered query (or only the named ones) in one fresh JVM,
in sorted name order, and prints ``<name> <sha256>`` per query, where the
hash is over ``queryExecution().optimizedPlan()`` with expression ids
(``#\\d+L?``) and ``plan_id=\\d+`` masked. A query that fails to build
prints ``<name> ERROR <exception class>``. Run it on two checkouts and
``diff`` the outputs: a refactor that keeps every Column tree keeps every
line. Building a query can run eager jobs (checkpoints, persists), so the
sort order keeps warm-slot effects the same on both sides.
"""

from __future__ import annotations

import hashlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_MASKS = ((re.compile(r"#\d+L?"), "#"), (re.compile(r"plan_id=\d+"), "plan_id="))


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
    spark = get_spark(app_name="plan-dump")
    for name in sorted(QUERIES):
        if only and name not in only:
            continue
        try:
            line = plan_hash(QUERIES[name](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — reported, not fatal
            line = f"ERROR {type(exc).__name__}"
        print(f"{name} {line}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
