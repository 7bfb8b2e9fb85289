"""Print one oracle-text hash and one oracle-result hash per registered query.

Usage: python scripts/oracle_dump.py <sf_dir> [name ...]

Runs every registered DuckDB oracle (or only the named ones) against the
tables of ``<sf_dir>`` on one DuckDB thread, in sorted name order, each
on a fresh connection, and prints ``<name> <sha256(oracle text)>
<sha256(result)>`` per query. The text is hashed with every whitespace
run collapsed to one space; the result is ``repr`` of the fetched rows
sorted by their ``repr``: an oracle without ORDER BY returns its rows in
an order that changes from run to run even on one thread (seen on
q_dedup_minhash), and the oracle differential compares rows without
regard to order. An oracle that fails prints ``<name> <text hash> ERROR <exception
class>``. No Spark session is started.

Run it on two checkouts and compare: a change that rewrites an oracle's
text without changing what it computes moves only the text hash.
"""

from __future__ import annotations

import hashlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    sf_dir = sys.argv[1]
    only = set(sys.argv[2:])

    import duckdb

    from stockmarketdata_dwb_etl_spark.catalog import TABLES
    from stockmarketdata_dwb_etl_spark.registry import ORACLE, load_all

    load_all()
    unknown = sorted(only - set(ORACLE))
    if unknown:
        print(f"unknown oracles: {unknown}", file=sys.stderr)
        return 2
    for name in sorted(ORACLE):
        if only and name not in only:
            continue
        sql = ORACLE[name]
        text = _sha(re.sub(r"\s+", " ", sql).strip())
        with duckdb.connect(config={"threads": 1}) as con:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
                )
            try:
                rows = sorted(con.execute(sql).fetchall(), key=repr)
                result = _sha(repr(rows))
            except duckdb.Error as exc:
                result = f"ERROR {type(exc).__name__}"
        print(f"{name} {text} {result}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
