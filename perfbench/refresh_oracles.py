"""Recompute the committed oracle digests (``oracle_digests.json``).

Each benchmark query's registry oracle SQL runs on DuckDB over the
benchmark's sf0.1 tables and is reduced to a canonical digest
(``digest.py``).  The digests depend only on the data and the SQL, so
they are computed once and committed; rerun this after a query's oracle
SQL or the data changes.  Some oracles are brute force and take minutes.

    python3 perfbench/refresh_oracles.py            # every benchmark query
    python3 perfbench/refresh_oracles.py q10_join4_revenue   # only the named ones
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import duckdb  # noqa: E402

from digest import digest_frame  # noqa: E402
from workloads import DIGEST_PATH, SF_DIR, WORKLOADS, tables  # noqa: E402


def main(argv: list[str]) -> int:
    from osm_changesets_to_parquet_spark.queries import oracle_sql

    sql = oracle_sql()
    names = argv or [n for w in WORKLOADS.values() for n in w.queries]
    digests = {}
    if os.path.exists(DIGEST_PATH):
        with open(DIGEST_PATH) as f:
            digests = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables(names):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    for name in names:
        t0 = time.perf_counter()
        digests[name] = digest_frame(con.execute(sql[name]).fetchdf())
        print(f"{name}: {digests[name]['rows']} rows, {time.perf_counter() - t0:.1f} s", flush=True)
        with open(DIGEST_PATH, "w") as f:
            json.dump(dict(sorted(digests.items())), f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
