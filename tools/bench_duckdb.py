"""DuckDB side of the BASELINE.md bench gate.

Runs every oracle_sql() twin at a given sf dir (default sf0.1) on DuckDB and
prints one JSON line mirroring bench.py's shape, so engine-vs-DuckDB wall
time can be compared per query on identical data and host.

    python tools/bench_duckdb.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb

from runner import duckdb_views

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    import __spark_entry__ as entrymod

    con = duckdb.connect()
    duckdb_views(con, sf_dir)

    timings: dict[str, float] = {}
    for name, sql in entrymod.oracle_sql().items():
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        timings[name] = round(time.perf_counter() - t0, 4)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "duckdb_oracle_wall_time",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf),
            }
        )
    )


if __name__ == "__main__":
    main()
