"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same sf dir; compares row count, sorted column names, and an
order-insensitive value hash. Usage:

    python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent))
from runner import cpus, duckdb_views  # noqa: E402


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(lambda v: _norm_value(v))
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _norm_value(v) -> str:
    import datetime
    import decimal
    import math

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_value(x) for x in v) + "]"
    return str(v)


def value_hash(df: pd.DataFrame) -> str:
    norm = _normalize(df)
    payload = norm.to_csv(index=False).encode()
    return hashlib.md5(payload).hexdigest()


REPO = Path(__file__).resolve().parents[1]


def check(spark, sf_dir: str, names=()) -> list[str]:
    """Run the catalog queries in ``names`` (all when empty) on ``spark``
    and their DuckDB twins over ``sf_dir``; print one line per query and
    return the names that failed. A query without a twin only has to run."""
    sys.path.insert(0, str(REPO))
    import __spark_entry__ as entrymod

    con = duckdb.connect()
    duckdb_views(con, sf_dir)

    only = set(names)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if only - set(qs):
        raise KeyError(f"unknown catalog queries: {sorted(only - set(qs))}")
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle — rows-only check)")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"columns {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        if not problems and value_hash(sdf) != value_hash(odf):
            problems.append("value-hash mismatch")
            ns, no = _normalize(sdf), _normalize(odf)
            diff = ns.compare(no) if ns.shape == no.shape else None
            if diff is not None and not diff.empty:
                print(diff.head(5))
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"OK    {name}: {len(sdf)} rows")
    return failures


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]

    if os.environ.get("SPARK_GRAFT_PLAIN_SESSION"):
        # Driver-parity mode: the judge's harness builds a PLAIN session
        # (none of session.py's config — NTZ inference stays at the Spark 4
        # default of true). Every query must survive that too.
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master(f"local[{cpus()}]")
            .appName("oracle-check-plain")
            .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        sys.path.insert(0, str(REPO))
        from etl_lorettoscarpa_1asfb2jf21_spark.session import get_spark

        spark = get_spark("oracle-check")
    failures = check(spark, sf_dir, only)
    import __spark_entry__ as entrymod

    n_run = len(set(only)) or len(entrymod.queries())
    print(f"\n{n_run - len(failures)}/{n_run} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
