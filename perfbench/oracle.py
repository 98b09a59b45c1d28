"""Output checks: catalog results against their DuckDB twins.

A result matches its twin when the row count, the sorted column names and
an order-insensitive value hash agree. The normalisation is the one the
repository's oracle gate uses (every value rendered to text, columns
sorted by name, rows sorted), restated here so the benchmark does not
change when that tool does.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import sys

import pandas as pd

HASH_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "twin_hashes.json")


def _norm_value(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_value(x) for x in v) + "]"
    return str(v)


def signature(df: pd.DataFrame) -> dict:
    """Row count, sorted columns and value hash of a result frame."""
    cols = sorted(df.columns)
    norm = df[cols].copy()
    for c in cols:
        norm[c] = norm[c].map(_norm_value)
    norm = norm.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    digest = hashlib.md5(norm.to_csv(index=False).encode()).hexdigest()
    return {"rows": len(df), "columns": cols, "hash": digest}


def twin_signatures(data_dir: str, sql: dict[str, str], threads: int) -> dict[str, dict]:
    """Run each twin on DuckDB over the parquet tables in ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads={threads}")
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
        return {name: signature(con.execute(q).fetchdf()) for name, q in sql.items()}
    finally:
        con.close()


def load_stored() -> dict[str, dict]:
    with open(HASH_FILE, encoding="utf-8") as f:
        return json.load(f)


def save_stored(sigs: dict[str, dict]) -> None:
    with open(HASH_FILE, "w", encoding="utf-8") as f:
        json.dump(sigs, f, indent=1, sort_keys=True)
        f.write("\n")


def regenerate() -> None:
    """Recompute the stored twin signatures over the fixed corpus."""
    import tempfile

    sys.path.insert(0, os.path.dirname(os.path.dirname(HASH_FILE)))
    import __spark_entry__ as entry

    from perfbench import gen
    from perfbench.workloads import DOCS_SEED, STORED_TWINS

    sql = {q: entry.oracle_sql()[q] for q in sorted(STORED_TWINS)}
    with tempfile.TemporaryDirectory() as d:
        gen.write_tables({"documents": gen.documents_table(DOCS_SEED)}, d)
        save_stored(twin_signatures(d, sql, threads=4))


if __name__ == "__main__":
    regenerate()
