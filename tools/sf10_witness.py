"""~sf10 dedup-ladder witness: one more decade of the output-mass growth
model (round-11 verdict #4).

x1_dup_clusters' ~sf1 402 s is OUTPUT-bound (60.8M true near-dup pairs at
threshold 0.2), not plan-bound. This tool builds a 10× doc-only replica
of the ~sf1 documents table and times the closure-ladder heavies (NAMES)
once at ~sf10 (500k docs) through tools/runner.py: noop sink, warm
session, one run per query. The round-12 output-mass accounting
(candidate and true-pair counts at sf1 and sf10) is the record in
SF10_WITNESS.json as of commit ef19912. No DuckDB pair —
its recursive-CTE twins already DNF (>900 s) at ~sf1.

    python tools/sf10_witness.py [sf1_dir] [sf10_dir] [budget_sec]

Writes SF10_WITNESS.json at the repo root and prints one JSON line.
``budget_sec`` (default 5400) caps EACH query; a query over budget is
recorded as DNF, honest like the DuckDB DNFs.
Run SOLO.
"""

from __future__ import annotations

import json
import os
import sys
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

OFF = 10**13  # far above make_sfx's 1e9-per-copy sf1 offsets

NAMES = ["tp13_curation_funnel_neardup", "tp18_leakage_safe_split"]


def build_docs_replica(sf1_dir: str, sf10_dir: str) -> None:
    """10 copies of the ~sf1 documents, copy i CAESAR-CIPHERED by i.

    A bijective character substitution maps char-3-grams bijectively, so
    every copy reproduces sf1's near-dup pair structure EXACTLY (same
    jaccard for every in-copy pair) while cross-copy text shares almost
    no grams (only digit/punct grams survive the cipher — far below the
    0.2 threshold). That makes the decade's TRUE pair mass ≈ 10× sf1's —
    the "novel data arrives" growth model — instead of the suffix-copy
    scheme's ≈100× (families would merge across copies), which is the
    regime a recrawl actually produces and is measurable in-session.
    """
    import duckdb

    os.makedirs(sf10_dir, exist_ok=True)
    dst = os.path.join(sf10_dir, "documents.parquet")
    if os.path.exists(dst):
        return
    lower = "abcdefghijklmnopqrstuvwxyz"
    upper = lower.upper()

    def rot(s: str, i: int) -> str:
        return s[i:] + s[:i]

    con = duckdb.connect()
    arms = " ".join(
        f"WHEN c.i = {i} THEN translate(t.text, '{lower + upper}', "
        f"'{rot(lower, i) + rot(upper, i)}')"
        for i in range(1, 10)
    )
    con.execute("CREATE VIEW copies AS SELECT unnest(range(10)) AS i")
    con.execute(
        f"""
        COPY (
          SELECT t.doc_id + c.i * {OFF} AS doc_id,
                 CASE {arms} ELSE t.text END AS text,
                 t.* EXCLUDE (doc_id, text)
          FROM read_parquet('{sf1_dir}/documents.parquet') t CROSS JOIN copies c
        ) TO '{dst}' (FORMAT PARQUET)
        """
    )
    n = con.execute(f"SELECT count(*) FROM read_parquet('{dst}')").fetchone()[0]
    print(f"built {dst}: {n} docs", flush=True)


def _budgeted(spark, fn, budget_s: int):
    """``fn()`` on a daemon thread under a wall budget: its result, or
    None after cancelling every job once the budget is spent."""
    out: dict = {}
    th = threading.Thread(target=lambda: out.update(r=fn()), daemon=True)
    th.start()
    th.join(budget_s)
    if th.is_alive():
        spark.sparkContext.cancelAllJobs()
        th.join(60)
        return None
    return out["r"]


def main() -> None:
    from runner import session, time_queries, warm, warm_page_cache
    import __spark_entry__ as entrymod

    sf1_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_sf1"
    sf10_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/spark_graft_sf10"
    budget = int(sys.argv[3]) if len(sys.argv) > 3 else 5400

    build_docs_replica(sf1_dir, sf10_dir)

    spark = session("sf10_witness")
    qs = entrymod.queries()
    # the sf10 dir holds documents only; the catalog warm-up needs sf1's tables
    warm(spark, sf1_dir, qs)
    warm_page_cache(sf10_dir)
    record: dict = {
        "metric": "sf10_witness",
        "sf10_dir": sf10_dir,
        "budget_sec": budget,
        "rows": {},
    }
    for name in NAMES:
        got = _budgeted(
            spark, lambda: time_queries(spark, sf10_dir, qs, [name], 1), budget
        )
        if got is None:
            row = {"sec": f"DNF(>{budget}s)"}
        elif name in got[1]:
            row = {"err": got[1][name]}
        else:
            row = {"sec": round(got[0][name]["total_s"], 1)}
        record["rows"][name] = row
        print(f"{name}: {row}", flush=True)

    with open(os.path.join(ROOT, "SF10_WITNESS.json"), "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    spark.stop()


if __name__ == "__main__":
    main()
