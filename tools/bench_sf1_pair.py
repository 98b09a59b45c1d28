"""Paired engine-vs-DuckDB bench for the heavy shared queries at ~sf1.

The sf0.1 pair (BASELINE.md) flatters DuckDB on sub-second queries where
Spark pays its per-action scheduling floor; this tool measures the pair at
the 10x key-offset replica (tools/make_sfx.py, default
/tmp/spark_graft_sf1) for the top shared heavies, where plan quality — not
fixed overhead — decides. Engine phase first (one warm session, noop sink,
solo), then each DuckDB oracle twin in its OWN subprocess with a hard
per-query timeout: recursive-CTE twins grow super-linearly and a DNF is
recorded honestly instead of hanging the host for hours.

    python tools/bench_sf1_pair.py [sf_dir] [timeout_sec] [names...]
    python tools/bench_sf1_pair.py --duckdb-one <sf_dir> <name>   (internal)

Writes BENCH_sf1_pair.json at the repo root and prints one JSON line.
Run SOLO — co-tenant work distorts both sides.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Round 11 (verdict #1): every shared-oracle query above ~2 s at sf0.1
# (BENCH_full_local.json) plus ALL served-ANN rows — 38 paired rows, so
# the 100×-scale grade rests on the catalog's heavy tail, not a top-10.
DEFAULT_NAMES = [
    "x1_dup_clusters",
    "x1_embedding_neardup",
    "tp18_leakage_safe_split",
    "x4_video_frames",
    "s9_wap_time_travel",
    "x2_topk_ivfpq",
    "gr1_pagerank",
    "x1_ngram_jaccard",
    "tp13_curation_funnel_neardup",
    "x2_served_topk",
    "x1_dedup_resolve",
    "x2_topk_ivfbq",
    "x1_levenshtein_verify",
    "x2_topk_lsh",
    "x3_classifier_train",
    "tp7_decontaminate",
    "x1_winnowing",
    "x2_topk_ivf",
    "x1_semantic_dedup_q",
    "x1_minhash_dedup",
    "tp10_split_leakage",
    "x2_topk_pq",
    "x2_mmr_topk",
    "x1_simhash",
    "x1_incremental_semdedup",
    "x3_hashed_classifier",
    "gr2_triangle_count",
    "x1_incremental_neardup",
    "tp16_quality_curriculum",
    "x1_dedup_cut_spans",
    "x2_topk_bq",
    "x3_trained_score",
    "sk6_windowed_cms_merge",
    "x1_dup_spans_maximal",
    "tp17_quality_weighted_sample",
    "sk9_bloom_semijoin",
    "a5_percentiles",
    "x2_topk_cosine",
]


def duckdb_one(sf_dir: str, name: str) -> None:
    """Run ONE oracle twin and print its wall time (subprocess target)."""
    import duckdb

    import __spark_entry__ as entrymod
    from runner import duckdb_views

    con = duckdb.connect()
    duckdb_views(con, sf_dir)
    sql = entrymod.oracle_sql()[name]
    t0 = time.perf_counter()
    con.execute(sql).fetchall()
    print(json.dumps({"sec": round(time.perf_counter() - t0, 2)}))


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--duckdb-one":
        duckdb_one(sys.argv[2], sys.argv[3])
        return

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_sf1"
    timeout = int(sys.argv[2]) if len(sys.argv) > 2 else 900
    names = sys.argv[3:] or DEFAULT_NAMES

    # ---------------- engine phase (one warm session, noop sink)
    from runner import session, time_queries, warm
    import __spark_entry__ as entrymod

    spark = session("bench_sf1_pair")
    qs = entrymod.queries()
    warm(spark, sf_dir, qs)
    times, errors = time_queries(spark, sf_dir, qs, names, 1)
    engine = {name: round(t["total_s"], 2) for name, t in times.items()}
    print(f"engine: {engine} errors: {errors}", flush=True)
    spark.stop()

    # ---------------- DuckDB phase (one subprocess per query, hard cap)
    duck: dict[str, float | str] = {}
    for name in names:
        try:
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--duckdb-one", sf_dir, name],
                capture_output=True,
                text=True,
                timeout=timeout,
                cwd=ROOT,
            )
            line = out.stdout.strip().splitlines()[-1]
            duck[name] = json.loads(line)["sec"]
        except subprocess.TimeoutExpired:
            duck[name] = f"DNF(>{timeout}s)"
        except Exception as exc:  # noqa: BLE001 — record, don't lose the run
            duck[name] = f"ERR({str(exc)[:80]})"
        print(f"duckdb {name}: {duck[name]}", flush=True)

    record = {
        "metric": "sf1_heavy_pair",
        "sf_dir": sf_dir,
        "duckdb_timeout_sec": timeout,
        "engine": engine,
        "engine_errors": errors,
        "duckdb": duck,
    }
    with open(os.path.join(ROOT, "BENCH_sf1_pair.json"), "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))


if __name__ == "__main__":
    main()
