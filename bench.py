"""Benchmark harness: runs every queries() entry at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value", "unit", "queries", "sf"}.

Execution is forced with the noop data source (full computation, no driver
collect) so timings measure the engine, not result transfer.

$SPARK_GRAFT_REPS (default 1) runs every query N times and records the
MINIMUM wall — the solo re-measure discipline the sf1 pair tool applies,
in-harness: a co-tenant CPU burst during one rep can no longer fabricate a
14x regression for a 0.8 s query (BENCH_r11's x4_bmp_decode read 13.04 s
in a contaminated window; 0.82 s solo). The session, warm-up and timed
loop are tools/runner.py's, shared with the timing tools.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "tools"))


def main() -> None:
    from runner import reps, session, time_queries, warm
    import __spark_entry__ as entrymod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = session("bench")
    qs = entrymod.queries()
    warm(spark, sf_dir, qs)
    times, errors = time_queries(spark, sf_dir, qs, list(qs), reps())
    timings = {name: t["total_s"] for name, t in times.items()}

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    # Full per-query record goes to a side artifact; the PRINTED line is
    # kept compact (totals first, top-cost queries only) so a consumer
    # that tails the output still gets parseable JSON — the full dict for
    # ~190 queries is >6 KB and used to be truncated into garbage.
    full = {
        "metric": "total_query_wall_time",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
    }
    if errors:
        full["errors"] = errors
    full_path = os.path.join(HERE, "BENCH_full_local.json")
    with open(full_path, "w", encoding="utf-8") as f:
        json.dump(full, f)
    top = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:15]
    )
    headline = {
        q: timings[q]
        for q in (
            "flagship_star_rollup",
            "q1_pricing_summary",
            "q3_shipping_priority",
            "q6_filtered_agg",
        )
        if q in timings
    }
    compact = {
        "metric": "total_query_wall_time",
        "value": full["value"],
        "unit": "sec",
        "sf": sf_val,
        "reps": reps(),
        "n_queries": len(timings),
        "n_errors": len(errors),
        "queries": {**headline, **top},
        "queries_full": "BENCH_full_local.json",
    }
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
