"""Generate PLANS.md: a physical-plan audit of every catalog query.

For each queries() entry, counts the plan features that matter at 100 TB —
wide exchanges, broadcast vs sort-merge joins, whole-stage codegen spans,
Python boundaries, top-n short-circuits — so plan regressions are visible
in review diffs, not just in test failures. The counts come from the
executed plan: each query runs once with its rows discarded (a noop sink),
and the audit reads AQE's final plan. The pre-execution plan misreports
joins: an input without size statistics (a localCheckpoint) plans as a
sort-merge join that AQE then runs as a broadcast.

    python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MARKERS = [
    ("exch", "Exchange hashpartitioning"),
    ("bcast", "BroadcastHashJoin"),
    ("smj", "SortMergeJoin"),
    ("bnlj", "BroadcastNestedLoopJoin"),
    ("arrow", "ArrowEvalPython"),
    ("pyrow", "BatchEvalPython"),
    ("mapipd", "MapInPandas"),
    ("grpipd", "FlatMapGroupsInPandas"),
    ("topn", "TakeOrderedAndProject"),
]


def final_plan(df) -> str:
    """Run ``df`` with its rows discarded, then render AQE's final plan,
    dropping each adaptive node's "== Initial Plan ==" subtree."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    text = df._sc._jvm.PythonSQLUtils.explainString(qe, "simple")
    out, skip_from = [], None
    for line in text.splitlines():
        col = len(line) - len(line.lstrip(" :|+-"))
        if skip_from is not None and col >= skip_from:
            continue
        skip_from = None
        if "== Initial Plan ==" in line:
            skip_from = col
            continue
        out.append(line)
    return "\n".join(out)


def count_markers(plan: str) -> dict[str, int]:
    """The MARKERS counts of a rendered plan, plus its codegen spans.

    A ``ReusedExchange`` line quotes the exchange it reuses
    (``ReusedExchange [k#1], Exchange hashpartitioning(k#1, 4), ...``):
    that shuffle ran once, where its own line counts it, so reused lines
    count no marker."""
    lines = [line for line in plan.splitlines() if "ReusedExchange" not in line]
    counts = {k: sum(line.count(m) for line in lines) for k, m in MARKERS}
    # codegen spans render as "*(id)" node prefixes in simple mode
    counts["codegen"] = len(set(re.findall(r"\*\((\d+)\)", plan)))
    return counts


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from etl_lorettoscarpa_1asfb2jf21_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("plan-audit", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name, fn in entrymod.queries().items():
        try:
            rows.append((name, count_markers(final_plan(fn(spark, sf_dir))), ""))
        except Exception as exc:  # noqa: BLE001 — audit must list every query
            rows.append((name, None, str(exc)[:60]))

    out = [
        "# PLANS — physical-plan audit of every catalog query",
        "",
        f"Auto-generated by `tools/plan_audit.py` at {sf_dir}. Counts of the",
        "plan features that matter at scale, read from AQE's final plan after",
        "each query ran once with its rows discarded, so join strategies are",
        "the ones that ran: a join over a checkpointed input plans as a",
        "sort-merge join before execution and usually runs as a broadcast.",
        "`pyrow` (row-at-a-time Python) must be 0 everywhere; `arrow` is",
        "nonzero only for the sanctioned kernel queries, and `mapInPandas`",
        "and `groupedPandas` only for the ones tests/test_plans.py allows.",
        "`smj` appears only where AQE found both sides too large to",
        "broadcast. `BNLJ` nonzero is sanctioned only for (a) 1-row scalar",
        "broadcasts (global totals/maxima/quality rows joined back:",
        "q11/q15/q22-style), (b) the broadcast query side of brute-force",
        "top-k, and (c) bounded sample blocks (the <=200-vector",
        "ground-truth pass in x1_embedding_neardup) — never for a",
        "corpus-x-corpus product. Counts cover the final plan only: a",
        "query's eager build jobs (checkpoints, collects) ran earlier and",
        "show as `Scan ExistingRDD`.",
        "",
        "| query | wide exch | bcast join | SMJ | BNLJ | codegen spans | arrow | pyrow | mapInPandas | groupedPandas | top-n |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, counts, note in rows:
        if counts is None:
            out.append(f"| {name} | ERROR: {note} | | | | | | | | | |")
            continue
        out.append(
            "| {n} | {exch} | {bcast} | {smj} | {bnlj} | {codegen} | {arrow} | {pyrow} | {mapipd} | {grpipd} | {topn} |".format(
                n=name, **counts
            )
        )
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote {path} ({len(rows)} queries)")


if __name__ == "__main__":
    main()
