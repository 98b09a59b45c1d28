"""Interleaved A/B of selected catalog queries between two repo snapshots.

    python tools/ab_rounds.py <dir_a> <dir_b> <reps> <out.json> q1 [q2 ...]

Each rep launches one fresh process per side (cold JVM, same discipline as
bench.py) running this checkout's tools/runner.py against that
side's engine (``--repo``), at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Both sides run inside the SAME host window so
co-tenant noise hits both, and the side that runs first alternates from
rep to rep. Records, per side and query, every rep's wall, the min, the
quartiles and the median, and per query the fraction of reps side B wins
(ties count for neither side).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np

from runner import cpus

RUNNER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "runner.py")


def run_side(repo: str, names: list[str]) -> dict[str, float]:
    """One fresh process timing ``names`` once each with ``repo``'s engine."""
    res = subprocess.run(
        [sys.executable, RUNNER, "--repo", repo, *names],
        capture_output=True, text=True, timeout=3600, cwd=repo,
        env={**os.environ, "SPARK_GRAFT_REPS": "1"},
    )
    lines = res.stdout.strip().splitlines()
    if res.returncode or not lines:
        raise RuntimeError(f"runner failed on {repo}: {res.stdout[-500:]} {res.stderr[-2000:]}")
    got = json.loads(lines[-1])
    if got["errors"]:
        raise RuntimeError(f"queries failed on {repo}: {got['errors']}")
    return {n: t["total_s"] for n, t in got["queries"].items()}


def main() -> None:
    dir_a, dir_b, reps_s, out_path = sys.argv[1:5]
    names = sys.argv[5:]
    reps = int(reps_s)
    sides = {"a": os.path.abspath(dir_a), "b": os.path.abspath(dir_b)}
    runs: dict[str, list[dict[str, float]]] = {"a": [], "b": []}
    first = []
    for i in range(reps):
        order = ("a", "b") if i % 2 == 0 else ("b", "a")
        first.append(order[0])
        for side in order:
            got = run_side(sides[side], names)
            runs[side].append(got)
            print(f"rep {i} side {side} ({sides[side]}): {got}", flush=True)

    def stats(xs: list[float]) -> dict[str, float]:
        q1, med, q3 = np.percentile(xs, [25, 50, 75])
        return {"min": min(xs), "q1": round(q1, 4), "median": round(med, 4),
                "q3": round(q3, 4)}

    rec = {
        "dir_a": sides["a"], "dir_b": sides["b"], "reps": reps,
        "sf_dir": os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        "cpus": cpus(),
        "first": first,
        "runs": runs,
        "stats": {
            side: {n: stats([r[n] for r in rs]) for n in names}
            for side, rs in runs.items()
        },
        "b_win_frac": {
            n: sum(b[n] < a[n] for a, b in zip(runs["a"], runs["b"])) / reps
            for n in names
        },
    }
    rec["ratio_b_over_a_median"] = {
        n: round(rec["stats"]["b"][n]["median"] / rec["stats"]["a"][n]["median"], 3)
        for n in names
    }
    with open(out_path, "w") as f:
        json.dump(rec, f, indent=1)
    print(json.dumps(rec["stats"], indent=1))
    print("ratios (b/a, median):", rec["ratio_b_over_a_median"])
    print("b wins:", rec["b_win_frac"])


if __name__ == "__main__":
    main()
