"""Profile named catalog queries: run each with the noop sink and dump the
per-stage wall/metrics breakdown from the local Spark UI REST API.

    python tools/profile_query.py <query> [<query> ...]

$SPARK_GRAFT_SF_DIR (default sf0.1) and $SPARK_GRAFT_CPUS (default 32) as in
bench.py. Prints, per query: total wall, then each stage's submit-relative
start, duration, task count, shuffle read/write and input bytes, plus the
stage name prefix — enough to tell driver gaps (time between stages) from
executor time, and shuffle-bound from compute-bound stages.
"""

from __future__ import annotations

import json
import os
import sys
import calendar
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from runner import session, time_queries, warm
    import __spark_entry__ as entrymod

    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = session("profile", extra_conf={"spark.ui.enabled": "true"})
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    qs = entrymod.queries()
    warm(spark, sf_dir, qs)

    def stages() -> list:
        with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages?status=complete") as r:
            return json.load(r)

    for name in names:
        before_ids = {s["stageId"] for s in stages()}
        spark.sparkContext.setJobDescription(name)
        times, errors = time_queries(spark, sf_dir, qs, [name], 1)
        spark.sparkContext.setJobDescription(None)
        if errors:
            print(f"\n=== {name}: failed: {errors[name]}")
            continue
        t_build, wall = times[name]["build_s"], times[name]["total_s"]

        new = [s for s in stages() if s["stageId"] not in before_ids]
        new.sort(key=lambda s: s["firstTaskLaunchedTime"])
        print(f"\n=== {name}: wall {wall:.2f}s (plan-build {t_build:.2f}s), {len(new)} stages")
        base = None
        prev_end = None
        for s in new:
            st = calendar.timegm(time.strptime(s["firstTaskLaunchedTime"][:19], "%Y-%m-%dT%H:%M:%S")) + float(s["firstTaskLaunchedTime"][20:23] or 0) / 1000
            en = calendar.timegm(time.strptime(s["completionTime"][:19], "%Y-%m-%dT%H:%M:%S")) + float(s["completionTime"][20:23] or 0) / 1000
            if base is None:
                base = st
            gap = "" if prev_end is None else f" gap {st - prev_end:+.2f}s"
            prev_end = en
            nm = s["name"].split("\n")[0][:70]
            print(
                f"  +{st - base:7.2f}s dur {en - st:6.2f}s tasks {s['numCompleteTasks']:4d} "
                f"in {s['inputBytes'] >> 20:5d}M sr {s['shuffleReadBytes'] >> 20:5d}M "
                f"sw {s['shuffleWriteBytes'] >> 20:5d}M{gap}  {nm}"
            )


if __name__ == "__main__":
    main()
