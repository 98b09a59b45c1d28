"""Dump `.explain("formatted")` for named catalog queries to files.

Used to produce the committed plan evidence (records/plans/r12/<query>_{before,after}.txt):

    python tools/plan_explain.py <out_dir> <suffix> <query> [<query> ...]
    python tools/plan_explain.py records/plans/r12 after tp7_decontaminate gr2_triangle_count

Runs each queries() entry against $SPARK_GRAFT_SF_DIR (default sf0.01 — the
plan shape, join strategies and pushed filters are what is audited, not the
data volume) and writes <out_dir>/<query>_<suffix>.txt.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    os.makedirs(out_dir, exist_ok=True)

    from etl_lorettoscarpa_1asfb2jf21_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("plan-explain", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            qe = df._jdf.queryExecution()
            plan = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
        except Exception as exc:  # noqa: BLE001 — record the failure, keep going
            plan = f"ERROR building plan: {exc}"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
