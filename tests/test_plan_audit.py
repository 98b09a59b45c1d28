"""tools/plan_audit.py's marker counts over a canned AQE final plan."""

from __future__ import annotations

import importlib.util
from pathlib import Path

TOOLS = Path(__file__).resolve().parents[1] / "tools"

# A self-join's final plan: the right side reuses the left side's shuffle,
# so one shuffle ran and the ReusedExchange line only quotes it.
FINAL_PLAN = """\
AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   *(5) SortMergeJoin [k#1], [k#9], Inner
   :- *(2) Sort [k#1 ASC NULLS FIRST], false, 0
   :  +- AQEShuffleRead coalesced
   :     +- ShuffleQueryStage 0
   :        +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=41]
   :           +- *(1) HashAggregate(keys=[k#1], functions=[])
   :              +- *(1) Scan ExistingRDD[k#1]
   +- *(4) Sort [k#9 ASC NULLS FIRST], false, 0
      +- AQEShuffleRead coalesced
         +- ShuffleQueryStage 1
            +- ReusedExchange [k#9], Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=41]"""


def _plan_audit():
    spec = importlib.util.spec_from_file_location("plan_audit", TOOLS / "plan_audit.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_count_markers_skips_reused_exchanges():
    counts = _plan_audit().count_markers(FINAL_PLAN)
    assert counts["exch"] == 1
    assert counts["smj"] == 1 and counts["bcast"] == 0
    assert counts["codegen"] == 4  # spans *(1), *(2), *(4), *(5)
