"""The integer-exact ANN catalog queries against their DuckDB twins.

Every stage of these queries is int64 arithmetic (fixed-point k-means,
PQ codes, sign words) or a fold-exact double cosine, so the twin is an
independent reference for the Arrow kernels they run: one wrong cell,
code or tie-break changes the value hash.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

TWIN_CHECKED = [
    "x2_topk_ivf",
    "x2_topk_pq",
    "x2_topk_ivfpq",
    "x2_topk_ivfbq",
    "x1_semantic_dedup_q",
    "x1_incremental_semdedup",
]


def _check_oracle():
    path = Path(__file__).resolve().parents[1] / "tools" / "check_oracle.py"
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_integer_ann_queries_match_duckdb_twins(spark, sf_small):
    assert _check_oracle().check(spark, sf_small, TWIN_CHECKED) == []
