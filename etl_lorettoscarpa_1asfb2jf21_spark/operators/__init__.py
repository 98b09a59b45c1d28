"""Composable relational operators not built into Spark.

upsert     - ON CONFLICT DO NOTHING → dropDuplicates + left-anti append (J5/S5)
surrogate  - SERIAL → row_number surrogate keys (K1)
validate   - ingest contract validation + quarantine (P4-P8)
dedup      - exact / MinHash-LSH / SimHash / n-gram-Jaccard / embedding dedup (X1)
similarity - brute-force + LSH-bucketed top-k vector search (X2)
"""

from .upsert import insert_if_absent
from .surrogate import with_surrogate_key
from .validate import validate_contract, split_valid_invalid

__all__ = [
    "insert_if_absent",
    "with_surrogate_key",
    "validate_contract",
    "split_valid_invalid",
]
