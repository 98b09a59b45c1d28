"""Idempotent insert-if-absent (SURVEY.md §2 J5/S5).

Parity target: the reference's ``INSERT … SELECT … ON CONFLICT (key) DO
NOTHING`` (app/etl.py:48-51, 62-66, 77-81, 93-98, 112-129). Postgres resolves
conflicts row-by-row inside a B-tree unique index; the set-based Spark
equivalent is:

    1. dropDuplicates(key) within the incoming batch (Postgres resolves
       intra-batch conflicts by arrival order; any-one-row semantics are
       identical when the whole row is the key or the payload is functionally
       dependent on the key)
    2. left-anti join against the existing table on the key
    3. append

Scale notes: the anti-join shuffles both sides on the key. When the existing
table is large and the batch is small, Spark's AQE flips to a broadcast of
the *batch* side automatically. Single-writer-per-table assumed (the
reference is single-user too, app/app.py:74).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def insert_if_absent(
    batch: DataFrame, existing: DataFrame | None, key: Sequence[str]
) -> DataFrame:
    """Rows of ``batch`` (deduped on ``key``) whose key is absent from
    ``existing``. Returns the rows to append; caller performs the write."""
    key = list(key)
    deduped = batch.dropDuplicates(key)
    if existing is None:
        return deduped
    return deduped.join(existing.select(*key).distinct(), on=key, how="left_anti")

