"""Surrogate-key generation (SURVEY.md §2 K1).

Parity target: ``SERIAL PRIMARY KEY`` on all six warehouse tables
(initdb/01_schema.sql:14,22,30,42,54,67). Spark has no sequences; two
strategies, chosen by the caller:

* ``dense`` (default) — row_number() over an ORDER BY of the natural key.
  Deterministic and dense, but a global sort: the window has no PARTITION BY,
  so Spark plans a single-partition sort. Fine for dimension tables (small by
  definition); never use for a 100 TB fact — the reference itself only needs
  fact ids for the unique-hash constraint, which we satisfy with id_hash.
* ``sparse`` — monotonically_increasing_id(): fully parallel, unique,
  non-dense, and LONG-typed (the partition id lives in the high bits, so
  int32 would wrap and collide). Use when density doesn't matter.

An append passes ``offset`` = max(existing id) to keep ids stable across
batches.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# Dense mode plans an UNPARTITIONED window — a single-task global sort.
# That is the correct (and cheap) plan for dimension builds, which is the
# only sanctioned caller; on a fact-sized input it is a one-executor
# bottleneck that a 100 TB pipeline must never hit, so the dense path
# refuses inputs above this bound instead of degrading silently.
DENSE_MAX_ROWS = 10_000_000


def with_surrogate_key(
    df: DataFrame,
    id_col: str,
    order_by: Sequence[str],
    strategy: str = "dense",
    offset: int = 0,
    dense_max_rows: int = DENSE_MAX_ROWS,
) -> DataFrame:
    """Attach an integer surrogate key column named ``id_col``.

    ``dense`` guards itself: a row numbered past ``dense_max_rows`` raises
    when the plan runs (use ``sparse`` — fully parallel, unique,
    non-dense — instead).
    """
    start = F.lit(offset)
    if strategy == "sparse":
        # stays LONG: monotonically_increasing_id packs the partition id
        # into the high bits (values ≥ 2^33 on any multi-partition input),
        # so an int32 cast would wrap and collide — sparse ids are wide by
        # construction, which is the density/width trade the caller opted
        # into
        key = (F.monotonically_increasing_id() + start).cast("long")
    elif strategy == "dense":
        rn = F.row_number().over(Window.orderBy(*[F.col(c) for c in order_by]))
        key = F.when(
            rn > dense_max_rows,
            F.raise_error(F.lit(
                f"dense surrogate keys need a global single-partition sort; "
                f"input exceeds dense_max_rows={dense_max_rows} — use "
                f"strategy='sparse' for fact-sized tables"
            )),
        ).otherwise(rn + start).cast("int")
    else:
        raise ValueError(f"unknown surrogate strategy: {strategy!r}")
    return df.withColumn(id_col, key)
