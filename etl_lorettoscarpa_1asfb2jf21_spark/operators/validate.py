"""Ingest contract validation + quarantine (SURVEY.md §2 P4-P8).

Parity target: reference app/app.py:25-62 —
  1. required-column presence check (driver-side, cheap)           (P8)
  2. ''/whitespace-only strings coerced to NULL                    (P4)
  3. any-null row mask                                             (P5)
  4. per-row per-field null report for offending rows              (P6)

The reference aborts the whole upload on any invalid row (st.stop()). Here
the split is lazy and distributed: one lineage produces the valid partition,
another the quarantine rows (with a ``null_fields`` array naming the
offending columns) — no driver materialization, no second scan (Spark reuses
the cached normalized frame).
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.strings import PY_BLANK_RE_JAVA as BLANK_RE


def blank_to_null(col: Column | str) -> Column:
    """'' or whitespace-only → NULL (app/app.py:35-36)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.rlike(BLANK_RE), F.lit(None)).otherwise(c)


def normalize_blanks(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    return df.withColumns({c: blank_to_null(c) for c in cols})


def any_null_mask(cols: Sequence[str]) -> Column:
    """True when any of ``cols`` is NULL (P5)."""
    return reduce(lambda a, b: a | b, [F.col(c).isNull() for c in cols])


def null_fields_expr(cols: Sequence[str]) -> Column:
    """Array of column names that are NULL on this row (P6 error report)."""
    pairs = [F.when(F.col(c).isNull(), F.lit(c)) for c in cols]
    return F.array_compact(F.array(*pairs))


def missing_columns(df: DataFrame, required: Sequence[str]) -> list[str]:
    """P8 core: required columns absent from the schema (app/app.py:28-31)."""
    return [c for c in required if c not in df.columns]


def validate_contract(df: DataFrame, required: Sequence[str]) -> None:
    """P8: fail fast when a required column is missing entirely."""
    missing = missing_columns(df, required)
    if missing:
        raise ValueError(f"missing required columns: {missing}")


def split_valid_invalid(
    df: DataFrame,
    required: Sequence[str],
    parsers: Mapping[str, Callable[[Column], Column]] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(valid_rows, quarantine_rows_with_null_fields) after blank→NULL
    normalization over the required columns. A column with a parser in
    ``parsers`` also counts as NULL where its parser returns NULL (a value
    the loaders could not read)."""
    validate_contract(df, required)
    normalized = normalize_blanks(df, required)
    parsers = parsers or {}
    missing = {
        c: (parsers[c](F.col(c)) if c in parsers else F.col(c)).isNull()
        for c in required
    }
    mask = reduce(lambda a, b: a | b, missing.values())
    valid = normalized.filter(~mask)
    invalid = normalized.filter(mask).withColumn(
        "null_fields",
        F.array_compact(F.array(*[F.when(m, F.lit(c)) for c, m in missing.items()])),
    )
    return valid, invalid
