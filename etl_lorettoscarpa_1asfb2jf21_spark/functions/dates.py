"""Date/time derivation (SURVEY.md §2 F8-F13).

Parity target: reference app/etl.py:24-37 (load_dim_tempo) — parse the
``MM/yyyy`` month-string, derive ano/mes/semana (ISO week)/month-start/
month-end. All native expressions.

NOTE: Spark datetime patterns are case-sensitive — ``MM/yyyy``, not the
strptime ``%m/%Y`` the reference uses (app/etl.py:28). ``weekofyear`` is
ISO-8601, same as pandas ``isocalendar().week`` (app/etl.py:33).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONTH_PATTERN = "MM/yyyy"


def month_string_to_date(col: Column | str) -> Column:
    """``"03/2024"`` → date 2024-03-01 (F8)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.to_date(c, MONTH_PATTERN)


def time_attributes(date_col: Column | str) -> dict[str, Column]:
    """The five dim_tempo attributes from a date column (F9-F13)."""
    d = F.col(date_col) if isinstance(date_col, str) else date_col
    return {
        "ano": F.year(d),
        "mes": F.month(d),
        "semana": F.weekofyear(d),
        "data_inicio": F.trunc(d, "month"),
        "data_fim": F.last_day(d),
    }
