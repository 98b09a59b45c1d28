"""Brazilian-locale CSV reader (SURVEY.md §2 S1).

Parity target: reference app/app.py:22 —
``pd.read_csv(sep=",", quotechar='"', decimal=",")``. Spark's CSV reader has
no ``decimal=","`` option, so the money column is read as a string and parsed
by functions.locale (F4-F6) downstream — which is what we want anyway: the
parse is then part of the Catalyst plan, not the scanner.

Blank-vs-null: pandas keeps ``""`` as a value until explicitly coerced
(app/app.py:35-36); Spark maps ``""`` → null by default. We read with
``emptyValue=""`` so empty strings survive the scan and the validation gate
(operators.validate) performs the coercion — reproducing the reference's
error-reporting semantics exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..schemas import COLUMN_ALIASES, LANCAMENTOS_CSV_SCHEMA


def read_lancamentos_csv(
    spark: SparkSession, path: str, header: bool = True
) -> DataFrame:
    """Read an upload CSV with the reference's dialect; accent-normalized
    column names (Descrição→Descricao etc.); all columns as strings."""
    df = (
        spark.read.option("header", header)
        .option("quote", '"')
        .option("sep", ",")
        .option("emptyValue", "")
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    for old, new in COLUMN_ALIASES.items():
        if old in df.columns:
            df = df.withColumnRenamed(old, new)
    return df


def read_lancamentos_csv_with_quarantine(
    spark: SparkSession, path: str, header: bool = True
) -> tuple[DataFrame, DataFrame]:
    """S1 hardened for unattended 100 TB ingest: PERMISSIVE scan with an
    explicit schema + corrupt-record capture, split into (good, quarantine).

    The reference reads interactively and a human re-uploads on failure
    (app/app.py:17-22); an unattended pipeline must instead land malformed
    physical rows (wrong field count, unterminated quotes) in a quarantine
    sink with the raw line preserved for replay — semantic validation of
    *well-formed* rows stays in operators.validate, same as the reference's
    null gate. Malformed-row capture requires the corrupt column to be
    part of the declared schema, hence the explicit read schema.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        [StructField(f.name, StringType(), True) for f in LANCAMENTOS_CSV_SCHEMA]
        + [StructField("_corrupt_record", StringType(), True)]
    )
    df = (
        spark.read.option("header", header)
        .option("quote", '"')
        .option("sep", ",")
        .option("emptyValue", "")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(schema)
        .csv(path)
    )
    # corrupt-record parsing is lazy per-row; materialize the split from one
    # cached scan so good/bad are consistent views of the same read
    df = df.cache()
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    quarantine = df.filter(F.col("_corrupt_record").isNotNull()).select(
        "_corrupt_record"
    )
    return good, quarantine
