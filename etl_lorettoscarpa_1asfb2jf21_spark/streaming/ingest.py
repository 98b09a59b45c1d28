"""Streaming bronze ingest (SURVEY.md §7 M4 extension).

The reference ingests one CSV per month through a Streamlit widget
(app/app.py:17-22). The Spark-native shape is a file-source stream: drop
files into a directory, get the same validated/normalized/hashed staging
rows continuously, exactly-once per file via checkpointing.

The transformation lineage is IDENTICAL to the batch path (both run
plans.star.stage_lancamentos) — one definition of the contract, two
execution modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..plans.star import (
    publish_warehouse,
    read_warehouse,
    run_etl,
    stage_lancamentos,
    vacuum_versions,
)
from ..schemas import LANCAMENTOS_CSV_SCHEMA


def stream_lancamentos(spark: SparkSession, input_dir: str) -> DataFrame:
    """readStream over a drop directory → validated staging rows (lazy).

    Invalid rows (a required field null/blank, or a Data that does not
    parse) are *filtered* here, not quarantined — a streaming sink for the
    quarantine split is trivially the complement filter on a second query
    over the same source.
    """
    raw = (
        spark.readStream.schema(LANCAMENTOS_CSV_SCHEMA)
        .option("header", True)
        .option("quote", '"')
        .option("emptyValue", "")
        .csv(input_dir)
    )
    return stage_lancamentos(raw)[0]


def start_bronze_sink(
    staged: DataFrame, output_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """Append-mode parquet sink with checkpoint (exactly-once per file)."""
    return (
        staged.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def start_gold_sink(
    staged: DataFrame, gold_path: str, checkpoint_dir: str
) -> StreamingQuery:
    """Streaming EP2: every micro-batch runs the star-schema ETL
    incrementally against the published gold layer (foreachBatch).

    foreachBatch gives at-least-once batch delivery; the upsert-ignore
    semantics inside run_etl (anti-join on the natural/hash keys) make
    replays idempotent — the same exactly-once-net-effect contract the
    reference gets from ON CONFLICT DO NOTHING (app/etl.py:48-129).

    Each batch reads the chain head (an empty Warehouse on a fresh base),
    runs run_etl over it, and publish_warehouse writes, audits and
    publishes the result as a new immutable version — a crash mid-batch
    leaves readers on the previous version, and the new version dir never
    reads and overwrites the same files. vacuum_versions then retires all
    but the newest two versions. Nothing stays cached, so a long-running
    stream pins no batch.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        wh = run_etl(batch_df, read_warehouse(spark, gold_path))
        publish_warehouse(wh, gold_path)
        vacuum_versions(spark, gold_path)

    return (
        staged.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
