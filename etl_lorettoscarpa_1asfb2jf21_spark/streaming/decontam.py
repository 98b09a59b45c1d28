"""Streaming benchmark decontamination: document batches arrive as a
stream and every batch is probed against a FROZEN eval-set gram index —
the incremental twin of the batch ``tp7_decontaminate`` query (whose
DuckDB oracle proves the gram/hash/overlap algebra). This was the one
curation rung without an incremental shape (round-11 verdict #8):
curation (tp17), splits (tp18), ivm, and dedup all had one.

The serving reality this models: the eval suites are fixed artifacts
(benchmarks don't change mid-crawl), so the eval-gram index is built
ONCE offline (``build_eval_gram_index``) and every arriving training
shard is checked against it map-side — one broadcast hash join per
micro-batch, no state beyond the tiny index and the commit ledger.

Per-doc decision = n_shared (count of distinct word-5-gram hashes shared
with the eval set; a doc appears in the decision table only when
contaminated, n_shared >= 1 — exactly tp7's output contract). The gram
signature is ``functions.text.hashed_word_ngrams_expr`` — the SAME
expression tp7 compiles, so the union of per-batch decisions over any
partition of the corpus into micro-batches equals the one-shot batch
result row-for-row (pinned by tests/test_streaming_curation.py).

Delivery: the batch-scoped commit protocol of streaming/_commit.py
(stage under batch_id partitions, ledger row last, ledger-gated reads)
— at-least-once replays have exactly-once net effect.

Scale: per batch = one whole-stage-codegen gram projection over the
batch rows, one broadcast semi-join against the index (benchmark suites
are MBs, far under any broadcast ceiling), one partial-aggregated
count. Nothing corpus-sized is ever shuffled or re-read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def _doc_grams(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    from ..functions.text import hashed_word_ngrams_expr

    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(hashed_word_ngrams_expr(text_col)).alias("gram"),
    )


def _check_index_format(index: DataFrame, grams: DataFrame, index_path: str) -> None:
    """Fail loudly when the stored index's gram key is not the type the
    probe computes (an index built before the key became a 120-bit
    STRUCT<h1,h2> stores BIGINT grams), as ``_validate_index_meta`` does
    for ANN indexes; schemas only, no job."""
    want = grams.schema["gram"].dataType.simpleString()
    fields = {f.name: f.dataType.simpleString() for f in index.schema.fields}
    got = fields.get("gram")
    if got != want:
        raise ValueError(
            f"eval-gram index at {index_path} has gram key {got or 'missing'}, "
            f"the probe computes {want}: rebuild eval-gram index with "
            "build_eval_gram_index (the key format changed)"
        )


def build_eval_gram_index(
    eval_docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Materialize the frozen eval-set gram index: DISTINCT word-5-gram
    hashes over the eval documents, one parquet artifact. Built once,
    probed by every batch."""
    _doc_grams(eval_docs, text_col, id_col).select("gram").distinct().write.mode(
        "overwrite"
    ).parquet(index_path)


def apply_decontam_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_path: str,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Probe one arriving batch against the frozen index and stage the
    contaminated-doc decisions (doc_id, n_shared). Replay-safe via the
    batch ledger."""
    from ._commit import commit_batch, is_committed, stage_write

    spark = batch_df.sparkSession
    ledger_path = out_path + "_applied"
    if is_committed(spark, ledger_path, batch_id):
        return  # at-least-once replay → exactly-once net effect
    index = spark.read.parquet(index_path)
    grams = _doc_grams(batch_df, text_col, id_col)
    _check_index_format(index, grams, index_path)
    decisions = (
        grams.join(F.broadcast(index), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    stage_write(decisions, out_path, batch_id)
    commit_batch(spark, ledger_path, batch_id)


def read_decontam_decisions(spark: SparkSession, out_path: str) -> DataFrame:
    """(doc_id, n_shared) for every contaminated document seen so far —
    COMMITTED batches only."""
    from ._commit import committed_ids, read_committed

    out = read_committed(spark, out_path, committed_ids(spark, out_path + "_applied"))
    if out is None:
        raise FileNotFoundError(f"no committed decontam decisions at {out_path}")
    return out


def start_decontam_sink(
    docs: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> StreamingQuery:
    """Maintain the contamination decision table from a document stream."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_decontam_batch(
            batch_df, batch_id, out_path, index_path, text_col=text_col,
            id_col=id_col,
        )

    return (
        docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
