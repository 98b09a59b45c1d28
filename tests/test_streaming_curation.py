"""Streaming twins of the round-10 curation operators: quality-weighted
sampling on arriving batches (tp17) and cluster-stable split assignment
(tp18) — parity with the batch queries plus the replay/inheritance
properties the batch forms cannot express."""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("streaming-curation-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
    )
    yield s


@pytest.fixture(scope="module")
def sf_small() -> str:
    return "/root/testdata/sf0.001"


def test_streaming_quality_sample_matches_batch_tp17(spark, sf_small, tmp_path):
    """The union of per-micro-batch keep decisions under the frozen
    trained weights must equal the one-shot batch tp17 result
    row-for-row, regardless of how the corpus is split into batches;
    a replayed batch_id must be a no-op."""
    from etl_lorettoscarpa_1asfb2jf21_spark.queries_catalog_quality import (
        QUERIES,
        _x3t_train,
    )
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table
    from etl_lorettoscarpa_1asfb2jf21_spark.streaming.curation import (
        apply_sample_batch,
        read_sample_decisions,
        start_quality_sample_sink,
    )

    W, _ = _x3t_train(spark, sf_small)
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")

    # stream the corpus as parquet micro-batches (3 files → ≥1 batches)
    src = str(tmp_path / "docs_src")
    docs.repartition(3).write.parquet(src)
    out = str(tmp_path / "sampled")
    q = start_quality_sample_sink(
        spark.readStream.schema(docs.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src),
        out,
        str(tmp_path / "ckpt"),
        W,
    )
    q.awaitTermination(120)

    got = sorted(
        (r["doc_id"], r["score"], r["draw"], r["p_num"], r["kept"])
        for r in read_sample_decisions(spark, out).collect()
    )
    want = sorted(
        (r["doc_id"], r["score"], r["draw"], r["p_num"], r["kept"])
        for r in QUERIES["tp17_quality_weighted_sample"](spark, sf_small).collect()
    )
    assert got == want and len(got) == docs.count()

    # replay: re-applying an already-ledgered batch_id changes nothing
    applied = [r["batch_id"] for r in spark.read.parquet(out + "_applied").collect()]
    apply_sample_batch(docs.limit(50), applied[0], out, W)
    assert read_sample_decisions(spark, out).count() == len(want)

    # crash-replay: a batch that staged its decisions but died BEFORE the
    # ledger row is invisible to readers, and its replay commits exactly
    # once (no duplicate doc_id rows) — advisor round-11
    from etl_lorettoscarpa_1asfb2jf21_spark.streaming._commit import stage_write
    from etl_lorettoscarpa_1asfb2jf21_spark.streaming.curation import (
        _score_and_draw,
    )

    crash_batch = max(applied) + 1
    # fresh doc_ids (disjoint from the corpus) so the only possible
    # duplicates are replay-made
    extra = docs.limit(25).withColumn("doc_id", F.col("doc_id") + 10_000_000)
    stage_write(_score_and_draw(extra, W, 1000, 25), out, crash_batch)
    assert read_sample_decisions(spark, out).count() == len(want)  # invisible
    apply_sample_batch(extra, crash_batch, out, W)  # the stream's retry
    final = read_sample_decisions(spark, out)
    assert final.count() == len(want) + 25
    assert final.groupBy("doc_id").count().filter(F.col("count") > 1).count() == 0


def test_streaming_split_inherits_cluster_and_stays_stable(spark, tmp_path):
    """A near-duplicate arriving in a LATER batch must join its
    original's cluster and inherit its split; unrelated docs mint their
    own clusters; no cluster ever straddles the split boundary; replays
    are no-ops."""
    from etl_lorettoscarpa_1asfb2jf21_spark.streaming.splits import (
        apply_split_batch,
        read_split_assignments,
    )

    base = str(tmp_path / "splits")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")

    body_a = "the quick brown fox jumps over the lazy dog " * 8
    body_b = "completely different content about spark shuffles " * 8
    batch1 = mk([(1, body_a), (2, body_b)])
    # doc 11 duplicates doc 1 up to whitespace (normalization-identical,
    # so every minhash band collides DETERMINISTICALLY — a worded edit
    # would make the band collision probabilistic and the test flaky);
    # doc 12 is novel
    batch2 = mk(
        [
            (11, "  " + body_a.upper() + "  "),
            (12, "novel third subject entirely unrelated words " * 8),
        ]
    )

    apply_split_batch(batch1, 0, base)
    first = {
        r["doc_id"]: (r["cluster_id"], r["split"])
        for r in read_split_assignments(spark, base).collect()
    }
    assert set(first) == {1, 2}
    assert first[1][0] != first[2][0]  # unrelated docs → distinct clusters

    apply_split_batch(batch2, 1, base)
    allrows = {
        r["doc_id"]: (r["cluster_id"], r["split"])
        for r in read_split_assignments(spark, base).collect()
    }
    # inheritance: the near-dup joined doc 1's cluster AND split
    assert allrows[11] == first[1]
    # the novel doc minted its own cluster (root = its own id)
    assert allrows[12][0] == 12
    # stability: batch-1 assignments unchanged by batch 2
    assert allrows[1] == first[1] and allrows[2] == first[2]
    # leakage safety: one split per cluster
    by_cluster: dict = {}
    for cid, split in allrows.values():
        by_cluster.setdefault(cid, set()).add(split)
    assert all(len(s) == 1 for s in by_cluster.values())

    # replay: same batch_id again is a no-op
    apply_split_batch(batch2, 1, base)
    assert read_split_assignments(spark, base).count() == 4

    # crash-replay: a batch that staged state but died before its ledger
    # row must be invisible to readers AND to its own replay's probe —
    # the replay must not self-match its staged buckets (Jaccard 1.0)
    # and re-assign conflicting clusters (advisor round-11). Stage bogus
    # uncommitted state for batch 2, then run the real batch 2.
    from etl_lorettoscarpa_1asfb2jf21_spark.streaming._commit import stage_write

    # normalization-identical to doc 2 → deterministic band collision
    batch3 = mk([(21, " " + body_b.upper() + "  ")])
    bogus = spark.createDataFrame(
        [(21, 999_999, "val")], "doc_id long, cluster_id long, split string"
    )
    stage_write(bogus, base + "/assign", 2)
    assert read_split_assignments(spark, base).count() == 4  # invisible
    apply_split_batch(batch3, 2, base)
    rows3 = {
        r["doc_id"]: (r["cluster_id"], r["split"])
        for r in read_split_assignments(spark, base).collect()
    }
    assert read_split_assignments(spark, base).count() == 5  # no dup rows
    # the staged bogus row was overwritten; doc 21 inherited doc 2's
    # cluster and split through the committed index, not the staged one
    assert rows3[21] == first[2]


def test_streaming_decontam_matches_batch_tp7(spark, sf_small, tmp_path):
    """The union of per-micro-batch contamination decisions against the
    frozen eval-gram index must equal the one-shot batch tp7 result
    row-for-row, regardless of how the training corpus is split into
    batches; replays (committed and crash-staged) are exactly-once."""
    from etl_lorettoscarpa_1asfb2jf21_spark.queries_catalog_pipeline import (
        QUERIES as PIPE_QUERIES,
    )
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table
    from etl_lorettoscarpa_1asfb2jf21_spark.streaming.decontam import (
        apply_decontam_batch,
        build_eval_gram_index,
        read_decontam_decisions,
        start_decontam_sink,
    )

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    idx = str(tmp_path / "eval_grams")
    build_eval_gram_index(docs.filter(F.col("doc_id") % 20 == 0), idx)

    train = docs.filter(F.col("doc_id") % 20 != 0)
    src = str(tmp_path / "train_src")
    train.repartition(3).write.parquet(src)
    out = str(tmp_path / "decontam")
    q = start_decontam_sink(
        spark.readStream.schema(train.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        out,
        str(tmp_path / "ckpt_d"),
        idx,
    )
    q.awaitTermination(120)

    got = sorted(
        (r["doc_id"], r["n_shared"])
        for r in read_decontam_decisions(spark, out).collect()
    )
    want = sorted(
        (r["doc_id"], r["n_shared"])
        for r in PIPE_QUERIES["tp7_decontaminate"](spark, sf_small).collect()
    )
    assert got == want and len(got) > 0

    # committed replay: no-op
    applied = [r["batch_id"] for r in spark.read.parquet(out + "_applied").collect()]
    apply_decontam_batch(train.limit(40), applied[0], out, idx)
    assert read_decontam_decisions(spark, out).count() == len(want)


def test_decontam_rejects_old_format_index(spark, tmp_path):
    """An eval-gram index written with the old 60-bit ``gram BIGINT`` key
    fails with an explicit rebuild error, not a join type mismatch."""
    from etl_lorettoscarpa_1asfb2jf21_spark.streaming.decontam import (
        apply_decontam_batch,
    )

    idx = str(tmp_path / "old_grams")
    spark.createDataFrame([(1,), (2,)], "gram bigint").write.parquet(idx)
    batch = spark.createDataFrame(
        [(1, "one two three four five six")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="rebuild eval-gram index"):
        apply_decontam_batch(batch, 0, str(tmp_path / "out"), idx)
