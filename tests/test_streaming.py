"""Structured Streaming tests: file-source bronze ingest with checkpointed
exactly-once, and watermarked windowed aggregation parity with batch."""

from __future__ import annotations

import time
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from etl_lorettoscarpa_1asfb2jf21_spark.streaming.ingest import (
    start_bronze_sink,
    stream_lancamentos,
)
from etl_lorettoscarpa_1asfb2jf21_spark.streaming.windows import windowed_event_counts

CSV1 = """Descrição,Tipo,Grupo,Categoria,Classificação,Data,Valor
Aluguel,Despesa,Casa,Aluguel,Fixa,01/2024,"1.500,00"
Mercado,Despesa,Casa,Supermercado,Variável,01/2024,"823,45"
,Despesa,Casa,Aluguel,Fixa,01/2024,"1,00"
"""

CSV2 = """Descrição,Tipo,Grupo,Categoria,Classificação,Data,Valor
Salário,Receita,Trabalho,CLT,Fixa,02/2024,"7.000,00"
"""


def _run_available(spark, in_dir, out_dir, ckpt_dir):
    q = start_bronze_sink(stream_lancamentos(spark, in_dir), out_dir, ckpt_dir)
    q.awaitTermination(120)
    assert not q.isActive


def test_streaming_bronze_ingest(spark, tmp_path):
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    (tmp_path / "in").mkdir()
    (tmp_path / "in" / "m1.csv").write_text(CSV1, encoding="utf-8")

    _run_available(spark, in_dir, out_dir, ckpt)
    got = spark.read.parquet(out_dir)
    assert got.count() == 2  # invalid (empty Descrição) row filtered
    vals = {r["Descricao"]: r["Valor"] for r in got.collect()}
    assert vals["Aluguel"] == Decimal("1500.00")
    assert all(r["id_hash"] is not None for r in got.collect())

    # second file arrives; first file must NOT be reprocessed (checkpoint)
    (tmp_path / "in" / "m2.csv").write_text(CSV2, encoding="utf-8")
    _run_available(spark, in_dir, out_dir, ckpt)
    got2 = spark.read.parquet(out_dir)
    assert got2.count() == 3
    assert got2.filter("Descricao = 'Aluguel'").count() == 1  # no dup


def test_windowed_counts_stream_matches_batch(spark, tmp_path, sf_small):
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table

    events = load_table(spark, sf_small, "events")
    batch = windowed_event_counts(events, "1 hour")

    # stream the same rows through a file source
    stream_src = str(tmp_path / "stream_src")
    events.write.parquet(stream_src)
    stream = (
        spark.readStream.schema(events.schema).parquet(stream_src)
    )
    out = windowed_event_counts(stream, "1 hour", watermark="10 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("win_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("win_test")
    b = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in batch.collect()
    }
    s = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in got.collect()
    }
    assert b == s and len(b) > 0


def test_sliding_window(spark, sf_small):
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table

    events = load_table(spark, sf_small, "events")
    slid = windowed_event_counts(events, "2 hours", slide="1 hour")
    tumb = windowed_event_counts(events, "1 hour")
    # every event lands in exactly 2 sliding windows vs 1 tumbling window
    assert slid.agg({"n": "sum"}).collect()[0][0] == 2 * tumb.agg(
        {"n": "sum"}
    ).collect()[0][0]


def test_streaming_dedup_across_microbatches(spark, tmp_path):
    """Duplicate keys delivered in different micro-batches (the at-least-once
    redelivery case) are dropped while within the watermark horizon."""
    from etl_lorettoscarpa_1asfb2jf21_spark.streaming.dedup import dedup_stream

    src = tmp_path / "dedup_src"
    src.mkdir()
    from datetime import datetime

    t = lambda m: datetime(2024, 1, 1, 10, m)
    rows1 = [(1, t(0), "click"), (2, t(5), "view")]
    rows2 = [(1, t(0), "click"), (3, t(10), "click")]
    schema = "event_id long, ts timestamp, event_type string"
    df1 = spark.createDataFrame(rows1, schema)
    df2 = spark.createDataFrame(rows2, schema)
    df1.coalesce(1).write.parquet(str(src / "f1"))
    df2.coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(df1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    out = dedup_stream(stream, ["event_id"], ts_col="ts", watermark="10 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_test").collect()
    assert sorted(r["event_id"] for r in got) == [1, 2, 3]

    # batch path: same function, plain dedup semantics
    batch = dedup_stream(df1.union(df2), ["event_id"], ts_col="ts")
    assert batch.count() == 3


def test_stream_stream_interval_join_matches_batch(spark, tmp_path, sf_small):
    """Stream-stream join with watermarks + time-range bound produces the
    same rows as the identical batch join."""
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table
    from etl_lorettoscarpa_1asfb2jf21_spark.streaming.joins import (
        interval_stream_join,
    )

    events = load_table(spark, sf_small, "events").limit(500)
    left = events.select(
        F.col("user_id"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_id"),
    )
    right = events.select(
        F.col("user_id"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_id"),
    )
    batch = interval_stream_join(
        left, right, "user_id", "l_ts", "r_ts", within="30 minutes"
    )
    expect = sorted((r["l_id"], r["r_id"]) for r in batch.collect())
    assert len(expect) > 0

    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    left.write.parquet(ldir)
    right.write.parquet(rdir)
    ls = spark.readStream.schema(left.schema).parquet(ldir)
    rs = spark.readStream.schema(right.schema).parquet(rdir)
    out = interval_stream_join(
        ls, rs, "user_id", "l_ts", "r_ts", within="30 minutes", watermark="10 hours"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        (r["l_id"], r["r_id"]) for r in spark.table("ssj_test").collect()
    )
    assert got == expect


def test_streaming_gold_end_to_end(spark, tmp_path):
    """Full streaming DW: CSV drops -> validated bronze -> incremental gold
    star schema; second file only adds the genuinely-new rows (idempotent
    upsert), matching the reference's ON CONFLICT net effect."""
    from etl_lorettoscarpa_1asfb2jf21_spark.plans.star import read_warehouse
    from etl_lorettoscarpa_1asfb2jf21_spark.streaming.ingest import start_gold_sink

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    gold = str(tmp_path / "gold")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = start_gold_sink(stream_lancamentos(spark, str(in_dir)), gold, ckpt)
        q.awaitTermination(180)
        assert not q.isActive

    (in_dir / "m1.csv").write_text(CSV1, encoding="utf-8")
    run()
    wh1 = read_warehouse(spark, gold)
    assert wh1.fato_lancamento.count() == 2
    assert wh1.dim_tipo.count() == 1  # Despesa

    # second drop: one new month + new tipo; re-delivery of m1 rows (same
    # id_hash) must not duplicate facts
    (in_dir / "m2.csv").write_text(CSV2 + 'Aluguel,Despesa,Casa,Aluguel,Fixa,01/2024,"1.500,00"\n', encoding="utf-8")
    run()
    wh2 = read_warehouse(spark, gold)
    assert wh2.fato_lancamento.count() == 3  # +1 new (Salário), dup ignored
    assert wh2.dim_tipo.count() == 2  # +Receita
    assert wh2.dim_tempo.count() == 2  # 01/2024, 02/2024


def test_gold_sink_pins_no_batch(spark, tmp_path):
    """An availableNow gold stream of two micro-batches loads both and
    leaves nothing in the session's cache."""
    from etl_lorettoscarpa_1asfb2jf21_spark.plans.star import (
        read_warehouse,
        stage_lancamentos,
    )
    from etl_lorettoscarpa_1asfb2jf21_spark.schemas import LANCAMENTOS_CSV_SCHEMA
    from etl_lorettoscarpa_1asfb2jf21_spark.streaming.ingest import start_gold_sink

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "m1.csv").write_text(CSV1, encoding="utf-8")
    (in_dir / "m2.csv").write_text(CSV2, encoding="utf-8")
    # one file per micro-batch: two batches in one availableNow run
    staged, _ = stage_lancamentos(
        spark.readStream.schema(LANCAMENTOS_CSV_SCHEMA)
        .option("header", True)
        .option("maxFilesPerTrigger", 1)
        .csv(str(in_dir))
    )
    gold = str(tmp_path / "gold")
    spark.catalog.clearCache()
    q = start_gold_sink(staged, gold, str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    assert not q.isActive
    assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == 2
    assert read_warehouse(spark, gold).fato_lancamento.count() == 3
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("scheme", ["path", "file_uri"])
def test_gold_sink_keeps_history_and_bounded_versions(spark, tmp_path, scheme):
    """Three one-file micro-batches through the gold sink: every batch
    loads on top of the published history, whether the gold base is a
    plain path or a file: URI, and vacuum keeps at most two versions."""
    import os

    from etl_lorettoscarpa_1asfb2jf21_spark.plans.star import (
        read_warehouse,
        stage_lancamentos,
    )
    from etl_lorettoscarpa_1asfb2jf21_spark.schemas import LANCAMENTOS_CSV_SCHEMA
    from etl_lorettoscarpa_1asfb2jf21_spark.streaming.ingest import start_gold_sink

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "m1.csv").write_text(CSV1, encoding="utf-8")
    (in_dir / "m2.csv").write_text(CSV2, encoding="utf-8")
    (in_dir / "m3.csv").write_text(CSV2.replace("02/2024", "03/2024"), encoding="utf-8")
    staged, _ = stage_lancamentos(
        spark.readStream.schema(LANCAMENTOS_CSV_SCHEMA)
        .option("header", True)
        .option("maxFilesPerTrigger", 1)
        .csv(str(in_dir))
    )
    gold_dir = tmp_path / "gold"
    gold = gold_dir.as_uri() if scheme == "file_uri" else str(gold_dir)
    q = start_gold_sink(staged, gold, str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    assert not q.isActive
    assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == 3

    wh = read_warehouse(spark, gold)
    assert wh.fato_lancamento.count() == 4
    assert wh.dim_tipo.count() == 2  # Despesa, Receita
    assert wh.dim_tempo.count() == 3  # 01, 02 and 03/2024
    assert 1 <= len(os.listdir(gold_dir / "_v")) <= 2


def test_stream_static_enrichment_matches_batch(spark, tmp_path, sf_small):
    """Stream-static broadcast join: streaming events enriched with a batch
    dim produce the same rows as the identical batch join, and unmatched
    stream rows survive (left_outer, stateless)."""
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table
    from etl_lorettoscarpa_1asfb2jf21_spark.streaming.joins import (
        enrich_stream_static,
    )

    events = load_table(spark, sf_small, "events").limit(400).select(
        "event_id", "user_id", "event_type"
    )
    # dim covering only half the user space -> exercises null-preserving side
    dim = (
        load_table(spark, sf_small, "customer")
        .filter(F.col("c_custkey") % 2 == 0)
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    batch = enrich_stream_static(events, dim, "user_id")
    expect = sorted(
        (r["event_id"], r["c_mktsegment"]) for r in batch.collect()
    )
    assert len(expect) == 400
    assert any(seg is None for _, seg in expect)
    assert any(seg is not None for _, seg in expect)

    edir = str(tmp_path / "events")
    events.write.parquet(edir)
    es = spark.readStream.schema(events.schema).parquet(edir)
    out = enrich_stream_static(es, dim, "user_id")
    q = (
        out.writeStream.format("memory")
        .queryName("sse_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        (r["event_id"], r["c_mktsegment"]) for r in spark.table("sse_test").collect()
    )
    assert got == expect


def test_streaming_scd2_matches_batch_merge(spark, tmp_path):
    """Dimension snapshots streamed as dated files produce the same Type-2
    history as batch scd2_init+scd2_merge over the same snapshots, and a
    restarted stream replaying nothing new leaves the dim unchanged."""
    import json

    from etl_lorettoscarpa_1asfb2jf21_spark.streaming.scd import start_scd2_sink

    in_dir = tmp_path / "snapshots"
    in_dir.mkdir()
    dim_path = str(tmp_path / "dim_grupo_scd")
    ckpt = str(tmp_path / "ckpt")

    snap1 = [
        {"id_grupo": 1, "nome": "Casa", "snapshot_date": "2024-01-01"},
        {"id_grupo": 2, "nome": "Trabalho", "snapshot_date": "2024-01-01"},
    ]
    snap2 = [
        {"id_grupo": 1, "nome": "Casa e Jardim", "snapshot_date": "2024-02-01"},
        {"id_grupo": 2, "nome": "Trabalho", "snapshot_date": "2024-02-01"},
        {"id_grupo": 3, "nome": "Lazer", "snapshot_date": "2024-02-01"},
    ]
    (in_dir / "s1.json").write_text("\n".join(json.dumps(r) for r in snap1))
    (in_dir / "s2.json").write_text("\n".join(json.dumps(r) for r in snap2))

    schema = "id_grupo long, nome string, snapshot_date string"
    stream = spark.readStream.schema(schema).json(str(in_dir))
    q = start_scd2_sink(stream, dim_path, ckpt, ["id_grupo"], ["nome"])
    q.awaitTermination(120)
    assert not q.isActive

    got = {
        (r["id_grupo"], str(r["valid_from"]), r["is_current"]): (
            r["nome"],
            str(r["valid_to"]),
        )
        for r in spark.read.parquet(dim_path).collect()
    }
    assert got == {
        (1, "2024-01-01", False): ("Casa", "2024-02-01"),
        (1, "2024-02-01", True): ("Casa e Jardim", "None"),
        (2, "2024-01-01", True): ("Trabalho", "None"),
        (3, "2024-02-01", True): ("Lazer", "None"),
    }

    # restart with no new files: stream replays nothing, dim unchanged
    q2 = start_scd2_sink(
        spark.readStream.schema(schema).json(str(in_dir)),
        dim_path,
        ckpt,
        ["id_grupo"],
        ["nome"],
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(dim_path).count() == 4


def test_streaming_scd2_rewrites_only_affected_partitions(spark, tmp_path):
    """Scale contract: a snapshot touching one key must rewrite only that
    key's hash-bucket partition — every other partition's files stay
    byte-identical on disk (same paths, sizes, mtimes)."""
    import json
    import os

    from etl_lorettoscarpa_1asfb2jf21_spark.streaming.scd import (
        key_bucket_expr,
        start_scd2_sink,
    )

    in_dir = tmp_path / "snapshots"
    in_dir.mkdir()
    dim_path = str(tmp_path / "dim")
    schema = "k long, v string, snapshot_date string"

    # pick keys landing in distinct buckets so the claim is non-vacuous
    probe = spark.createDataFrame([(k,) for k in range(1, 40)], "k long")
    kb = {
        r["k"]: r["b"]
        for r in probe.select("k", key_bucket_expr(["k"], 8).alias("b")).collect()
    }
    keys = []
    for k, b in kb.items():
        if b not in [kb[x] for x in keys]:
            keys.append(k)
        if len(keys) == 3:
            break
    assert len(keys) == 3, f"need 3 distinct buckets, got {kb}"

    (in_dir / "s1.json").write_text(
        "\n".join(
            json.dumps({"k": k, "v": f"v{k}", "snapshot_date": "2024-01-01"})
            for k in keys
        )
    )
    q = start_scd2_sink(
        spark.readStream.schema(schema).json(str(in_dir)),
        dim_path, str(tmp_path / "c1"), ["k"], ["v"], n_buckets=8,
    )
    q.awaitTermination(120)

    def file_state():
        out = {}
        for root, _dirs, files in os.walk(dim_path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    st = os.stat(p)
                    out[p] = (st.st_size, st.st_mtime_ns)
        return out

    before = file_state()
    assert len({os.path.dirname(p) for p in before}) == 3  # 3 bucket dirs

    # change only keys[0]
    (in_dir / "s2.json").write_text(
        json.dumps({"k": keys[0], "v": "changed", "snapshot_date": "2024-02-01"})
    )
    q2 = start_scd2_sink(
        spark.readStream.schema(schema).json(str(in_dir)),
        dim_path, str(tmp_path / "c1"), ["k"], ["v"], n_buckets=8,
    )
    q2.awaitTermination(120)
    after = file_state()

    touched = os.path.join(dim_path, f"_kb={kb[keys[0]]}")
    for p, st in before.items():
        if p.startswith(touched):
            assert p not in after or after[p] != st or True  # replaced dir
        else:
            assert after.get(p) == st, f"untouched partition rewritten: {p}"
    # the touched bucket now holds closed + current versions of keys[0]
    hist = spark.read.parquet(dim_path).filter(F.col("k") == keys[0]).collect()
    assert sorted((r["v"], r["is_current"]) for r in hist) == [
        ("changed", True), (f"v{keys[0]}", False),
    ]
    # untouched keys still exactly one current row each
    others = spark.read.parquet(dim_path).filter(F.col("k") != keys[0]).collect()
    assert sorted((r["k"], r["v"], r["is_current"]) for r in others) == sorted(
        (k, f"v{k}", True) for k in keys[1:]
    )


def test_streaming_scd2_replay_of_processed_batch_is_noop(spark, tmp_path):
    """Regression (review finding): replaying already-applied snapshots —
    a fresh checkpoint over the same files, the at-least-once worst case —
    must leave the dimension byte-identical. Without the monotonicity
    guard, re-applying the older snapshot on top of newer history closed
    rows with valid_to < valid_from and duplicated history."""
    import json

    from etl_lorettoscarpa_1asfb2jf21_spark.streaming.scd import start_scd2_sink

    in_dir = tmp_path / "snapshots"
    in_dir.mkdir()
    dim_path = str(tmp_path / "dim")
    (in_dir / "s1.json").write_text(
        json.dumps({"k": 1, "v": "v1", "snapshot_date": "2024-01-01"})
    )
    (in_dir / "s2.json").write_text(
        json.dumps({"k": 1, "v": "v2", "snapshot_date": "2024-02-01"})
    )
    schema = "k long, v string, snapshot_date string"

    q = start_scd2_sink(
        spark.readStream.schema(schema).json(str(in_dir)),
        dim_path,
        str(tmp_path / "ckpt1"),
        ["k"],
        ["v"],
    )
    q.awaitTermination(120)
    before = sorted(map(str, spark.read.parquet(dim_path).collect()))

    # fresh checkpoint: the stream replays BOTH files onto the built dim
    q2 = start_scd2_sink(
        spark.readStream.schema(schema).json(str(in_dir)),
        dim_path,
        str(tmp_path / "ckpt2"),
        ["k"],
        ["v"],
    )
    q2.awaitTermination(120)
    after = sorted(map(str, spark.read.parquet(dim_path).collect()))
    assert after == before
    assert len(after) == 2  # v1 closed + v2 current, exactly once


def test_streaming_ivm_matches_recompute(spark, tmp_path):
    """CDC change files streamed through the incremental-rollup sink
    produce exactly the rollup a from-scratch recompute over all changes
    gives; deletes that empty a group become tombstones that read_rollup
    hides; replaying an applied batch_id is a no-op (ledger)."""
    import json

    from etl_lorettoscarpa_1asfb2jf21_spark.streaming.ivm import (
        apply_cdc_batch,
        read_rollup,
        start_incremental_rollup_sink,
    )

    in_dir = tmp_path / "cdc"
    in_dir.mkdir()
    view_path = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")

    b1 = [
        {"grp": "a", "qty": 10.0, "op": "I"},
        {"grp": "a", "qty": 5.0, "op": "I"},
        {"grp": "b", "qty": 7.0, "op": "I"},
        {"grp": "c", "qty": 1.0, "op": "I"},
    ]
    b2 = [
        {"grp": "a", "qty": 5.0, "op": "D"},   # update part 1
        {"grp": "a", "qty": 6.0, "op": "I"},   # update part 2
        {"grp": "c", "qty": 1.0, "op": "D"},   # group fully deleted
        {"grp": "d", "qty": 2.0, "op": "I"},   # new group
    ]
    (in_dir / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))
    (in_dir / "b2.json").write_text("\n".join(json.dumps(r) for r in b2))

    schema = "grp string, qty double, op string"
    q = start_incremental_rollup_sink(
        spark.readStream.schema(schema).json(str(in_dir)),
        view_path,
        ckpt,
        ["grp"],
        n_buckets=8,
    )
    q.awaitTermination(120)
    assert not q.isActive

    got = {
        r["grp"]: (r["sum_qty"], r["n_rows"])
        for r in read_rollup(spark, view_path).collect()
    }
    # recompute from scratch over all change rows
    assert got == {"a": (16.0, 2), "b": (7.0, 1), "d": (2.0, 1)}

    # fully-deleted group persists as a hidden tombstone
    raw = {r["grp"]: r["n_rows"] for r in spark.read.parquet(view_path).collect()}
    assert raw["c"] == 0

    # replaying an already-applied batch_id must change nothing
    replay = spark.createDataFrame(
        [("a", 100.0, "I")], "grp string, qty double, op string"
    )
    applied = [
        r["batch_id"] for r in spark.read.parquet(view_path + "_applied").collect()
    ]
    apply_cdc_batch(replay, applied[0], view_path, ["grp"], n_buckets=8)
    got2 = {
        r["grp"]: (r["sum_qty"], r["n_rows"])
        for r in read_rollup(spark, view_path).collect()
    }
    assert got2 == got


def test_streaming_ivm_rewrites_only_touched_buckets(spark, tmp_path):
    """Scale contract: a CDC batch touching one group rewrites only that
    group's hash bucket — all other partitions stay byte-identical."""
    import os

    from etl_lorettoscarpa_1asfb2jf21_spark.streaming.ivm import apply_cdc_batch

    view_path = str(tmp_path / "rollup")
    seed = spark.createDataFrame(
        [(f"g{i}", float(i), "I") for i in range(20)],
        "grp string, qty double, op string",
    )
    apply_cdc_batch(seed, 0, view_path, ["grp"], n_buckets=8)

    def file_state():
        state = {}
        for root, _dirs, files in os.walk(view_path):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                state[p] = (st.st_size, st.st_mtime_ns)
        return state

    before = file_state()
    one = spark.createDataFrame(
        [("g3", 2.5, "I")], "grp string, qty double, op string"
    )
    apply_cdc_batch(one, 1, view_path, ["grp"], n_buckets=8)
    after = file_state()

    from etl_lorettoscarpa_1asfb2jf21_spark.streaming.scd import key_bucket_expr
    from pyspark.sql import functions as F

    kb = (
        spark.createDataFrame([("g3",)], "grp string")
        .select(key_bucket_expr(["grp"], 8).alias("kb"))
        .collect()[0]["kb"]
    )
    touched_dir = os.path.join(view_path, f"_kb={kb}")
    for p, st in before.items():
        if not p.startswith(touched_dir):
            assert after.get(p) == st, f"untouched file changed: {p}"
    assert any(p.startswith(touched_dir) and after.get(p) != before.get(p)
               for p in set(before) | set(after))


def test_streaming_emit_anchored_matches_batch(spark, tmp_path, sf_small):
    """The stateful streaming emit-anchored dedup must emit EXACTLY the
    rows the batch operator (st5's contract) keeps on the same data, with
    the per-key anchor surviving micro-batch boundaries: real events
    split time-ordered across 3 files, one file per trigger."""
    from pyspark.sql import functions as F

    from etl_lorettoscarpa_1asfb2jf21_spark.operators.dedup import (
        emit_anchored_dedup,
    )
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table
    from etl_lorettoscarpa_1asfb2jf21_spark.streaming.dedup import (
        emit_anchored_dedup_stream,
    )

    horizon_us = 3_600_000_000
    events = (
        load_table(spark, sf_small, "events")
        .select("event_id", "user_id", "event_type", F.col("ts").cast("timestamp"))
    )
    # time-ordered thirds -> micro-batches respect per-key event order
    n = events.count()
    ordered = events.orderBy("ts", "event_id").collect()
    src = tmp_path / "ea_src"
    src.mkdir()
    for i, lo in enumerate(range(0, n, (n + 2) // 3)):
        chunk = ordered[lo : lo + (n + 2) // 3]
        spark.createDataFrame(chunk, events.schema).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    out = emit_anchored_dedup_stream(
        stream,
        key_cols=["user_id", "event_type"],
        ts_col="ts",
        order_cols=["ts", "event_id"],
        horizon_us=horizon_us,
        watermark="2 hours",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ea_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(r["event_id"] for r in spark.table("ea_stream").collect())

    batch = emit_anchored_dedup(
        events.withColumn("_us", F.unix_micros("ts")),
        key_cols=["user_id", "event_type"],
        ts_micros_col="_us",
        order_cols=["_us", "event_id"],
        horizon_us=horizon_us,
    )
    want = sorted(r["event_id"] for r in batch.collect())
    assert got == want and len(want) > 0


def test_windowed_hll_stream_matches_batch(spark, tmp_path, sf_small):
    """The streaming distinct-count sketch: register tables from the
    stream (one stateful max aggregation, <=512 rows of state per open
    window) must equal the batch registers exactly, and the read-time
    estimator fold over the streamed registers must equal the
    oracle-checked batch query sk3_windowed_hll."""
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.sketches import (
        hll_estimate_from_registers,
    )
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table
    from etl_lorettoscarpa_1asfb2jf21_spark.streaming.windows import (
        windowed_hll_registers,
    )

    events = load_table(spark, sf_small, "events")
    batch_regs = windowed_hll_registers(events)

    stream_src = str(tmp_path / "hll_stream_src")
    events.write.parquet(stream_src)
    stream = spark.readStream.schema(events.schema).parquet(stream_src)
    out = windowed_hll_registers(stream, watermark="10 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("hll_regs")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("hll_regs")

    b = {(r["window_start"], r["_hll_idx"]): r["_mj"] for r in batch_regs.collect()}
    s = {(r["window_start"], r["_hll_idx"]): r["_mj"] for r in got.collect()}
    assert b == s and len(b) > 0

    est_stream = {
        (r["window_start"]): (r["registers_used"], r["hll_est"])
        for r in hll_estimate_from_registers(got, ["window_start"]).collect()
    }
    est_batch = {
        (r["window_start"]): (r["registers_used"], r["hll_est"])
        for r in hll_estimate_from_registers(batch_regs, ["window_start"]).collect()
    }
    assert est_stream == est_batch


def test_windowed_cms_stream_matches_batch(spark, tmp_path, sf_small):
    """The streaming frequency sketch: CMS counter tables from the
    stream (one stateful count aggregation, <=1024 cells of state per
    open window) must equal the batch counters exactly, and summing the
    hourly tables into a day must equal a direct daily build — the
    addition-mergeability property sk6_windowed_cms_merge relies on."""
    from pyspark.sql import functions as F

    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table
    from etl_lorettoscarpa_1asfb2jf21_spark.streaming.windows import (
        windowed_cms_counters,
    )

    events = load_table(spark, sf_small, "events")
    batch = windowed_cms_counters(events)

    stream_src = str(tmp_path / "cms_stream_src")
    events.write.parquet(stream_src)
    stream = spark.readStream.schema(events.schema).parquet(stream_src)
    out = windowed_cms_counters(stream, watermark="10 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("cms_counters")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("cms_counters")

    key = lambda r: (r["window_start"], r["_row"], r["_bucket"])
    b = {key(r): r["_cnt"] for r in batch.collect()}
    s = {key(r): r["_cnt"] for r in got.collect()}
    assert b == s and len(b) > 0
    # per-window state bound: d x w cells
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.sketches import (
        CMS_DEPTH,
        CMS_WIDTH,
    )
    from collections import Counter

    per_window = Counter(w for (w, _, _) in s)
    assert max(per_window.values()) <= CMS_DEPTH * CMS_WIDTH

    # addition-merge == direct daily build, cell for cell
    merged = (
        batch.select(
            F.substring("window_start", 1, 10).alias("day"), "_row",
            "_bucket", "_cnt",
        )
        .groupBy("day", "_row", "_bucket")
        .agg(F.sum("_cnt").alias("_cnt"))
    )
    direct = windowed_cms_counters(events, window_duration="1 day").select(
        F.substring("window_start", 1, 10).alias("day"), "_row", "_bucket",
        "_cnt",
    )
    m = {(r["day"], r["_row"], r["_bucket"]): r["_cnt"] for r in merged.collect()}
    d = {(r["day"], r["_row"], r["_bucket"]): r["_cnt"] for r in direct.collect()}
    assert m == d


def test_sliding_hll_stream_matches_batch(spark, tmp_path, sf_small):
    """Overlapping sliding-window HLL (2h / slide 1h): streamed register
    tables must equal the batch ones exactly — sliding adds row
    duplication ahead of the same single stateful max, so it stays a
    streaming-supported one-aggregation plan — and each event's
    registers must appear in exactly two window starts."""
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table
    from etl_lorettoscarpa_1asfb2jf21_spark.streaming.windows import (
        windowed_hll_registers,
    )

    events = load_table(spark, sf_small, "events")
    kw = dict(window_duration="2 hours", slide="1 hour")
    batch = windowed_hll_registers(events, **kw)

    stream_src = str(tmp_path / "sliding_hll_src")
    events.write.parquet(stream_src)
    stream = spark.readStream.schema(events.schema).parquet(stream_src)
    out = windowed_hll_registers(stream, watermark="10 hours", **kw)
    q = (
        out.writeStream.format("memory")
        .queryName("sliding_hll_regs")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("sliding_hll_regs")

    b = {(r["window_start"], r["_hll_idx"]): r["_mj"] for r in batch.collect()}
    s = {(r["window_start"], r["_hll_idx"]): r["_mj"] for r in got.collect()}
    assert b == s and len(b) > 0
    # overlap sanity: every nonempty hour h contributes sliding starts
    # {h, h-1h}, so their union is strictly more than the tumbling hours
    # (at least the edge window) and at most double (sparse hours)
    tumbling = windowed_hll_registers(events)
    n_tumble = tumbling.select("window_start").distinct().count()
    n_slide = got.select("window_start").distinct().count()
    assert n_tumble < n_slide <= 2 * n_tumble
