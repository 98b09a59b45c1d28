"""Unit tests for upsert, surrogate keys, validation, dedup, similarity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_lorettoscarpa_1asfb2jf21_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
    simhash_signature,
)
from etl_lorettoscarpa_1asfb2jf21_spark.operators.similarity import (
    ivf_topk,
    brute_force_topk,
    embedding_neardup_pairs,
    lsh_topk,
)
from etl_lorettoscarpa_1asfb2jf21_spark.operators.surrogate import with_surrogate_key
from etl_lorettoscarpa_1asfb2jf21_spark.operators.upsert import insert_if_absent


def test_insert_if_absent_intra_and_cross_batch(spark):
    existing = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    batch = spark.createDataFrame(
        [(2, "b2"), (3, "c"), (3, "c-dup"), (4, "d")], ["k", "v"]
    )
    out = insert_if_absent(batch, existing, ["k"])
    ks = sorted(r["k"] for r in out.collect())
    assert ks == [3, 4]  # 2 dropped (exists), one 3 dropped (intra-batch)


def test_insert_if_absent_no_existing(spark):
    batch = spark.createDataFrame([(1,), (1,), (2,)], ["k"])
    assert insert_if_absent(batch, None, ["k"]).count() == 2


def test_surrogate_dense_deterministic(spark):
    df = spark.createDataFrame([("b",), ("a",), ("c",)], ["name"])
    out1 = {r["name"]: r["id"] for r in with_surrogate_key(df, "id", ["name"]).collect()}
    out2 = {r["name"]: r["id"] for r in with_surrogate_key(df, "id", ["name"]).collect()}
    assert out1 == out2 == {"a": 1, "b": 2, "c": 3}
    out3 = with_surrogate_key(df, "id", ["name"], offset=10).collect()
    assert sorted(r["id"] for r in out3) == [11, 12, 13]
    # a table offset continues after its max id (0 when it is empty)
    existing = spark.createDataFrame([(4,), (7,)], "id int")
    out4 = with_surrogate_key(df, "id", ["name"], offset=existing).collect()
    assert sorted(r["id"] for r in out4) == [8, 9, 10]
    assert list(out4[0].asDict()) == ["name", "id"]
    out5 = with_surrogate_key(df, "id", ["name"], offset=existing.limit(0)).collect()
    assert sorted(r["id"] for r in out5) == [1, 2, 3]


def test_surrogate_dense_refuses_fact_sized_input(spark):
    # dense = unpartitioned window = single-task global sort: dimension
    # builds only. The guard must refuse anything above dense_max_rows.
    # It lives in the plan, so it fires when an action runs.
    from pyspark.errors import SparkRuntimeException

    big = spark.range(0, 50).selectExpr("CAST(id AS STRING) AS name")
    keyed = with_surrogate_key(big, "id", ["name"], dense_max_rows=10)
    with pytest.raises(SparkRuntimeException, match="dense_max_rows"):
        keyed.collect()
    # sparse has no such bound (fully parallel, non-dense)
    out = with_surrogate_key(big, "id", ["name"], strategy="sparse").collect()
    assert len({r["id"] for r in out}) == 50


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog in the morning sun"),
    (2, "the quick brown fox jumps over the lazy dog in the morning sun"),  # exact dup
    (3, "the quick brown fox jumps over the lazy dog in the evening sun"),  # near dup
    (4, "completely different text about spark dataframes and shuffles"),
    (5, "another unrelated document mentioning parquet files and columns"),
]


def test_exact_dedup(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    kept = sorted(r["doc_id"] for r in exact_dedup(df, "text", "doc_id").collect())
    assert kept == [1, 3, 4, 5]  # doc 2 collapses into doc 1


def test_minhash_lsh_finds_near_dup(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    pairs = minhash_lsh_pairs(
        df, "text", "doc_id", num_hashes=32, bands=8, jaccard_threshold=0.5
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # exact dup always found
    assert (1, 3) in got or (2, 3) in got  # near dup found
    assert (4, 5) not in got
    kept = sorted(
        r["doc_id"]
        for r in minhash_lsh_dedup(
            df, "text", "doc_id", num_hashes=32, bands=8, jaccard_threshold=0.5
        ).collect()
    )
    assert 1 in kept and 4 in kept and 5 in kept and 2 not in kept


def test_simhash(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    sig = {r["doc_id"]: r["simhash"] for r in simhash_signature(df, "text", "doc_id").collect()}
    assert sig[1] == sig[2]  # identical docs → identical fingerprint
    pairs = simhash_neardup_pairs(df, "text", "doc_id", max_hamming=8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert (4, 5) not in got


def test_portable_minhash_matches_xxhash_pairs(spark):
    """portable=True (md5-60bit, oracle-mirrorable) must find the same
    verified near-dup pairs as the xxhash64 production path — both hashes
    preserve shingle-set identity, so only bucket labels differ."""
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    kw = dict(num_hashes=32, bands=8, jaccard_threshold=0.5)
    fast = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in minhash_lsh_pairs(df, "text", "doc_id", **kw).collect()
    }
    port = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in minhash_lsh_pairs(df, "text", "doc_id", portable=True, **kw).collect()
    }
    assert fast == port


def test_bucket_pairs_star_fallback_on_oversized_bucket(spark):
    """Buckets within the cap enumerate every pair; oversized buckets emit
    star-topology candidates (member ↔ bucket min) — linear, not m²/2."""
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.dedup import bucket_pairs

    rows = [(i, 0, "big") for i in range(1, 7)] + [  # 6 members > cap=4
        (10, 1, "small"),
        (11, 1, "small"),
        (12, 1, "small"),  # 3 members <= cap
    ]
    b = spark.createDataFrame(rows, ["id", "band", "bucket"])
    capped = {
        (r["id_a"], r["id_b"])
        for r in bucket_pairs(b, "id", ["band", "bucket"], max_bucket=4).collect()
    }
    star_big = {(1, i) for i in range(2, 7)}
    full_small = {(10, 11), (10, 12), (11, 12)}
    assert capped == star_big | full_small
    # cap=None keeps the historical unconditional full enumeration
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in bucket_pairs(b, "id", ["band", "bucket"]).collect()
    }
    assert uncapped == {
        (i, j) for i in range(1, 7) for j in range(i + 1, 7)
    } | full_small
    # the selfjoin strategy produces the identical sets, capped and not
    # (it streams large join groups instead of materializing pair arrays)
    for cap, expected in ((4, capped), (None, uncapped)):
        got = {
            (r["id_a"], r["id_b"])
            for r in bucket_pairs(
                b, "id", ["band", "bucket"], max_bucket=cap, strategy="selfjoin"
            ).collect()
        }
        assert got == expected, cap


def test_minhash_mega_bucket_bounded(spark):
    """Adversarial boilerplate corpus: 10k documents with identical text all
    land in ONE band bucket per band. Full enumeration would materialize
    ~50M candidate pairs (an m²/2 array in a single aggregation row);
    the capped path must complete with exactly the m−1 star pairs, every
    one anchored at the bucket minimum."""
    m = 10_000
    boiler = (
        "subscribe to our newsletter for the latest updates terms of "
        "service privacy policy all rights reserved contact us about"
    )
    df = spark.range(m).select(
        F.col("id").alias("doc_id"), F.lit(boiler).alias("text")
    )
    pairs = minhash_lsh_pairs(
        df, "text", "doc_id", num_hashes=16, bands=4, jaccard_threshold=0.5
    ).collect()
    assert len(pairs) == m - 1
    assert all(r["id_a"] == 0 and r["jaccard"] == 1.0 for r in pairs)


def test_minhash_cap_preserves_clusters(spark):
    """On a corpus where the cap fires, star pairs differ from full
    enumeration but duplicate_clusters resolves the IDENTICAL components
    for true duplicate sets — the property cluster consumers rely on."""
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.graph import duplicate_clusters

    dup = "spark catalyst tungsten adaptive execution whole stage codegen"
    rows = [(i, dup) for i in range(6)] + [
        (10, "a totally unrelated document about parquet bloom filters"),
        (11, "yet another singleton row mentioning arrow and pandas udfs"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kw = dict(num_hashes=16, bands=4, jaccard_threshold=0.5)
    capped = minhash_lsh_pairs(df, "text", "doc_id", max_bucket=3, **kw)
    naive = minhash_lsh_pairs(df, "text", "doc_id", max_bucket=None, **kw)
    n_capped, n_naive = capped.count(), naive.count()
    assert n_capped == 5 and n_naive == 15  # star m-1 vs full m(m-1)/2

    def clusters(pairs):
        return {
            (r["doc_id"], r["cluster_id"], r["is_canonical"])
            for r in duplicate_clusters(
                df, pairs.select("id_a", "id_b"), "doc_id"
            ).collect()
        }

    assert clusters(capped) == clusters(naive)


def test_incremental_neardup_matches_cross_boundary_pairs(spark):
    """The asymmetric index-vs-batch probe must find exactly the
    self-dedup pairs that cross the index/batch boundary — no more
    (it never pairs within a side) and no fewer (the probe uses the
    same buckets)."""
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.dedup import incremental_neardup

    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    split = 3  # index: 1-2, new batch: 3-5 (doc 3 near-dups 1 and 2)
    kw = dict(num_hashes=32, bands=8, jaccard_threshold=0.5)
    expected = {
        (r["id_b"], r["id_a"], round(r["jaccard"], 9))
        for r in minhash_lsh_pairs(df, "text", "doc_id", **kw).collect()
        if r["id_a"] < split <= r["id_b"]
    }
    got = {
        (r["new_id"], r["index_id"], round(r["jaccard"], 9))
        for r in incremental_neardup(
            df.filter(F.col("doc_id") < split),
            df.filter(F.col("doc_id") >= split),
            "text",
            "doc_id",
            **kw,
        ).collect()
    }
    assert got == expected
    assert got, "expected at least one cross-boundary near-dup in DOCS"


def test_portable_simhash_properties(spark):
    """Portable simhash: 60-bit non-negative fingerprints, identical docs
    collide, unrelated docs differ."""
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    sig = {
        r["doc_id"]: r["simhash"]
        for r in simhash_signature(df, "text", "doc_id", portable=True).collect()
    }
    assert all(0 <= v < (1 << 60) for v in sig.values())
    assert sig[1] == sig[2]
    assert sig[1] != sig[4]


def test_ngram_jaccard_pairs(spark):
    df = spark.createDataFrame([(i, t, "blk") for i, t in DOCS], ["doc_id", "text", "blk"])
    pairs = ngram_jaccard_pairs(df, "text", "doc_id", "blk", n=3, threshold=0.6)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got
    assert (4, 5) not in got


VECS = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [0.9, 0.1, 0.0, 0.0]),
    (3, [0.0, 1.0, 0.0, 0.0]),
    (4, [0.0, 0.0, 1.0, 0.0]),
]


def test_brute_force_topk(spark):
    corpus = spark.createDataFrame(VECS, ["c_id", "c_vec"])
    queries = spark.createDataFrame([(100, [1.0, 0.05, 0.0, 0.0])], ["q_id", "q_vec"])
    out = brute_force_topk(queries, corpus, k=2).collect()
    assert [r["c_id"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2]


def test_brute_force_topk_arrow_matches_native(spark):
    corpus = spark.createDataFrame(VECS, ["c_id", "c_vec"])
    queries = spark.createDataFrame(
        [(100, [1.0, 0.05, 0.0, 0.0]), (101, [0.0, 0.2, 1.0, 0.0])],
        ["q_id", "q_vec"],
    )
    native = {
        (r["q_id"], r["c_id"], r["rank"], round(r["sim"], 12))
        for r in brute_force_topk(queries, corpus, k=3).collect()
    }
    arrow = {
        (r["q_id"], r["c_id"], r["rank"], round(r["sim"], 12))
        for r in brute_force_topk(queries, corpus, k=3, use_arrow=True).collect()
    }
    assert arrow == native


def test_lsh_topk_subset_of_exact(spark):
    corpus = spark.createDataFrame(VECS, ["c_id", "c_vec"])
    queries = spark.createDataFrame([(100, [1.0, 0.05, 0.0, 0.0])], ["q_id", "q_vec"])
    exact = {r["c_id"] for r in brute_force_topk(queries, corpus, k=4).collect()}
    approx = lsh_topk(queries, corpus, k=4, dim=4, planes=8, bands=4).collect()
    assert {r["c_id"] for r in approx} <= exact
    assert len(approx) >= 1  # identical-direction vectors share all buckets


def test_embedding_neardup(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.001]), (3, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    pairs = embedding_neardup_pairs(df, dim=2, planes=8, bands=4, threshold=0.99)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(1, 2)}


def test_qdot_kernel_matches_native_fold_bit_exact(spark):
    """The fixed-point verify dot must be ORDER-FREE: the Arrow einsum
    kernel (qdot_unit_batch_udf), the native left-fold twin
    (qdot_unit_expr), and by the same argument DuckDB's list_dot_product
    fold all produce the SAME float64, because every quantized product and
    partial sum is an integer < 2^53. Exact equality, not tolerance."""
    import random

    from pyspark.sql import functions as F

    from etl_lorettoscarpa_1asfb2jf21_spark.functions.vectors import (
        normalize_expr,
        qdot_unit_batch_udf,
        qdot_unit_expr,
    )

    rng = random.Random(11)
    rows = [
        (
            i,
            [rng.gauss(0, 1) for _ in range(64)],
            [rng.gauss(0, 1) for _ in range(64)],
        )
        for i in range(200)
    ]
    df = (
        spark.createDataFrame(rows, ["i", "a", "b"])
        .withColumn("na", normalize_expr("a"))
        .withColumn("nb", normalize_expr("b"))
    )
    from etl_lorettoscarpa_1asfb2jf21_spark.functions.vectors import (
        qdot_int_batch_udf,
        quantize_unit_expr,
    )

    got = (
        df.withColumn("k", qdot_unit_batch_udf()(F.col("na"), F.col("nb")))
        .withColumn("e", qdot_unit_expr("na", "nb"))
        .withColumn(
            "ki",
            qdot_int_batch_udf()(
                quantize_unit_expr("na"), quantize_unit_expr("nb")
            ),
        )
        .select("i", "k", "e", "ki")
        .collect()
    )
    assert len(got) == 200
    for r in got:
        assert r["k"] == r["e"], f"row {r['i']}: kernel {r['k']!r} != fold {r['e']!r}"
        assert r["ki"] == r["e"], f"row {r['i']}: int kernel {r['ki']!r} != fold {r['e']!r}"


def test_qdot_kernel_rejects_unnormalized_input(spark):
    """Unnormalized magnitudes would break the float64 exact-integer bound
    and silently make the dot order-dependent — the kernel must refuse."""
    from pyspark.sql import functions as F

    from etl_lorettoscarpa_1asfb2jf21_spark.functions.vectors import (
        qdot_unit_batch_udf,
    )

    big = [1.0e6] * 64
    df = spark.createDataFrame([(1, big, big)], ["i", "a", "b"])
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    with _pytest.raises(Exception) as exc:
        df.withColumn("k", qdot_unit_batch_udf()(F.col("a"), F.col("b"))).collect()
    assert "unit-normalized" in str(exc.value)


def test_ivf_topk_finds_nearest(spark):
    """IVF with nprobe == n_centroids degrades to exact search — top-1 must
    match brute force; fewer probes returns a subset of the exact top-k."""
    import random

    rng = random.Random(7)
    corpus = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(80)],
        ["c_id", "c_vec"],
    )
    queries = spark.createDataFrame(
        [(100, [1.0] + [0.0] * 7), (101, [0.0, 1.0] + [0.0] * 6)],
        ["q_id", "q_vec"],
    )
    exact = brute_force_topk(queries, corpus, k=5).collect()
    full_probe = ivf_topk(queries, corpus, k=5, n_centroids=4, nprobe=4).collect()
    by_q = lambda rows: {
        q: [r["c_id"] for r in sorted(rows, key=lambda r: r["rank"]) if r["q_id"] == q]
        for q in (100, 101)
    }
    assert by_q(full_probe) == by_q(exact)

    partial = ivf_topk(queries, corpus, k=5, n_centroids=4, nprobe=2).collect()
    exact_sets = {q: set(ids) for q, ids in by_q(exact).items()}
    for q, ids in by_q(partial).items():
        assert set(ids) <= exact_sets[q] | set(ids)  # well-formed
        assert len(ids) <= 5


def test_salted_aggregate_equals_naive(spark, sf_small):
    from pyspark.sql import functions as F

    from etl_lorettoscarpa_1asfb2jf21_spark.operators.skew import salted_aggregate
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table

    e = load_table(spark, sf_small, "events")
    naive = {
        (r["event_type"], r["n_users"], r["total"])
        for r in e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("total"),
        )
        .collect()
    }
    salted = {
        (r["event_type"], r["n_users"], r["total"])
        for r in salted_aggregate(
            e,
            ["event_type"],
            partial_aggs=[
                F.collect_set("user_id").alias("users"),
                F.count(F.lit(1)).alias("cnt"),
            ],
            merge_aggs=[
                F.size(F.array_distinct(F.flatten(F.collect_list("users")))).alias(
                    "n_users"
                ),
                F.sum("cnt").alias("total"),
            ],
            salt=8,
        ).collect()
    }
    assert salted == naive


def test_replicate_salted_join_equals_naive(spark, sf_small):
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.skew import replicate_salted_join
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table

    o = load_table(spark, sf_small, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_small, "customer").select("c_custkey", "c_mktsegment")
    naive = sorted(
        (r["o_orderkey"], r["c_mktsegment"])
        for r in o.join(c, o["o_custkey"] == c["c_custkey"]).collect()
    )
    salted = sorted(
        (r["o_orderkey"], r["c_mktsegment"])
        for r in replicate_salted_join(
            o.withColumnRenamed("o_custkey", "c_custkey"), c, ["c_custkey"], salt=4
        ).collect()
    )
    assert salted == naive


def test_asof_join_semantics(spark):
    """Backward as-of: latest right at-or-before each left; NULL when none;
    equal timestamps match (>= semantics)."""
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 5, "a"), (1, 10, "b"), (1, 20, "c"), (2, 7, "d")],
        "k long, t long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 5, 100.0), (1, 15, 200.0), (3, 1, 999.0)],
        "k long, t long, v double",
    )
    out = {
        r["tag"]: r["v_r"]
        for r in asof_join(left, right, on=["k"], left_ts="t", right_ts="t").collect()
    }
    assert out == {"a": 100.0, "b": 100.0, "c": 200.0, "d": None}


def test_interval_join_shapes_agree(spark, sf_small):
    """Broadcast and grid-bucketed range joins return identical rows."""
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.ranges import interval_join
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table

    o = load_table(spark, sf_small, "orders").select("o_orderkey", "o_totalprice")
    bands = spark.createDataFrame(
        [(0, 0.0, 150000.0), (1, 150000.0, 280000.0), (2, 280000.0, 999999.0)],
        "band_id int, lo double, hi double",
    )
    a = sorted(
        (r["o_orderkey"], r["band_id"])
        for r in interval_join(o, bands, "o_totalprice", "lo", "hi").collect()
    )
    b = sorted(
        (r["o_orderkey"], r["band_id"])
        for r in interval_join(
            o, bands, "o_totalprice", "lo", "hi", cell_width=50000.0
        ).collect()
    )
    assert a == b and len(a) > 0


def test_compaction_shrinks_file_count(spark, tmp_path, sf_small):
    """Compaction rewrites a many-small-files dataset into the planned
    ceil(bytes/target) files, preserving every row; coalesce path adds
    no shuffle."""
    import glob

    from etl_lorettoscarpa_1asfb2jf21_spark.operators.compaction import (
        compact_parquet,
        dataset_bytes,
        plan_target_files,
    )
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    orders = load_table(spark, sf_small, "orders")
    orders.repartition(40).write.parquet(src)
    assert len(glob.glob(src + "/part-*.parquet")) == 40

    total = dataset_bytes(spark, src)
    assert total > 0
    # pick a target that plans a small, >1 file count to exercise the math
    target = total // 3
    n = compact_parquet(spark, src, dst, target_file_bytes=target)
    assert n == plan_target_files(total, target)
    assert len(glob.glob(dst + "/part-*.parquet")) == n
    before = sorted(r["o_orderkey"] for r in spark.read.parquet(src).collect())
    after = sorted(r["o_orderkey"] for r in spark.read.parquet(dst).collect())
    assert before == after


def test_connected_components_labels_min_id(spark):
    """Min-label propagation: chain {1-2-3}, pair {10,11}, isolate {99} —
    every node gets the component's minimum id, even across multi-hop
    chains (label must traverse, not just look one edge away)."""
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.graph import (
        connected_components,
        duplicate_clusters,
    )

    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 99]], ["id"])
    edges = spark.createDataFrame([(2, 1), (2, 3), (10, 11)], ["src", "dst"])
    got = {
        r["id"]: r["component"]
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}

    clusters = duplicate_clusters(
        nodes.withColumnRenamed("id", "doc_id"),
        edges.withColumnRenamed("src", "id_a").withColumnRenamed("dst", "id_b"),
        "doc_id",
    )
    canon = {r["doc_id"]: r["is_canonical"] for r in clusters.collect()}
    assert canon == {1: True, 2: False, 3: False, 10: True, 11: False, 99: True}


def test_connected_components_long_chain_converges(spark):
    """A 12-node path graph needs ~diameter rounds; the loop must converge
    (not stop after one round) and still produce one component."""
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.graph import connected_components

    n = 12
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["src", "dst"])
    got = {r["id"]: r["component"] for r in connected_components(nodes, edges).collect()}
    assert got == {i: 0 for i in range(n)}


def test_scd2_merge_tracks_history(spark):
    """Type-2 merge: changed attrs close the old version and append a new
    current one; new keys insert; unchanged and absent keys pass through;
    re-merging the same snapshot is a no-op (idempotence)."""
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.scd import scd2_init, scd2_merge

    dim = scd2_init(
        spark.createDataFrame(
            [(1, "Casa", "Fixa"), (2, "Trabalho", "Fixa"), (3, "Lazer", "Variável")],
            "id_grupo long, nome string, classe string",
        ),
        "2024-01-01",
    )
    updates = spark.createDataFrame(
        # id 1 changed, id 2 unchanged, id 4 new, id 3 absent
        [(1, "Casa", "Variável"), (2, "Trabalho", "Fixa"), (4, "Saúde", "Fixa")],
        "id_grupo long, nome string, classe string",
    )
    merged = scd2_merge(dim, updates, ["id_grupo"], ["nome", "classe"], "2024-02-01")
    rows = {
        (r["id_grupo"], str(r["valid_from"]), r["is_current"]): (
            r["classe"],
            str(r["valid_to"]),
        )
        for r in merged.collect()
    }
    assert len(rows) == 5
    # old version of id 1 closed at the merge date
    assert rows[(1, "2024-01-01", False)] == ("Fixa", "2024-02-01")
    # new current version of id 1 carries the changed attribute
    assert rows[(1, "2024-02-01", True)] == ("Variável", "None")
    # unchanged / absent keys untouched
    assert rows[(2, "2024-01-01", True)][0] == "Fixa"
    assert rows[(3, "2024-01-01", True)][0] == "Variável"
    # new key inserted as current
    assert rows[(4, "2024-02-01", True)] == ("Fixa", "None")

    # idempotence: merging the identical snapshot again changes nothing
    again = scd2_merge(merged, updates, ["id_grupo"], ["nome", "classe"], "2024-03-01")
    assert again.count() == merged.count()
    assert again.filter(F.col("valid_from") == "2024-03-01").count() == 0


def test_connected_components_chain_converges_in_log_rounds(spark):
    """Pointer-doubling: a 60-node path graph (diameter 59) must converge
    well inside max_iter=8 (2^8 ≫ 59 after halving each round)."""
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.graph import connected_components

    n = 60
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(nodes, edges, max_iter=8).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_scd2_second_change_preserves_prior_history(spark):
    """Regression: a key changing a SECOND time must keep its first-version
    history row — only the live row closes, immutable history survives."""
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.scd import scd2_init, scd2_merge

    dim = scd2_init(
        spark.createDataFrame([(1, "v1")], "k long, attr string"), "2024-01-01"
    )
    m1 = scd2_merge(
        dim,
        spark.createDataFrame([(1, "v2")], "k long, attr string"),
        ["k"],
        ["attr"],
        "2024-02-01",
    )
    m2 = scd2_merge(
        m1,
        spark.createDataFrame([(1, "v3")], "k long, attr string"),
        ["k"],
        ["attr"],
        "2024-03-01",
    )
    rows = {
        (r["attr"], str(r["valid_from"]), str(r["valid_to"]), r["is_current"])
        for r in m2.collect()
    }
    assert rows == {
        ("v1", "2024-01-01", "2024-02-01", False),
        ("v2", "2024-02-01", "2024-03-01", False),
        ("v3", "2024-03-01", "None", True),
    }


def test_register_views_enables_adhoc_sql(spark, sf_small):
    """EP3: after register_views, arbitrary SQL runs against the testdata —
    the Metabase-over-warehouse consumption pattern on Spark SQL."""
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import register_views

    register_views(spark, sf_small)
    row = spark.sql(
        """
        SELECT r_name, COUNT(*) AS n
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY n DESC, r_name LIMIT 1
        """
    ).collect()[0]
    assert row["n"] > 0 and row["r_name"]


def test_pq_topk_finds_true_neighbors(spark):
    """PQ/ADC with exact re-rank must find the true nearest neighbor for
    well-separated vectors (each axis-cluster quantizes to its own code)."""
    import numpy as np

    from etl_lorettoscarpa_1asfb2jf21_spark.operators.similarity import pq_topk

    rng = np.random.default_rng(7)
    base = np.eye(8)  # 8 well-separated directions in 8-dim space
    rows = []
    for i in range(64):
        v = base[i % 8] + rng.normal(0, 0.05, 8)
        rows.append((i, [float(x) for x in v]))
    corpus = spark.createDataFrame(rows, "c_id long, c_vec array<float>")
    queries = spark.createDataFrame(
        [(100 + j, [float(x) for x in base[j]]) for j in range(4)],
        "q_id long, q_vec array<float>",
    )
    got = pq_topk(
        queries, corpus, k=8, n_subspaces=4, n_codes=8
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append(r["c_id"])
    for j in range(4):
        # every returned neighbor of query j must come from cluster j
        assert by_q[100 + j], f"query {j} returned nothing"
        assert all(c % 8 == j for c in by_q[100 + j][:4])


def test_pq_topk_wide_batch_is_width_free(spark):
    """A 10k-query batch must flow through pq_topk without any driver
    materialization of the queries: the LUT is a map-side projection
    (plan contains no per-query literals — plan size is width-free), the
    wide path returns the same rows as the broadcast path, and results
    agree with the narrow-batch call for a sampled query."""
    import numpy as np

    from etl_lorettoscarpa_1asfb2jf21_spark.operators.similarity import pq_topk

    rng = np.random.default_rng(11)
    base = np.eye(8)
    corpus = spark.createDataFrame(
        [
            (i, [float(x) for x in base[i % 8] + rng.normal(0, 0.05, 8)])
            for i in range(64)
        ],
        "c_id long, c_vec array<float>",
    )
    # 10k queries derived DISTRIBUTEDLY (range → expression vector):
    # no driver-side row list anywhere
    queries = spark.range(10_000).select(
        F.col("id").alias("q_id"),
        F.expr(
            "transform(sequence(0, 7), "
            "j -> CAST(CASE WHEN j = id % 8 THEN 1.0 ELSE 0.0 END AS FLOAT))"
        ).alias("q_vec"),
    )
    wide = pq_topk(
        queries, corpus, k=4, n_subspaces=4, n_codes=8, wide_queries=True
    )
    # width-free plan: no thousands-deep literal structs; the query side
    # stays a Range scan (nothing driver-materialized)
    plan = wide._jdf.queryExecution().analyzed().toString()
    assert "Range (0, 10000" in plan
    assert len(plan) < 200_000  # per-query literals would be megabytes
    counts = wide.groupBy("q_id").count()
    n_q = counts.count()
    assert n_q == 10_000
    # sampled-query agreement with the narrow broadcast path
    one = spark.createDataFrame(
        [(3, [0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0])],
        "q_id long, q_vec array<float>",
    )
    got_wide = sorted(
        (r["c_id"], r["rank"])
        for r in wide.filter(F.col("q_id") == 3).collect()
    )
    got_narrow = sorted(
        (r["c_id"], r["rank"])
        for r in pq_topk(one, corpus, k=4, n_subspaces=4, n_codes=8).collect()
    )
    assert got_wide == got_narrow


def test_pq_arrow_encoder_matches_native(spark):
    """The Arrow PQ encoder must produce the same top-k as the native
    argmin-over-literals path (same codebooks, same seed)."""
    import random

    from etl_lorettoscarpa_1asfb2jf21_spark.operators.similarity import pq_topk

    rng = random.Random(3)
    corpus = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(60)],
        "c_id long, c_vec array<float>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0] + [0.0] * 7)], "q_id long, q_vec array<float>"
    )
    kw = dict(k=5, n_subspaces=4, n_codes=8)
    native = {(r["q_id"], r["c_id"], r["rank"])
              for r in pq_topk(queries, corpus, use_arrow=False, **kw).collect()}
    arrow = {(r["q_id"], r["c_id"], r["rank"])
             for r in pq_topk(queries, corpus, use_arrow=True, **kw).collect()}
    assert arrow == native


def test_pagerank_scaled_matches_reference_recurrence(spark):
    """pagerank_scaled reproduces the exact integer recurrence on a small
    directed graph (computed here in plain Python), including a dangling
    node (3 has no out-edges) and a node with no in-edges (1)."""
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.graph import pagerank_scaled

    edge_list = [(1, 2), (1, 3), (2, 3), (4, 2), (4, 1)]
    edges = spark.createDataFrame(edge_list, ["src", "dst"])

    scale, d, n_iter = 10**9, 85, 5
    nodes = sorted({u for e in edge_list for u in e})
    out = {}
    for s, _ in edge_list:
        out[s] = out.get(s, 0) + 1
    rank = {v: scale for v in nodes}
    base = scale * (100 - d) // 100
    for _ in range(n_iter):
        s = {v: 0 for v in nodes}
        for u, v in edge_list:
            s[v] += rank[u] // out[u]
        rank = {v: base + (d * s[v]) // 100 for v in nodes}

    got = {
        r["node"]: r["rank"]
        for r in pagerank_scaled(edges, n_iter=n_iter, scale=scale).collect()
    }
    assert got == rank
    # dropped dangling mass: totals strictly below n*scale but positive
    assert 0 < sum(got.values()) < len(nodes) * scale


def test_ngram_jaccard_prefix_matches_allpairs(spark):
    """Prefix-filtered candidate generation (the oversized-block scale path)
    must produce EXACTLY the all-pairs result — same pairs, same jaccard.
    Includes docs below/above the size bound, cross-block non-pairs, and an
    identical pair (jaccard 1.0)."""
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    rows = [
        (1, "b1", "the quick brown fox jumps over the lazy dog"),
        (2, "b1", "the quick brown fox jumps over the lazy cat"),
        (3, "b1", "the quick brown fox jumps over the lazy dog"),
        (4, "b1", "completely different words entirely here now"),
        (5, "b2", "the quick brown fox jumps over the lazy dog"),  # other block
        (6, "b1", "short text"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "blk", "text"])
    kw = dict(n=3, threshold=0.3)
    ap = {
        (r.id_a, r.id_b, round(r.jaccard, 12))
        for r in ngram_jaccard_pairs(
            df, "text", "doc_id", "blk", strategy="allpairs", **kw
        ).collect()
    }
    pf = {
        (r.id_a, r.id_b, round(r.jaccard, 12))
        for r in ngram_jaccard_pairs(
            df, "text", "doc_id", "blk", strategy="prefix", **kw
        ).collect()
    }
    assert ap == pf
    assert (1, 3, 1.0) in {(a, b, j) for a, b, j in ap}
    assert not any(5 in (a, b) for a, b, _ in ap)  # block isolation


def test_lsh_portable_matches_arrow_kernel(spark, sf_small):
    """The portable fold path (catalog/oracle form) and the Arrow matmul
    kernel (production default) must bucket identically on the fixed
    testdata — the only divergence mechanism is a sign flip at an exact
    zero crossing of a hyperplane dot, which this data does not produce.
    Pinning equality here turns that observation into a regression gate."""
    from pyspark.sql import functions as F

    from etl_lorettoscarpa_1asfb2jf21_spark.operators.similarity import lsh_topk
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table

    e = load_table(spark, sf_small, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    kw = dict(k=10, dim=64, planes=16, bands=4)
    arrow = {
        (r.q_id, r.c_id, r.rank)
        for r in lsh_topk(queries, corpus, use_arrow=True, **kw).collect()
    }
    portable = {
        (r.q_id, r.c_id, r.rank)
        for r in lsh_topk(queries, corpus, use_arrow=False, **kw).collect()
    }
    assert arrow == portable


def test_ivf_quantized_recall_and_determinism(spark, sf_small):
    """The fixed-point IVF: (a) finds most of the true top-10 (recall floor
    on the fixed testdata), (b) is run-to-run deterministic — the property
    the integer recurrence exists to guarantee (float k-means is not)."""
    from pyspark.sql import functions as F

    from etl_lorettoscarpa_1asfb2jf21_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk_quantized,
    )
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table

    e = load_table(spark, sf_small, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    run1 = {
        (r.q_id, r.c_id, r.rank)
        for r in ivf_topk_quantized(q, c, k=10).collect()
    }
    run2 = {
        (r.q_id, r.c_id, r.rank)
        for r in ivf_topk_quantized(q, c, k=10).collect()
    }
    assert run1 == run2
    exact = {(r.q_id, r.c_id) for r in brute_force_topk(q, c, k=10).collect()}
    hits = {(a, b) for a, b, _ in run1} & exact
    assert len(hits) / len(exact) >= 0.5


def test_pq_quantized_recall_and_determinism(spark, sf_small):
    """Fixed-point PQ: recall floor through the ADC shortlist + re-rank,
    and run-to-run determinism (the integer-recurrence guarantee)."""
    from pyspark.sql import functions as F

    from etl_lorettoscarpa_1asfb2jf21_spark.operators.similarity import (
        brute_force_topk,
        pq_topk_quantized,
    )
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table

    e = load_table(spark, sf_small, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    run1 = {
        (r.q_id, r.c_id, r.rank) for r in pq_topk_quantized(q, c, k=10).collect()
    }
    run2 = {
        (r.q_id, r.c_id, r.rank) for r in pq_topk_quantized(q, c, k=10).collect()
    }
    assert run1 == run2
    exact = {(r.q_id, r.c_id) for r in brute_force_topk(q, c, k=10).collect()}
    hits = {(a, b) for a, b, _ in run1} & exact
    assert len(hits) / len(exact) >= 0.5


def test_centroid_training_sample_covers_sorted_by_domain_frame(spark):
    """train_unit_centroids must draw its bounded sample corpus-wide, not
    from the first rows scanned: on a frame laid out by domain (all of
    cluster A before all of cluster B, far more rows than the sample
    budget), the trained centroids must cover BOTH clusters. The old
    `.limit()` fetch read only the head — every sampled row came from
    cluster A and both centroids landed positive."""
    import random

    from etl_lorettoscarpa_1asfb2jf21_spark.operators.similarity import (
        train_unit_centroids,
    )

    rng = random.Random(11)
    rows = [(i, [1.0 + rng.gauss(0, 0.05) for _ in range(4)]) for i in range(500)]
    rows += [
        (500 + i, [-1.0 + rng.gauss(0, 0.05) for _ in range(4)]) for i in range(500)
    ]
    # one ordered partition = the worst-case "first files scanned" layout
    corpus = spark.createDataFrame(rows, ["c_id", "c_vec"]).coalesce(1)
    cents = train_unit_centroids(corpus, "c_vec", n_centroids=2, sample_per_cell=50)
    # budget = 100 of 1000 rows; the md5-ordered draw mixes clusters, so
    # exactly one unit centroid must sit in the negative orthant
    signs = {c[0] > 0 for _, c in cents}
    assert signs == {True, False}


def test_pq_quantized_int_kernel_matches_expression(spark, sf_small):
    """The exact-integer PQ encode kernel (pq_codes_int_batch_udf) is
    bit-identical to the native per-subspace min(d2*n_codes + code)
    expression path — full result-set equality, so the pqq oracle hash
    is unaffected by the kernel."""
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.similarity import (
        pq_topk_quantized,
    )
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table

    e = load_table(spark, sf_small, "embeddings")
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = e.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    kw = dict(k=5, n_subspaces=8, n_codes=8, n_iter=2, shortlist=20)
    got_a = sorted(
        (r["q_id"], r["c_id"], r["rank"], r["sim"])
        for r in pq_topk_quantized(queries, corpus, use_arrow=True, **kw).collect()
    )
    got_e = sorted(
        (r["q_id"], r["c_id"], r["rank"], r["sim"])
        for r in pq_topk_quantized(queries, corpus, use_arrow=False, **kw).collect()
    )
    assert got_a == got_e
    assert len(got_a) > 0


def test_unrolled_lloyd_matches_kernel_chain(spark, sf_small, monkeypatch):
    """The all-JVM unrolled Lloyd plan (similarity._unrolled_pq_lloyd —
    the small-corpus side of the round-13 regime gate) must be
    bit-identical to the kernel-chain recurrence (the at-scale side):
    identical coarse centroids + assignment, identical PQ/IVFADC
    codebooks and code tables. This is the equality the oracle relies on —
    the gate may switch plans, never values."""
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.similarity import (
        build_ivfpq_index,
        build_pq_index,
        quantized_kmeans_cells,
    )
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table

    e = load_table(spark, sf_small, "embeddings").select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )

    def kmeans_snap():
        c, a = quantized_kmeans_cells(
            e, n_centroids=8, n_iter=2, with_vec=True
        )
        return (
            sorted((r["_cell"], tuple(r["_cvec"])) for r in c.collect()),
            sorted(
                (r["c_id"], r["_cell"], tuple(r["_qv"])) for r in a.collect()
            ),
        )

    def pq_snap():
        idx = build_pq_index(e, n_subspaces=8, n_codes=8, n_iter=2, dim=64)
        return (
            sorted(
                (r["_sub"], r["_cell"], tuple(r["_cv"]))
                for r in idx["codebook"].collect()
            ),
            sorted(
                (r["c_id"], tuple(r["_codes"])) for r in idx["codes"].collect()
            ),
        )

    def ivfpq_snap():
        idx = build_ivfpq_index(
            e, n_centroids=4, n_subspaces=8, n_codes=8, n_iter=2, dim=64
        )
        return (
            sorted(
                (r["_sub"], r["_cell"], tuple(r["_cv"]))
                for r in idx["codebook"].collect()
            ),
            sorted(
                (r["c_id"], r["_cell"], tuple(r["_codes"]))
                for r in idx["codes"].collect()
            ),
            sorted(
                (r["_cell"], tuple(r["_cvec"]))
                for r in idx["centroids"].collect()
            ),
        )

    for snap in (kmeans_snap, pq_snap, ivfpq_snap):
        monkeypatch.setenv("SPARK_GRAFT_KMEANS_UNROLL_MAX", "0")  # kernel chain
        kern = snap()
        monkeypatch.setenv("SPARK_GRAFT_KMEANS_UNROLL_MAX", "1000000")  # unrolled
        unrolled = snap()
        assert kern == unrolled, f"{snap.__name__} diverged across the gate"
        assert len(kern[0]) > 0


def test_ivfpq_quantized_recall_and_determinism(spark, sf_small):
    """IVF-PQ (IVFADC): recall floor through probe + residual-ADC +
    re-rank, run-to-run determinism (pure integer recurrence), and
    cell-restriction sanity — every result must come from a probed
    coarse cell."""
    from pyspark.sql import functions as F

    from etl_lorettoscarpa_1asfb2jf21_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk_quantized,
    )
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table

    e = load_table(spark, sf_small, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    kw = dict(k=10, n_centroids=8, nprobe=4, n_subspaces=8, n_codes=16)
    run1 = {
        (r.q_id, r.c_id, r.rank)
        for r in ivfpq_topk_quantized(q, c, **kw).collect()
    }
    run2 = {
        (r.q_id, r.c_id, r.rank)
        for r in ivfpq_topk_quantized(q, c, **kw).collect()
    }
    assert run1 == run2
    exact = {(r.q_id, r.c_id) for r in brute_force_topk(q, c, k=10).collect()}
    hits = {(a, b) for a, b, _ in run1} & exact
    # nprobe/n_centroids = half the corpus scanned; i.i.d. vectors ->
    # expect roughly half the true top-10 reachable, floor at 0.4
    assert len(hits) / len(exact) >= 0.4

    full = ivfpq_topk_quantized(q, c, n_centroids=8, nprobe=8, **{
        k_: v for k_, v in kw.items() if k_ not in ("n_centroids", "nprobe")
    })
    assert full.count() > 0  # probing every cell degrades gracefully


def test_ivfpq_string_query_id(spark, sf_small):
    """The signature advertises arbitrary id columns: a STRING query_id
    must flow through the probe/ADC join unharmed (regression for the
    concat_ws key-packing that NULL-cast non-integer ids and silently
    returned zero rows)."""
    from pyspark.sql import functions as F

    from etl_lorettoscarpa_1asfb2jf21_spark.operators.similarity import (
        ivfpq_topk_quantized,
    )
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table

    e = load_table(spark, sf_small, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.concat(F.lit("query-"), F.col("vec_id")).alias("q_id"),
        F.col("embedding").alias("q_vec"),
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    got = ivfpq_topk_quantized(
        q, c, k=5, n_centroids=4, nprobe=2, n_subspaces=8, n_codes=8
    ).collect()
    assert {r.q_id for r in got} == {"query-0", "query-1", "query-2"}
    assert all(r.rank <= 5 for r in got)


def test_emit_anchored_dedup_reemits_once_per_horizon(spark):
    """Emit-anchored contract: a chain of events each 40min apart under a
    60min horizon re-emits once per horizon (t0 kept, t0+40 and t0+80-40
    ... suppressed relative to the ANCHOR, next keep at the first event
    >60min after the last keep) — unlike sliding-gap, which keeps only
    the chain head."""
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.dedup import (
        emit_anchored_dedup,
    )

    minute = 60_000_000
    rows = [(i, 1, "click", i * 40 * minute) for i in range(5)]  # 0,40,80,120,160
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, _us long"
    )
    kept = sorted(
        r["event_id"]
        for r in emit_anchored_dedup(
            df, ["user_id", "event_type"], "_us", ["_us", "event_id"],
            horizon_us=60 * minute,
        ).collect()
    )
    # anchors: 0 -> keep; 40 (gap 40) drop; 80 (gap 80 > 60) keep;
    # 120 (gap 40) drop; 160 (gap 80) keep
    assert kept == [0, 2, 4]


# ---------------------------------------------------------------------
# BPE train/encode (operators/bpe.py)


def test_bpe_train_classic_merges(spark):
    """Sennrich et al.'s running example: with 'lower' twice and 'low'
    three times, the first merges must assemble the frequent subwords in
    frequency order with deterministic tie-breaks."""
    docs = spark.createDataFrame(
        [(1, "low low low lower lower newest newest")], ["doc_id", "text"]
    )
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.bpe import bpe_train

    vocab = {
        r["word"]: r["sym"] for r in bpe_train(docs, n_merges=3).collect()
    }
    # pair counts at step 1: (l,o)=5, (o,w)=5, (w,e)=4(2 lower+2 newest)...
    # tie (l,o) vs (o,w) breaks to (l,o) by string order; step 2 merges
    # (lo,w)=5; step 3 merges the next 4-count pair, (e,s)<(w,e) on ties
    # only if counts tie — here (w,e)=2 after 'low' merged, (e,s)=2,
    # (e,w)=2, (s,t)=2, (er,..)... count for lower-specific pairs is 2.
    assert vocab["low"] == "low"
    assert vocab["lower"].startswith("low")


def test_bpe_overlapping_run_merges_leftmost(spark):
    """Rule (a, a) over 'aaa' must merge leftmost-first: aa + a."""
    docs = spark.createDataFrame([(1, "aaa aaa")], ["doc_id", "text"])
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.bpe import bpe_train

    vocab = {r["word"]: r["sym"] for r in bpe_train(docs, n_merges=1).collect()}
    assert vocab["aaa"] == "aa  a"


def test_bpe_encode_counts_and_order(spark):
    docs = spark.createDataFrame(
        [(1, "ab ab cd"), (2, "cd ab")], ["doc_id", "text"]
    )
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.bpe import (
        bpe_encode,
        bpe_train,
    )

    vocab = bpe_train(docs, n_merges=1)  # merges (a,b): count 3 > (c,d): 2
    out = {r["doc_id"]: r for r in bpe_encode(docs, vocab).collect()}
    assert out[1]["n_tokens"] == 4  # ab, ab, c, d
    assert out[2]["n_tokens"] == 3  # c, d, ab
    # order-sensitivity: same multiset of words in different order must
    # produce different token-stream hashes
    docs_rev = spark.createDataFrame([(3, "cd ab ab")], ["doc_id", "text"])
    out3 = bpe_encode(docs_rev, vocab).collect()[0]
    assert out3["n_tokens"] == 4
    assert out3["tok_hash"] != out[1]["tok_hash"]


def test_derived_shortlist_matches_sql_twin():
    """The corpus-scaled re-rank depth (max(1000, ceil(n/200))) must agree
    bit-for-bit between the Python derivation (derived_shortlist) and the
    DuckDB scalar-subquery twin (_DERIVED_SHORTLIST_SQL) at every corpus
    size — including the ceil-div edges — or the PQ/IVF-PQ/BQ oracle
    hashes drift the moment sf changes."""
    import duckdb

    from etl_lorettoscarpa_1asfb2jf21_spark.operators.similarity import (
        derived_shortlist,
    )

    for n in (1, 199, 200, 201, 199_999, 200_000, 200_001, 2_000_000,
              2_000_001, 10**9):
        got = duckdb.sql(
            f"SELECT GREATEST(1000, ({n} + 199) // 200)"
        ).fetchone()[0]
        assert got == derived_shortlist(n), n


def test_per_key_topn_equals_naive_window(spark):
    """per_key_topn (two-phase distributed head) must return EXACTLY the
    rows and ranks of the naive per-key window over a total order — the
    guarantee that lets the ANN scan stages swap it in without touching
    their DuckDB oracles."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_lorettoscarpa_1asfb2jf21_spark.operators.similarity import (
        per_key_topn,
    )

    rng = random.Random(3)
    rows = [
        (i % 7, i, rng.randrange(50))  # ties in _v are common (50 values)
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows, ["k", "id", "_v"]).repartition(16)
    got = {
        (r["k"], r["id"], r["_sr"])
        for r in per_key_topn(
            df, ["k"], [F.col("_v"), F.col("id")], 9
        ).collect()
    }
    w = Window.partitionBy("k").orderBy(F.col("_v"), F.col("id"))
    want = {
        (r["k"], r["id"], r["_sr"])
        for r in df.withColumn("_sr", F.row_number().over(w))
        .filter(F.col("_sr") <= 9)
        .collect()
    }
    assert got == want and len(want) == 7 * 9


def test_ivfbq_recall_and_determinism(spark, sf_small):
    """IVF-BQ composition: recall floor through probe + Hamming shortlist
    + re-rank, and run-to-run determinism (integer recurrence + sign
    codes)."""
    from pyspark.sql import functions as F

    from etl_lorettoscarpa_1asfb2jf21_spark.operators.similarity import (
        brute_force_topk,
        ivfbq_topk,
    )
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table

    e = load_table(spark, sf_small, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    kw = dict(k=10, n_centroids=8, nprobe=4, dim=64)
    run1 = {(r.q_id, r.c_id, r.rank) for r in ivfbq_topk(q, c, **kw).collect()}
    run2 = {(r.q_id, r.c_id, r.rank) for r in ivfbq_topk(q, c, **kw).collect()}
    assert run1 == run2
    exact = {(r.q_id, r.c_id) for r in brute_force_topk(q, c, k=10).collect()}
    hits = {(a, b) for a, b, _ in run1} & exact
    # nprobe/n_centroids = half the corpus scanned, derived shortlist
    # >= corpus at this sf -> recall loss comes only from unprobed cells
    assert len(hits) / len(exact) >= 0.4


def test_ann_served_equals_one_shot(spark, sf_small):
    """Build/serve split contract: for every index family, building the
    index, round-tripping it through parquet (save_ann_index /
    load_ann_index) and searching the LOADED artifacts returns exactly
    the one-shot *_topk pipeline's rows — the property that lets a
    deployment amortize the build while keeping the oracle-checked
    semantics."""
    import tempfile

    from pyspark.sql import functions as F

    from etl_lorettoscarpa_1asfb2jf21_spark.operators import similarity as s
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table

    e = load_table(spark, sf_small, "embeddings")
    q = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    fams = {
        "ivf": (
            lambda: s.ivf_topk_quantized(q, c, k=5, n_centroids=4, nprobe=2),
            lambda: s.build_ivf_index(c, n_centroids=4),
            lambda ix: s.search_ivf_index(q, c, ix, k=5, nprobe=2),
        ),
        "pq": (
            lambda: s.pq_topk_quantized(q, c, k=5, n_codes=8, shortlist=64),
            lambda: s.build_pq_index(c, n_codes=8),
            lambda ix: s.search_pq_index(q, c, ix, k=5, shortlist=64),
        ),
        "ivfpq": (
            lambda: s.ivfpq_topk_quantized(
                q, c, k=5, n_centroids=4, nprobe=2, n_codes=8, shortlist=64
            ),
            lambda: s.build_ivfpq_index(c, n_centroids=4, n_codes=8),
            lambda ix: s.search_ivfpq_index(
                q, c, ix, k=5, nprobe=2, shortlist=64
            ),
        ),
        "bq": (
            lambda: s.bq_topk(q, c, k=5, shortlist=64),
            lambda: s.build_bq_index(c),
            lambda ix: s.search_bq_index(q, c, ix, k=5, shortlist=64),
        ),
        "ivfbq": (
            lambda: s.ivfbq_topk(
                q, c, k=5, n_centroids=4, nprobe=2, shortlist=64
            ),
            lambda: s.build_ivfbq_index(c, n_centroids=4),
            lambda ix: s.search_ivfbq_index(
                q, c, ix, k=5, nprobe=2, shortlist=64
            ),
        ),
    }
    with tempfile.TemporaryDirectory() as d:
        for fam, (one_shot, build, search) in fams.items():
            expected = {
                (r.q_id, r.c_id, r.rank) for r in one_shot().collect()
            }
            s.save_ann_index(build(), f"{d}/{fam}")
            ix = s.load_ann_index(spark, f"{d}/{fam}")
            served = {(r.q_id, r.c_id, r.rank) for r in search(ix).collect()}
            assert served == expected, fam


def test_ann_index_meta_validation(spark, sf_small):
    """The index meta artifact (round 8): searches fail fast on build-
    parameter mismatches that would silently return wrong neighbors,
    the family tag is checked, the stored corpus count feeds the
    derived shortlist without a per-batch corpus scan, and the meta
    survives the parquet round-trip."""
    import tempfile

    import pytest
    from pyspark.sql import functions as F

    from etl_lorettoscarpa_1asfb2jf21_spark.operators import similarity as s
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table

    e = load_table(spark, sf_small, "embeddings")
    q = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    n_corpus = c.count()

    ix = s.build_pq_index(c, n_subspaces=8, n_codes=8)
    meta = {r["family"]: r for r in ix["meta"].collect()}
    assert meta["pq"]["n_corpus"] == n_corpus
    assert meta["pq"]["n_subspaces"] == 8

    # wrong n_subspaces at search time: partial _sub join -> fail fast
    with pytest.raises(ValueError, match="n_subspaces"):
        s.search_pq_index(q, c, ix, k=5, n_subspaces=16)
    # wrong family: a bq search against a pq index
    with pytest.raises(ValueError, match="family"):
        s.search_bq_index(q, c, ix, k=5)
    # matching params pass, shortlist=None derives from the stored count
    assert s.search_pq_index(q, c, ix, k=5, n_subspaces=8).count() > 0
    assert ix["_meta_cache"]["n_corpus"] == n_corpus  # memoized, no rescan

    # meta round-trips through save/load and still validates
    with tempfile.TemporaryDirectory() as d:
        s.save_ann_index(ix, f"{d}/pq")
        loaded = s.load_ann_index(spark, f"{d}/pq")
        assert "meta" in loaded
        with pytest.raises(ValueError, match="n_subspaces"):
            s.search_pq_index(q, c, loaded, k=5, n_subspaces=4)


def test_pq_sparse_codebook_fails_loudly(spark, sf_small):
    """The wide-code ADC fold indexes the flattened LUT positionally
    (_sub*n_codes + code) — valid only for a DENSE codebook. A corpus
    with fewer distinct sub-vectors than n_codes trains a sparse one;
    searching it must raise the density assert, not return silently
    shifted neighbors."""
    import pytest
    from pyspark.sql import functions as F

    from etl_lorettoscarpa_1asfb2jf21_spark.operators import similarity as s
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table

    e = load_table(spark, sf_small, "embeddings")
    q = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    ix = s.build_pq_index(c, n_subspaces=8, n_codes=8)  # 3 rows < 8 codes
    with pytest.raises(Exception, match="not dense"):
        s.search_pq_index(q, c, ix, k=2, shortlist=8).collect()


def test_quantized_bucket_matmul_blocks_match_single_group(spark):
    """The block-pair decomposition (scale path: bounded per-task Gram
    work, task count grows with data) must emit EXACTLY the single-group
    path's pairs and sims — forced here by a block_size small enough that
    real buckets split into several blocks."""
    import random

    from pyspark.sql import functions as F

    from etl_lorettoscarpa_1asfb2jf21_spark.functions.vectors import (
        normalize_expr,
        quantize_unit_expr,
    )
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.similarity import (
        _explode_band_buckets,
        _hyperplanes,
        _quantized_bucket_matmul_pairs,
    )

    rng = random.Random(5)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(400)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    hps = _hyperplanes(16, 8, 42)
    norm = df.select(
        F.col("vec_id").alias("_pid"), normalize_expr("embedding").alias("_v")
    )
    bq = _explode_band_buckets(
        norm.select("_pid", quantize_unit_expr("_v").alias("_q"), "_v"),
        "_v", hps, 4, use_arrow=False,
    ).select(
        F.col("_pid").alias("_id"), F.col("_q"),
        F.col("_band").alias("band"), F.col("_bucket").alias("bucket"),
    )

    def run(bs):
        out = _quantized_bucket_matmul_pairs(bq, 0.1, block_size=bs)
        return sorted(
            (r["id_a"], r["id_b"], r["sim"])
            for r in out.dropDuplicates(["id_a", "id_b"]).collect()
        )

    single = run(10**9)
    blocked = run(7)  # ~2^8/4... buckets of ~100 members -> ~15 blocks
    assert len(single) > 50
    assert blocked == single
