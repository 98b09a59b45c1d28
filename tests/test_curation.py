"""Tests for the curation/layout round: SemDeDup semantic dedup and
Z-order clustering. (er1 / x1_dedup_resolve / opt2's key computation are
fully DuckDB-oracle-checked via the driver gate; these tests cover the
properties the oracle can't express — dedup invariants and layout
tightness.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_lorettoscarpa_1asfb2jf21_spark.functions.vectors import (
    array_lit,
    cosine_similarity_expr,
    dot_expr,
    normalize_expr,
)
from etl_lorettoscarpa_1asfb2jf21_spark.operators.similarity import (
    semantic_dedup,
    train_unit_centroids,
)
from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table

THRESH = 0.3


def test_semantic_dedup_invariants(spark, sf_small):
    """Precision is exact by construction; verify it, plus within-cell
    completeness: a kept vector has NO lower-id same-cell neighbor at
    cosine >= threshold, and a pruned vector HAS one (its pruned_by)."""
    e = load_table(spark, sf_small, "embeddings")
    res = semantic_dedup(e, "vec_id", "embedding", threshold=THRESH, n_centroids=8)
    res.cache()

    n = e.count()
    assert res.count() == n  # one verdict per vector
    assert res.filter(F.col("is_kept") & F.col("pruned_by").isNotNull()).count() == 0

    vecs = e.select(F.col("vec_id"), F.col("embedding"))

    # precision: every pruned row's dominator is lower-id, same-cell, and
    # actually >= threshold cosine
    pruned = res.filter(~F.col("is_kept"))
    assert pruned.filter(F.col("pruned_by") >= F.col("vec_id")).count() == 0
    cells = res.select("vec_id", "cell")
    dom_cell = (
        pruned.join(
            cells.select(F.col("vec_id").alias("pruned_by"), F.col("cell").alias("_dc")),
            "pruned_by",
        )
        .filter(F.col("cell") != F.col("_dc"))
        .count()
    )
    assert dom_cell == 0
    bad_sim = (
        pruned.join(vecs, "vec_id")
        .join(
            vecs.select(
                F.col("vec_id").alias("pruned_by"), F.col("embedding").alias("_e2")
            ),
            "pruned_by",
        )
        .withColumn("_sim", cosine_similarity_expr("embedding", "_e2"))
        .filter(F.col("_sim") < THRESH)
        .count()
    )
    assert bad_sim == 0

    # within-cell completeness: no kept vector has a lower-id same-cell
    # neighbor above threshold
    wv = res.join(vecs, "vec_id")
    a = wv.select(
        F.col("cell"), F.col("vec_id").alias("_ia"), F.col("embedding").alias("_va")
    )
    b = wv.filter(F.col("is_kept")).select(
        F.col("cell"), F.col("vec_id").alias("_ib"), F.col("embedding").alias("_vb")
    )
    missed = (
        a.join(b, "cell")
        .filter(F.col("_ia") < F.col("_ib"))
        .withColumn("_sim", cosine_similarity_expr("_va", "_vb"))
        .filter(F.col("_sim") >= THRESH)
        .count()
    )
    assert missed == 0
    res.unpersist()


def test_semantic_dedup_prunes_planted_duplicates(spark):
    """Planted near-identical vectors must collapse to one survivor."""
    import math

    base = [[1.0 if i == j else 0.0 for i in range(8)] for j in range(4)]
    rows = []
    vid = 0
    for j, v in enumerate(base):
        for _ in range(3):  # three copies of each distinct direction
            rows.append((vid, [x + 0.001 * vid for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    res = semantic_dedup(df, "vec_id", "embedding", threshold=0.99, n_centroids=4)
    out = {r["vec_id"]: r["is_kept"] for r in res.collect()}
    # per planted triple, exactly one survivor iff the triple shares a cell;
    # copies are near-identical so they MUST land in the same cell
    kept = [v for v, k in out.items() if k]
    assert len(kept) == 4
    assert math.isclose(len(out), 12)


def test_zorder_buckets_tighter_than_single_column_sort(spark, sf_small):
    """Range-bucketing by the z-value must give per-bucket (xk, yd)
    bounding boxes with smaller total area than bucketing by a single
    column — the min/max-stat tightness that makes scans prunable on BOTH
    dimensions. Uses deterministic ntile buckets as the layout proxy."""
    from pyspark.sql import Window

    from etl_lorettoscarpa_1asfb2jf21_spark.queries_catalog_curation import (
        opt2_zorder_cluster,
    )

    z = opt2_zorder_cluster(spark, sf_small)

    def total_bbox_area(df, order_col):
        w = Window.orderBy(order_col)
        b = df.withColumn("_b", F.ntile(16).over(w))
        areas = (
            b.groupBy("_b")
            .agg(
                ((F.max("xk") - F.min("xk")) * (F.max("yd") - F.min("yd"))).alias(
                    "_area"
                )
            )
            .agg(F.sum("_area").alias("_t"))
            .collect()[0]["_t"]
        )
        return areas

    z_area = total_bbox_area(z, "zval")
    k_area = total_bbox_area(z, "o_orderkey")
    assert z_area < k_area * 0.5, (z_area, k_area)


def _plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_er1_plan_is_hash_join(spark, sf_small):
    """The blocking join must stay an equi hash join — never a nested
    loop over dirty x master."""
    from etl_lorettoscarpa_1asfb2jf21_spark.queries_catalog_curation import (
        er1_blocked_fuzzy_join,
    )

    plan = _plan_of(er1_blocked_fuzzy_join(spark, sf_small))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_opt2_zorder_is_map_only(spark, sf_small):
    """Computing the z-value must not shuffle: one scan, zero exchanges."""
    from etl_lorettoscarpa_1asfb2jf21_spark.queries_catalog_curation import (
        opt2_zorder_cluster,
    )

    plan = _plan_of(opt2_zorder_cluster(spark, sf_small))
    assert "Exchange" not in plan


def _native_cells(vec_c: str, centroids, probes: int):
    """The native per-row assignment expression: the ``probes`` cells
    with the highest dot against the unit centroids, ties toward the
    lower cell. A reference for the Arrow assignment kernel."""
    entries = F.array(
        *[
            F.struct(dot_expr(vec_c, array_lit(c)).alias("sim"), F.lit(i).alias("cell"))
            for i, c in centroids
        ]
    )
    ordered = F.array_sort(
        entries,
        lambda a, b: F.when(a["sim"] > b["sim"], -1)
        .when(a["sim"] < b["sim"], 1)
        .otherwise(a["cell"] - b["cell"]),
    )
    return F.transform(F.slice(ordered, 1, probes), lambda e: e["cell"])


def test_semantic_dedup_arrow_matches_native(spark, sf_small):
    """semantic_dedup (Arrow matmul assignment) gives the same (cell,
    verdict, dominator) as the native path: cells from the per-row
    sorted-dot expression, then the within-cell pairs at cosine >=
    threshold."""
    e = load_table(spark, sf_small, "embeddings")
    arrow = {
        r["vec_id"]: (r["cell"], r["is_kept"], r["pruned_by"])
        for r in semantic_dedup(
            e, "vec_id", "embedding", threshold=THRESH, n_centroids=8
        ).collect()
    }

    centroids = train_unit_centroids(e, "embedding", 8)
    cn = e.select("vec_id", normalize_expr("embedding").alias("_v")).withColumn(
        "cell", _native_cells("_v", centroids, 1)[0]
    )
    a = cn.select("cell", F.col("vec_id").alias("_ida"), F.col("_v").alias("_va"))
    b = cn.select("cell", F.col("vec_id").alias("_idb"), F.col("_v").alias("_vb"))
    dominator = {
        r["_idb"]: r["_p"]
        for r in a.join(b, "cell")
        .filter((F.col("_ida") < F.col("_idb")) & (dot_expr("_va", "_vb") >= THRESH))
        .groupBy("_idb")
        .agg(F.min("_ida").alias("_p"))
        .collect()
    }
    native = {
        r["vec_id"]: (
            r["cell"],
            r["vec_id"] not in dominator,
            dominator.get(r["vec_id"]),
        )
        for r in cn.select("vec_id", "cell").collect()
    }
    assert arrow == native
    assert len(native) == e.count() and 0 < len(dominator) < len(native)


def test_semantic_dedup_arrow_node_visible(spark, sf_small):
    """The assignment kernel is one ArrowEvalPython node (checkpoint
    barrier off so the formatted plan can show the subtree); the
    checkpointed production build hides it, so this is the audit that
    test_plans' allowlist check can't perform."""
    e = load_table(spark, sf_small, "embeddings")
    df = semantic_dedup(
        e, "vec_id", "embedding", threshold=THRESH, n_centroids=8, checkpoint=False
    )
    plan = _plan_of(df)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan



def test_ivf_arrow_assignment_matches_native(spark, sf_small):
    """ivf_topk with the Arrow corpus-assignment kernel returns exactly
    the native path's results: corpus cells from the per-row sorted-dot
    expression the queries probe with, so the same candidates and the
    same top-k."""
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.similarity import ivf_topk

    e = load_table(spark, sf_small, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    got = {
        (r["q_id"], r["rank"]): (r["c_id"], round(r["sim"], 9))
        for r in ivf_topk(q, c, k=10).collect()
    }

    centroids = train_unit_centroids(c, "c_vec", 16)
    indexed = c.select("c_id", normalize_expr("c_vec").alias("c_vec")).select(
        "c_id", "c_vec", F.explode(_native_cells("c_vec", centroids, 1)).alias("cell")
    )
    probed = q.select("q_id", normalize_expr("q_vec").alias("q_vec")).select(
        "q_id", "q_vec", F.explode(_native_cells("q_vec", centroids, 4)).alias("cell")
    )
    cands: dict[int, list] = {}
    for r in (
        indexed.join(probed, "cell")
        .select("q_id", "c_id", dot_expr("q_vec", "c_vec").alias("sim"))
        .collect()
    ):
        cands.setdefault(r["q_id"], []).append((-r["sim"], r["c_id"]))
    want = {
        (qid, rank): (cid, round(-neg, 9))
        for qid, rows in cands.items()
        for rank, (neg, cid) in enumerate(sorted(rows)[:10], start=1)
    }
    assert got == want
    assert len(want) == 50


def test_quantized_assignment_arrow_matches_expression(spark, sf_small):
    """quantized_kmeans_cells (the exact-integer Arrow kernel in every
    assignment pass) trains the same centroids and cells as the native
    expression: argmin of the packed ``dist*n_centroids + cell``,
    truncating integer means, empty cells keep their centroid — restated
    here in int64 numpy over the same quantized vectors and md5(id)
    init. Every step is integer arithmetic, so equality is exact."""
    import hashlib

    import numpy as np

    from etl_lorettoscarpa_1asfb2jf21_spark.operators.similarity import (
        quantize_expr,
        quantized_kmeans_cells,
    )

    e = load_table(spark, sf_small, "embeddings").select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    cents, assign = quantized_kmeans_cells(e, n_centroids=8, n_iter=2)
    got_cells = {r["c_id"]: r["_cell"] for r in assign.collect()}
    got_cents = sorted((r["_cell"], list(r["_cvec"])) for r in cents.collect())

    rows = e.select("c_id", quantize_expr("c_vec").alias("_qv")).collect()
    ids = [r["c_id"] for r in rows]
    V = np.array([r["_qv"] for r in rows], dtype=np.int64)
    nc = 8
    init = sorted(
        range(len(ids)),
        key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]),
    )
    C = V[init[:nc]].copy()

    def cells(C):
        d = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return (d * nc + np.arange(nc)).min(axis=1) % nc

    for _ in range(2):
        a = cells(C)
        for j in range(nc):
            if (a == j).any():
                s, n = V[a == j].sum(axis=0), int((a == j).sum())
                C[j] = np.where(s < 0, -((-s) // n), s // n)
    want_cells = dict(zip(ids, cells(C).tolist()))

    assert got_cells == want_cells
    assert got_cents == [(j, C[j].tolist()) for j in range(nc)]
    assert len(got_cells) == e.count() and len(set(want_cells.values())) > 1


def test_incremental_semdedup_judges_batch_against_corpus_only(spark):
    """Asymmetric contract: only batch rows come back; a batch vector
    near a corpus vector is pruned (pruned_by = that corpus id); a batch
    vector near only ANOTHER BATCH vector is kept (intra-batch pairs are
    out of contract); a far-from-everything batch vector is kept."""
    import math

    from etl_lorettoscarpa_1asfb2jf21_spark.operators.similarity import (
        semantic_dedup_incremental_quantized,
    )

    dim = 8
    axis = lambda j, s=1.0: [s if i == j else 0.0 for i in range(dim)]  # noqa: E731
    corpus = spark.createDataFrame(
        [(i, axis(i % 4)) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    batch = spark.createDataFrame(
        [
            (100, axis(0, 0.99)),       # duplicate of corpus direction 0
            (101, axis(5)),             # near batch-only vector 102
            (102, axis(5, 0.98)),
            (103, axis(6)),             # far from everything
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: r
        for r in semantic_dedup_incremental_quantized(
            corpus, batch, threshold=0.9, n_centroids=4, n_iter=2
        ).collect()
    }
    assert set(out) == {100, 101, 102, 103}  # batch rows only
    assert not out[100]["is_kept"] and out[100]["pruned_by"] == 0
    assert out[101]["is_kept"] and out[102]["is_kept"]  # intra-batch pair kept
    assert out[103]["is_kept"]


def test_chunking_boundary_semantics(spark):
    """tp14's chunk-count formula at the exact boundaries: len <= 200 ->
    one chunk; 201 -> two (the second covering the 51-char tail from
    position 151); 350 -> two full chunks; 351 -> three. The md5
    witnesses mean any off-by-one breaks the oracle hash; this pins the
    intended boundary semantics explicitly (ceil((len-50)/150), floor
    1 — written as the identical (len+99)//150 integer form the query
    and its oracle share)."""
    from pyspark.sql import functions as F

    from etl_lorettoscarpa_1asfb2jf21_spark.functions.text import (
        normalized_text_expr,
    )

    rows = [(i, "a" * n) for i, n in enumerate((1, 150, 200, 201, 350, 351))]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    norm = df.select(
        "doc_id", normalized_text_expr("text").alias("_t")
    ).filter(F.length("_t") > 0)
    nc = F.greatest(
        F.lit(1), F.floor((F.length("_t") + F.lit(99)) / F.lit(150))
    )
    counts = {
        r["doc_id"]: r["nc"]
        for r in norm.select("doc_id", nc.alias("nc")).collect()
    }
    assert counts == {0: 1, 1: 1, 2: 1, 3: 2, 4: 2, 5: 3}


def test_dup_spans_maximal_island_merge(spark):
    """x1_dup_spans_maximal's gaps-and-islands semantics: (a) a 9-token
    run shared by two docs = two overlapping duplicated 8-grams that
    must merge into ONE maximal span (start 1, 9 tokens, 2 grams);
    (b) two disjoint shared 8-token runs in the same doc stay two
    islands; (c) a doc with no cross-doc 8-gram emits nothing."""
    import tempfile

    from etl_lorettoscarpa_1asfb2jf21_spark.queries_catalog_pipeline import (
        x1_dup_spans_maximal,
    )

    run9 = " ".join(f"s{i}" for i in range(9))          # 9 shared tokens
    runa = " ".join(f"a{i}" for i in range(8))           # 8 shared tokens
    runb = " ".join(f"b{i}" for i in range(8))
    rows = [
        (1, run9 + " u1 u2 u3 u4 u5 u6 u7 u8"),          # 9-run + unique tail
        (2, run9 + " v1 v2 v3 v4 v5 v6 v7 v8"),
        (3, runa + " x1 x2 x3 x4 x5 x6 x7 x8 " + runb),  # two disjoint runs
        (4, runa + " y1 y2 y3 y4 y5 y6 y7 y8 " + runb),
        (5, "z0 z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11"),    # no shared gram
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = {
            (r["doc_id"], r["start_tok"]): r
            for r in x1_dup_spans_maximal(spark, d).collect()
        }
    # (a) merged maximal span, not two 8-token spans
    for doc in (1, 2):
        r = out[(doc, 1)]
        assert (r["n_tokens"], r["n_grams"]) == (9, 2)
    assert out[(1, 1)]["span_fp"] == out[(2, 1)]["span_fp"]
    # (b) disjoint islands stay separate: starts 1 and 17, 8 tokens each
    for doc in (3, 4):
        assert (out[(doc, 1)]["n_tokens"], out[(doc, 1)]["n_grams"]) == (8, 1)
        assert (out[(doc, 17)]["n_tokens"], out[(doc, 17)]["n_grams"]) == (8, 1)
    assert out[(3, 17)]["span_fp"] == out[(4, 17)]["span_fp"]
    assert out[(3, 1)]["span_fp"] != out[(3, 17)]["span_fp"]
    # (c) doc 5 absent
    assert not any(k[0] == 5 for k in out)
    assert len(out) == 6


def test_dedup_cut_spans_keeps_first_occurrence(spark):
    """x1_dedup_cut_spans semantics on the island-merge fixture: the
    lowest-doc occurrence of each maximal span survives untouched, the
    other occurrence loses exactly the span's tokens, docs without
    cross-doc spans are unmodified."""
    import tempfile

    from etl_lorettoscarpa_1asfb2jf21_spark.queries_catalog_pipeline import (
        x1_dedup_cut_spans,
    )

    run9 = " ".join(f"s{i}" for i in range(9))
    runa = " ".join(f"a{i}" for i in range(8))
    runb = " ".join(f"b{i}" for i in range(8))
    rows = [
        (1, run9 + " u1 u2 u3 u4 u5 u6 u7 u8"),
        (2, run9 + " v1 v2 v3 v4 v5 v6 v7 v8"),
        (3, runa + " x1 x2 x3 x4 x5 x6 x7 x8 " + runb),
        (4, runa + " y1 y2 y3 y4 y5 y6 y7 y8 " + runb),
        (5, "z0 z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = {r["doc_id"]: r for r in x1_dedup_cut_spans(spark, d).collect()}
    # keepers and untouched docs are unmodified
    for doc in (1, 3, 5):
        assert not out[doc]["is_modified"]
        assert out[doc]["n_kept"] == out[doc]["n_tokens"]
    # doc 2 loses the 9-token run, keeps its 8-token tail
    assert (out[2]["n_tokens"], out[2]["n_kept"]) == (17, 8)
    assert out[2]["is_modified"]
    # doc 4 loses both 8-token runs, keeps the 8 middle tokens
    assert (out[4]["n_tokens"], out[4]["n_kept"]) == (24, 8)
    import hashlib

    assert out[4]["kept_digest"] == hashlib.md5(
        " ".join(f"y{i}" for i in range(1, 9)).encode()
    ).hexdigest()
