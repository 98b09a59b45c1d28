"""Vector similarity over array<float> embeddings: top-k search, near-dup
pairs and semantic dedup (X1/X2).

* brute_force_topk — exact cosine top-k, the recall reference the
  catalog ranks every index against.
* lsh_topk / embedding_neardup_pairs — random-hyperplane (SimHash)
  band buckets, exact re-verify on candidates.
* ivf_topk / pq_topk / semantic_dedup — float indexes trained
  driver-side on a bounded sample; corpus assignment and encoding run as
  Arrow numpy kernels (functions.vectors).
* The fixed-point family — ivf_topk_quantized, pq_topk_quantized,
  ivfpq_topk_quantized, bq_topk, ivfbq_topk and the two quantized
  SemDeDup forms — is integer-exact end to end, so every catalog query
  over it has a DuckDB twin. Each splits into build_*/search_* halves
  (build once, serve many; save_ann_index/load_ann_index).
* mmr_topk — integer-exact diversified top-k: a Spark relevance
  shortlist, then one grouped greedy kernel per query.

Each operator has one code path. ``lsh_topk`` alone keeps a
``use_arrow`` switch: the catalog runs both its portable fold (the
DuckDB-checkable form) and its Arrow signature kernel.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import array_lit
from .partitioning import spread

# Corpus-derived re-rank shortlist depth. PQ/BQ approximate orderings are
# LOSSY (ADC code sums, 1-bit Hamming), so a FIXED shortlist that is deep
# enough at 200k vectors is starved at 2M: the round-5 vector probe
# measured recall@10 0.35-0.47 for PQ/IVF-PQ at 2M x 128-d with
# shortlist=500 while IVF (near-exact shortlist ordering) scored 1.00 with
# the same coarse index — proof the loss is shortlist depth, not the
# codebooks or nprobe. Scaling the depth with the corpus (n/200, floored)
# keeps the exact re-rank bounded at |queries| x n/200 cosines — sub-linear
# work per query — while the candidate pool grows with the thing that
# dilutes it. Integer-exact so DuckDB twins derive the identical depth via
# GREATEST(floor, (COUNT(*) + frac-1) // frac) over the same corpus CTE
# (same mirroring pattern as the SemDeDup sqrt-centroid rule).
SHORTLIST_FLOOR = 1000
SHORTLIST_FRAC = 200


def derived_shortlist(n_corpus: int) -> int:
    """max(SHORTLIST_FLOOR, ceil(n_corpus / SHORTLIST_FRAC)) — the
    corpus-scaled re-rank depth (exact-integer ceil-div; the SQL twin is
    ``GREATEST(1000, (COUNT(*) + 199) // 200)``)."""
    return max(SHORTLIST_FLOOR, -(-int(n_corpus) // SHORTLIST_FRAC))


def per_key_topn(
    df: DataFrame,
    keys: list[str],
    order: list,
    n: int,
    rank_col: str = "_sr",
) -> DataFrame:
    """Distributed per-key top-n over a TOTAL order (ties must be broken
    by a unique column so the result set is exactly the naive window's).

    A plain ``Window.partitionBy(key)`` puts EVERY row of a key into one
    task's sort — for the ANN scan stages (one score per corpus row per
    query) that is a corpus-sized single-task sort per query, the same
    shape as the unpartitioned-window hazard. Two bounded phases instead:
    (1) per-(key, input-partition) head — the shuffle moves the same rows
    a per-key window would, but each sort task holds one partition's
    slice, so sort memory/latency is bounded by |corpus|/parallelism;
    (2) the global head over the <= n-per-partition survivors
    (n·parallelism rows per key). Any global top-n row is necessarily in
    its own partition's top-n, so the two-phase result is EXACTLY the
    one-window result — oracle twins are untouched.
    """
    pid = F.spark_partition_id()
    w_local = Window.partitionBy(*keys, "_pkt_pid").orderBy(*order)
    local = (
        df.withColumn("_pkt_pid", pid)
        .withColumn("_pkt_r", F.row_number().over(w_local))
        .filter(F.col("_pkt_r") <= n)
        .drop("_pkt_pid", "_pkt_r")
    )
    w_global = Window.partitionBy(*keys).orderBy(*order)
    return local.withColumn(rank_col, F.row_number().over(w_global)).filter(
        F.col(rank_col) <= n
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    corpus_id: str = "c_id",
    corpus_vec: str = "c_vec",
) -> DataFrame:
    """Exact cosine top-k: (q_id, c_id, sim, rank) with rank<=k per query.

    Ties broken by corpus id for determinism (oracle-comparable). The
    per-pair cosine is the native left-fold dot, so the whole plan stays
    JVM-side and a SQL twin reproduces every sim bit-exactly.

    Norms are computed ONCE PER SIDE before the pair join (each corpus
    norm was re-derived |queries| times inside the per-pair cosine), and
    the top-k shuffle carries ONLY (q_id, c_id, sim): the vector columns
    rode through per_key_topn's two exchanges before — ~550 B/row ×
    |corpus|·|queries| rows ≈ 5.5 GB of shuffle at ~sf1 for 24 B of
    payload. Values are bit-identical: same fold order for dot and norm,
    and IEEE float multiply is commutative, so qn·cn == the inline
    l2(q)·l2(c) denominator.
    """
    from ..functions.vectors import dot_expr, l2_norm_expr

    q = F.broadcast(
        queries.select(
            F.col(query_id),
            F.col(query_vec),
            l2_norm_expr(query_vec).alias("_bf_qn"),
        )
    )
    c = spread(corpus.select(F.col(corpus_id), F.col(corpus_vec))).withColumn(
        "_bf_cn", l2_norm_expr(corpus_vec)
    )
    denom = F.col("_bf_qn") * F.col("_bf_cn")
    sim = c.crossJoin(q).withColumn(
        "sim",
        F.when(denom > 0, dot_expr(query_vec, corpus_vec) / denom).otherwise(
            F.lit(0.0)
        ),
    )
    # two-phase per-query top-k: a plain per-query window would sort the
    # ENTIRE corpus's scores in one task per query (see per_key_topn)
    return per_key_topn(
        sim.select(query_id, corpus_id, "sim"),
        [query_id],
        [F.desc("sim"), F.col(corpus_id)],
        k,
        rank_col="rank",
    ).select(query_id, corpus_id, "sim", "rank")


def _hyperplanes(dim: int, planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((planes, dim)).tolist()


def _explode_band_buckets(
    df: DataFrame,
    vec_col: str,
    hyperplanes: list[list[float]],
    bands: int,
    use_arrow: bool = True,
) -> DataFrame:
    """Append exploded ``(band, bucket)`` LSH columns, one row per band.

    Arrow path (default): packed per-band bucket ids come back from one
    numpy matmul kernel (functions.vectors.band_buckets_batch_udf) and are
    posexploded — measured ~10x faster than the native per-plane
    higher-order dots (3.4s -> 0.3s for 2k x 64-dim x 16 planes at sf0.1).
    Native path keeps the plan fully JVM-side. Bucket ids differ between
    the two paths (packed bits vs xxhash64) but both are internal labels —
    only equality within one run matters.
    """
    planes = len(hyperplanes)
    if use_arrow:
        from ..functions.vectors import band_buckets_batch_udf

        bb = band_buckets_batch_udf(hyperplanes, bands)(F.col(vec_col))
        return df.select(
            "*", F.posexplode(bb).alias("_band", "_bucket")
        )
    # Native path, built as ONE F.expr SQL string: the per-plane Column
    # form (16 zip_with/aggregate folds + per-band xxhash64 trees) cost
    # ~3.7 s of Py4J plan-build latency PER SIDE — the dominant term of
    # the x2_topk_lsh action floor (round-10 verdict item 2). The SQL
    # parses to the identical fold/CASE/xxhash64 nodes (same dots, same
    # sign bits, same bucket ids), so oracle twins are untouched;
    # posexplode's pos IS the band index the struct form carried.
    def dot_sql(hp: list[float]) -> str:
        arr = "array(" + ",".join(f"{float(v)!r}D" for v in hp) + ")"
        return (
            f"aggregate(zip_with({vec_col}, {arr}, "
            "(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v)"
        )

    bits = [
        f"(CASE WHEN {dot_sql(hp)} >= 0 THEN 1 ELSE 0 END)" for hp in hyperplanes
    ]
    per_band = planes // bands
    buckets = ", ".join(
        "xxhash64(" + ", ".join(bits[b * per_band + i] for i in range(per_band)) + ")"
        for b in range(bands)
    )
    return df.select(
        "*", F.posexplode(F.expr(f"array({buckets})")).alias("_band", "_bucket")
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    dim: int = 64,
    planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    corpus_id: str = "c_id",
    corpus_vec: str = "c_vec",
    use_arrow: bool = True,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH buckets.

    Join is on (band, bucket) — linear candidate generation; exact cosine
    re-rank on candidates only. May return <k rows per query (recall<1).

    ``use_arrow=False`` computes signatures with the native left-fold dot
    (the PORTABLE form: a SQL engine folding the same literal hyperplanes
    left-to-right reproduces the sign bits bit-exactly, so the whole
    query becomes oracle-checkable); the Arrow matmul kernel remains the
    production default (~10x on signature throughput, same buckets up to
    float-summation-order sign flips at exact zero crossings).
    """
    hps = _hyperplanes(dim, planes, seed)

    from ..functions.vectors import dot_expr, l2_norm_expr

    def bucketize(df: DataFrame, id_col: str, vec_col: str, prefix: str) -> DataFrame:
        return _explode_band_buckets(
            df.select(
                F.col(id_col), F.col(vec_col), l2_norm_expr(vec_col).alias(f"{prefix}n")
            ),
            vec_col,
            hps,
            bands,
            use_arrow=use_arrow,
        ).select(
            F.col(id_col),
            F.col(vec_col),
            F.col(f"{prefix}n"),
            F.col("_band").alias(f"{prefix}band"),
            F.col("_bucket").alias(f"{prefix}bucket"),
        )

    qb = F.broadcast(bucketize(queries, query_id, query_vec, "q_"))
    cb = bucketize(spread(corpus), corpus_id, corpus_vec, "c_")
    # sim is computed BEFORE the (q_id, c_id) dedup: a band collision pair
    # re-derives the same dot at most bands-1 extra times (cheap, map-side),
    # while deduping first would drag both 256-byte vectors through the
    # dedup exchange. Norms ride from the pre-explode projection (once per
    # vector, not once per band row); denominator order matches
    # cosine_similarity_expr (l2(q)·l2(c)) so sims are bit-identical.
    denom = F.col("q_n") * F.col("c_n")
    cand = (
        cb.join(
            qb,
            (F.col("q_band") == F.col("c_band")) & (F.col("q_bucket") == F.col("c_bucket")),
        )
        .withColumn(
            "sim",
            F.when(denom > 0, dot_expr(query_vec, corpus_vec) / denom).otherwise(
                F.lit(0.0)
            ),
        )
        .select(query_id, corpus_id, "sim")
        .dropDuplicates([query_id, corpus_id])
    )
    # two-phase per-query head: a hot bucket would otherwise pile every
    # candidate of a query into one window-sort task
    return per_key_topn(
        cand, [query_id], [F.desc("sim"), F.col(corpus_id)], k, rank_col="rank"
    ).select(query_id, corpus_id, "sim", "rank")


def _quantized_bucket_matmul_pairs(
    bq: DataFrame,
    threshold: float,
    tile: int = 2048,
    block_size: int = 4096,
    checkpoint: bool = True,
) -> DataFrame:
    """Per-bucket pair finder as tiled BLAS matmuls over BLOCK-PAIR
    groups: ``bq`` is (band, bucket, _id, _q[array<int>]); output is
    every (id_a < id_b, sim) with quantized-cosine sim >= threshold, one
    row per SHARED BUCKET (cross-band duplicates are the caller's dedup).

    Why matmul: pair-at-a-time verify pays a per-row cost on |pairs|
    rows no matter how the dot is computed — measured ~0.7 us/pair wall
    even with an Arrow einsum kernel (the JVM<->Arrow list serialization
    floor), i.e. ~40 s for the 53M-pair ~sf1 workload. Here the PYTHON
    boundary moves bucket MEMBERS (256 B each) plus the threshold
    survivors back; every candidate dot happens inside numpy as float64
    BLAS tiles (G = A @ B.T). Quantized elements are <= 2^20, so every
    product (<= 2^40) and every 64-term sum (<= 2^46) is an integer
    exactly representable in float64 — the BLAS result is bit-identical
    to the int64 einsum, the native fold, and the DuckDB oracle,
    regardless of accumulation order.

    Why BLOCKS: one task per (band, bucket) caps parallelism at
    bands·2^b tasks with per-task work quadratic in bucket size — fine
    at 64 buckets x 2k members, a single-task quadratic wall at a
    crawl-scale bucket. Members are hashed into ceil(m/block_size)
    blocks (per-bucket size from one tiny stats aggregate, broadcast
    back); each member replicates to its block's row of block-PAIRS
    (member of block b joins groups (b, j>=b) as the A side and
    (i<b, b) as the B side — every unordered pair lands in EXACTLY one
    group), and the kernel matmuls A x B per group (triangle on the
    diagonal). Per-task work is bounded by block_size² dots, task count
    grows with the data (nb²/2 per bucket), replication bytes are
    members·nb — linear in the candidate mass the bucket defines anyway.
    At nb == 1 (every bucket <= block_size — all current test scales)
    the plan and output are the single-group path exactly. Memory per
    task stays O(block·dim + tile²) via the same tiling.
    """
    from ..functions.vectors import QDOT_DENOM

    thr = float(threshold)
    denom = float(QDOT_DENOM)

    # bq feeds BOTH the per-bucket stats aggregate and the block-pair
    # join below — checkpoint it so the normalize/quantize/band-explode
    # lineage runs once, not once per consumer (an extra full corpus
    # map pass at scale; advisor round-10). Lazy: materializes with the
    # first action, |corpus|·bands rows × ~256 B to local disk.
    # checkpoint=False exists ONLY so the plan audit (tests/test_plans.py)
    # can see through the barrier and assert the upstream spread survives.
    if checkpoint:
        bq = bq.localCheckpoint(eager=False)
    stats = bq.groupBy("band", "bucket").agg(
        F.ceil(F.count(F.lit(1)) / F.lit(int(block_size))).alias("_nb")
    )
    b2 = bq.join(F.broadcast(stats), ["band", "bucket"]).withColumn(
        "_blk", F.pmod(F.xxhash64("_id"), F.greatest(F.col("_nb"), F.lit(1)))
    )
    a_side = F.transform(
        F.sequence(F.col("_blk"), F.col("_nb") - 1),
        lambda j: F.struct(
            F.col("_blk").alias("bi"), j.alias("bj"), F.lit(0).alias("side")
        ),
    )
    b_side = F.when(
        F.col("_blk") > 0,
        F.transform(
            F.sequence(F.lit(0).cast("long"), F.col("_blk") - 1),
            lambda i: F.struct(
                i.alias("bi"), F.col("_blk").alias("bj"), F.lit(1).alias("side")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<bi:bigint,bj:bigint,side:int>>"))
    exploded = b2.select(
        "band",
        "bucket",
        "_id",
        "_q",
        F.explode(F.concat(a_side, b_side)).alias("_t"),
    ).select(
        "band",
        "bucket",
        F.col("_t.bi").alias("bi"),
        F.col("_t.bj").alias("bj"),
        F.col("_t.side").alias("_side"),
        "_id",
        "_q",
    )

    def _empty():
        import pandas as pd

        return pd.DataFrame(
            {"id_a": pd.Series(dtype="int64"),
             "id_b": pd.Series(dtype="int64"),
             "sim": pd.Series(dtype="float64")}
        )

    def _tile_pairs(ids_a, Qa, ids_b, Qb, triangle):
        import numpy as np

        out_a, out_b, out_s = [], [], []
        for i0 in range(0, len(ids_a), tile):
            A = Qa[i0 : i0 + tile]
            j_start = i0 if triangle else 0
            for j0 in range(j_start, len(ids_b), tile):
                B = Qb[j0 : j0 + tile]
                S = (A @ B.T) / denom
                mask = S >= thr
                if triangle and i0 == j0:
                    mask &= np.triu(np.ones(S.shape, dtype=bool), k=1)
                ii, jj = np.nonzero(mask)
                if len(ii):
                    ia = ids_a[i0 + ii]
                    ib = ids_b[j0 + jj]
                    out_a.append(np.minimum(ia, ib))
                    out_b.append(np.maximum(ia, ib))
                    out_s.append(S[ii, jj])
        return out_a, out_b, out_s

    def _emit(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return _empty()
        bi = int(pdf["bi"].iat[0])
        bj = int(pdf["bj"].iat[0])
        if bi == bj:
            ids = pdf["_id"].to_numpy()
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
            Q = np.stack(pdf["_q"].to_numpy()[order]).astype(np.float64)
            out_a, out_b, out_s = _tile_pairs(ids, Q, ids, Q, triangle=True)
        else:
            am = pdf["_side"].to_numpy() == 0
            if not am.any() or am.all():
                return _empty()
            ids_a = pdf["_id"].to_numpy()[am]
            ids_b = pdf["_id"].to_numpy()[~am]
            Qa = np.stack(pdf["_q"].to_numpy()[am]).astype(np.float64)
            Qb = np.stack(pdf["_q"].to_numpy()[~am]).astype(np.float64)
            out_a, out_b, out_s = _tile_pairs(
                ids_a, Qa, ids_b, Qb, triangle=False
            )
        if not out_a:
            return _empty()
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "sim": np.concatenate(out_s),
            }
        )

    return exploded.groupBy("band", "bucket", "bi", "bj").applyInPandas(
        _emit, "id_a long, id_b long, sim double"
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    quantized_verify: bool = False,
    checkpoint: bool = True,
) -> DataFrame:
    """(id_a, id_b, sim) pairs with cosine >= threshold, LSH-blocked.

    PORTABLE form: native left-fold dots for both the signature bits and
    the verify, reproducible bit-exactly by a SQL engine folding the same
    literal hyperplanes (oracle-checkable: x1_embedding_neardup's twin).

    ``quantized_verify=True`` swaps the verify dot (only) to the
    FIXED-POINT Arrow kernel (vectors.qdot_unit_batch_udf): normalized
    elements floor-quantized at 2^20, so the pairwise product-sum is
    exact integer arithmetic in float64 — order-free, hence bit-identical
    between the numpy einsum, the native fold twin (qdot_unit_expr), and
    a DuckDB list_dot_product over the same quantization. This is the
    BOTH-fast-AND-oracle-checkable verify: `sim` becomes the quantized
    cosine (within 2^-20·dim of the float value — ~6e-5 at dim 64, far
    inside any near-dup threshold's noise floor). Signature bits stay on
    the portable fold.
    """
    from .dedup import bucket_pairs

    hps = _hyperplanes(dim, planes, seed)
    from ..functions.vectors import dot_expr, normalize_expr

    # unit-normalize once below the spread() exchange (sign bits are
    # norm-invariant; the verify dot then IS cosine — one array pass per
    # candidate instead of dot + two norms)
    norm = spread(
        df.select(F.col(id_col).alias("_pid"), normalize_expr(vec_col).alias("_v"))
    )
    # Candidates carry BARE ids; verify vectors are joined back from the
    # (corpus-sized) normalized table afterwards. The previous design
    # packed (id, vector) structs through bucket_pairs so the verify
    # needed no re-join — measured BACKWARDS once candidates outnumber
    # the corpus: every collect_set bucket array, every enumerated pair,
    # and the cross-band distinct then carried two ~0.5 KB vectors
    # (candidate-set bytes = pairs x 2 x dim doubles; 47M candidates at
    # the 10x replica = ~48 GB through the exchange, 85.8 s vs DuckDB's
    # 4.3 s in the round-9 sf1 pair). Two id-keyed joins against the
    # corpus-sized table cost corpus-bounded bytes instead; AQE
    # broadcasts the vector side when it is small, shuffle-joins at
    # 10^9-row scale. Candidate ids and the fold dot are unchanged, so
    # output — and the DuckDB oracle, which uses this exact
    # pairs-then-join shape — is bit-identical.
    b = _explode_band_buckets(norm, "_v", hps, bands, use_arrow=False).select(
        F.col("_pid").alias("_id"),
        F.col("_band").alias("band"),
        F.col("_bucket").alias("bucket"),
    )
    # selfjoin strategy: hyperplane bands have at most 2^(planes/bands)
    # buckets, so members-per-bucket grows LINEARLY with the corpus —
    # the collect strategy's per-bucket pair-array enumeration was the
    # 68.5 s wall here; the self-join streams the same 47M candidates
    # through the shuffle in 11.4 s, and the cheap bucket input (sign
    # bits over a projection) makes its two-branch recompute free.
    if quantized_verify:
        # Fixed-point fast path — the shipped mechanism is the
        # per-(band, bucket) BLAS MATMUL: the corpus is quantized ONCE
        # per row (quantize_unit_expr — dim interpreted floor steps per
        # ROW, not per pair), band-exploded into a bucket table
        # (|corpus|·bands rows × ~256 B), and each bucket's members are
        # tiled into integer Gram matmuls that emit ONLY the threshold
        # survivors (_quantized_bucket_matmul_pairs — block-decomposed so
        # per-task work is bounded at any bucket size). No candidate-pair
        # row exists anywhere outside numpy; the final dedup shuffle
        # handles the ~60×-smaller survivor set (~765k rows at ~sf1, vs
        # the 53M raw candidate occurrences a pair-at-a-time verify
        # would materialize). Every dot is exact integer arithmetic
        # (elements ≤ 2^20 ⇒ float64 BLAS is bit-identical to an int64
        # einsum and the DuckDB fold twin), so `sim` is the quantized
        # cosine — within 2^-20·dim of the float value, far inside any
        # near-dup threshold's noise floor — and fully oracle-checkable.
        from ..functions.vectors import quantize_unit_expr

        bq = _explode_band_buckets(
            norm.select(
                "_pid", quantize_unit_expr("_v").alias("_q"), "_v"
            ),
            "_v",
            hps,
            bands,
            use_arrow=False,
        ).select(
            F.col("_pid").alias("_id"),
            F.col("_q"),
            F.col("_band").alias("band"),
            F.col("_bucket").alias("bucket"),
        )
        return (
            _quantized_bucket_matmul_pairs(bq, threshold, checkpoint=checkpoint)
            .dropDuplicates(["id_a", "id_b"])
            .select("id_a", "id_b", "sim")
        )

    cand = bucket_pairs(b, "_id", ["band", "bucket"], strategy="selfjoin")
    va = norm.select(F.col("_pid").alias("id_a"), F.col("_v").alias("_va"))
    vb = norm.select(F.col("_pid").alias("id_b"), F.col("_v").alias("_vb"))
    # vectors are unit-normalized, so the verify dot IS the cosine
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("sim", dot_expr(F.col("_va"), F.col("_vb")))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def _content_hash_key(vec_col):
    """Deterministic pseudorandom sort key over a vector column: md5 of
    the canonical comma-joined element string. Ordering by this key and
    taking the first N rows is a UNIFORM corpus-wide sample no matter how
    the files are laid out — `.limit(N)` alone reads the first files
    scanned, which on a by-domain-partitioned 100 TB corpus is one domain
    (the round-2 verdict's biased-centroid hazard). Spark executes
    orderBy+limit as a distributed top-N (per-partition heads merged on
    the driver), not a global sort."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.md5(F.concat_ws(",", F.transform(c, lambda x: x.cast("string"))))


def train_unit_centroids(
    corpus: DataFrame,
    vec_col: str,
    n_centroids: int,
    seed: int = 42,
    sample_per_cell: int = 256,
    iters: int = 5,
) -> list[tuple[int, list[float]]]:
    """K-means coarse centroids, L2-normalized, as ``(cell_id, unit_vec)``.

    Trains on a BOUNDED sample (standard IVF practice — faiss does the
    same): centroid quality needs ~100s of points per cell, not the full
    corpus, so training cost stays flat as the corpus grows. The sample is
    the md5-content-ordered distributed top-N (_content_hash_key), i.e. a
    deterministic uniform draw across the WHOLE corpus — not `.limit()`'s
    first-files-scanned rows, which skew the centroids toward whatever
    domain sorts first (coverage proven on a sorted-by-domain frame in
    tests/test_operators.py). Because the sample is bounded by
    construction (``sample_per_cell`` rows/cell), Lloyd iterations run
    driver-side in numpy — milliseconds, versus seconds of distributed-ML
    job scheduling for the same arithmetic. Only training is driver-side;
    callers fold the centroids back in as literals so corpus assignment
    stays a distributed map-only pass.
    """
    # Arrow toPandas, not row collect: the sample arrives as one Arrow
    # batch instead of pickled Row objects (measured ~2x on the bounded
    # fetch; values bit-identical)
    pdf = (
        corpus.select(F.col(vec_col), _content_hash_key(vec_col).alias("_hk"))
        .orderBy("_hk")
        .limit(sample_per_cell * n_centroids)
        .toPandas()
    )
    sample = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
    rng = np.random.default_rng(seed)
    # Farthest-point init (deterministic given seed + sample): a uniform
    # random pick can seat two initial centroids on near-duplicate rows
    # and leave a real cluster uncovered — Lloyd cannot recover a
    # direction it never seeded. Greedy max-min-distance traversal covers
    # every well-separated cluster by construction.
    k = min(n_centroids, len(sample))
    chosen = [int(rng.integers(len(sample)))]
    d2min = ((sample - sample[chosen[0]]) ** 2).sum(axis=1)
    for _ in range(1, k):
        nxt = int(d2min.argmax())
        chosen.append(nxt)
        d2min = np.minimum(d2min, ((sample - sample[nxt]) ** 2).sum(axis=1))
    C = sample[chosen]
    for _ in range(iters):
        # assign each sample point to its nearest centroid (squared L2)
        d2 = ((sample[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(len(C)):
            members = sample[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)

    norms = np.linalg.norm(C, axis=1)
    norms[norms == 0] = 1.0
    return [(i, (c / n).tolist()) for i, (c, n) in enumerate(zip(C, norms))]


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    corpus_id: str = "c_id",
    corpus_vec: str = "c_vec",
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) index.

    Train: k-means over a bounded corpus sample (driver-side numpy Lloyd —
    the sample is O(n_centroids), never the corpus) learns ``n_centroids``
    coarse centroids. Index: each corpus vector is assigned to its
    nearest centroid by the Arrow matmul kernel
    (functions.vectors.nearest_cell_batch_udf) — a single map-only pass.
    Search: each query probes its ``nprobe`` nearest centroid
    cells only, so the exact-cosine re-rank touches ~nprobe/n_centroids of
    the corpus instead of all of it.

    At 100 TB the index assignment is a map-only pass over the corpus scan
    (centroids broadcast), the probe join is a hash join on cell id, and the
    partition-pruned cells are the classic IVF read-amplification win. May
    return <k rows per query (recall<1, tunable via nprobe).
    """
    from ..functions.vectors import dot_expr, normalize_expr

    centroids = train_unit_centroids(corpus, corpus_vec, n_centroids, seed=seed)

    def nearest_cells(vec_c: str, probes: int):
        """Array of the ``probes`` nearest centroid cell ids — pure per-row
        expression (centroids are unit-vector literals, the row vector is
        pre-normalized, so each cell score is a single dot product). The
        query side needs the sorted cell ARRAY for nprobe > 1, and the
        query set is tiny."""
        entries = F.array(
            *[
                F.struct(
                    dot_expr(vec_c, array_lit(c)).alias("sim"),
                    F.lit(i).alias("cell"),
                )
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

    # normalize below the spread() exchange so it is computed once per row,
    # not re-derived inside each of the n_centroids cell scores (projection
    # collapse would inline it otherwise)
    cn = spread(
        corpus.select(F.col(corpus_id), normalize_expr(corpus_vec).alias(corpus_vec))
    )
    qn = queries.select(F.col(query_id), normalize_expr(query_vec).alias(query_vec))

    # corpus assignment: argmax dot, ties toward the lower cell — the same
    # order as the query side's comparator
    from ..functions.vectors import nearest_cell_batch_udf

    indexed = cn.withColumn(
        "cell", nearest_cell_batch_udf(centroids)(F.col(corpus_vec))
    )
    probed = qn.select(
        F.col(query_id),
        F.col(query_vec),
        F.explode(nearest_cells(query_vec, nprobe)).alias("cell"),
    )

    # both sides are unit vectors → dot IS cosine; rank rows carry only
    # (q_id, c_id, sim) so the per-query head never shuffles vectors
    sim = (
        indexed.join(F.broadcast(probed), "cell")
        .withColumn("sim", dot_expr(query_vec, corpus_vec))
        .select(query_id, corpus_id, "sim")
    )
    return per_key_topn(
        sim, [query_id], [F.desc("sim"), F.col(corpus_id)], k, rank_col="rank"
    ).select(query_id, corpus_id, "sim", "rank")


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_subspaces: int = 8,
    n_codes: int = 16,
    rerank: int = 5,
    seed: int = 42,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    corpus_id: str = "c_id",
    corpus_vec: str = "c_vec",
    wide_queries: bool = False,
) -> DataFrame:
    """Approximate cosine top-k via product quantization (PQ) with
    asymmetric distance computation (ADC) — the memory-compression scale
    path: each corpus vector is stored as ``n_subspaces`` small codes
    (8 bytes here vs 256 bytes of float32 for dim=64, a 32× reduction),
    which is what makes billion-vector ANN fit in cluster memory at all
    (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
    Search"; faiss's IndexPQ).

    Train: per-subspace k-means on a bounded sample (driver numpy, flat
    cost in corpus size — same policy as ivf_topk). Encode: map-only, the
    corpus is never shuffled — one numpy argmin kernel per record batch
    (functions.vectors.pq_codes_batch_udf; ties toward the lower code).
    Measured at sf0.1 it is >2× the n_subspaces·n_codes interpreted
    argmin-over-literals expressions per row it replaced. Search: each
    query's per-subspace
    ADC lookup table is computed NATIVELY from its vector (codebooks ride
    the plan as literals; the LUT frame is one map-side projection over
    the query batch — queries are NEVER collected, so plan size and
    driver memory are width-free; the old per-query literal-struct form
    grew the plan linearly with batch width). Approximate distance is a
    flat-LUT fold per corpus row — again map-only — ranks an ADC
    shortlist of ``rerank``·k candidates per query, and an exact-cosine
    re-rank over just that shortlist decides the final top-k (vectors are
    unit-normalized, so squared-L2 and cosine order agree).
    ``wide_queries=True`` drops the broadcast hint on the LUT frame so a
    huge batch (≥ the broadcast threshold, e.g. 1M queries) flows through
    a regular join picked by the optimizer instead of a driver-sized
    broadcast.

    Codes and LUTs are float-engine-specific → no SQL twin; callers embed
    the exact_rank quality column (queries_catalog_ext.x2_topk_pq).
    """
    from ..functions.vectors import normalize_expr

    sub_dim_src = corpus.select(F.size(F.col(corpus_vec)).alias("d")).first()["d"]
    sub_dim = sub_dim_src // n_subspaces

    # md5-content-ordered distributed top-N, not `.limit()` (first files
    # scanned = domain-biased codebooks at scale; see _content_hash_key)
    sample = np.asarray(
        [
            r[0]
            for r in corpus.select(
                normalize_expr(corpus_vec).alias("_nv"),
                _content_hash_key(corpus_vec).alias("_hk"),
            )
            .orderBy("_hk")
            .limit(256 * n_codes)
            .select("_nv")
            .collect()
        ],
        dtype=np.float64,
    )
    rng = np.random.default_rng(seed)
    codebooks = []  # [s] -> (n_codes, sub_dim)
    for s in range(n_subspaces):
        block = sample[:, s * sub_dim : (s + 1) * sub_dim]
        C = block[rng.choice(len(block), size=min(n_codes, len(block)), replace=False)]
        for _ in range(5):
            d2 = ((block[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(len(C)):
                members = block[assign == j]
                if len(members):
                    C[j] = members.mean(axis=0)
        codebooks.append(C)

    from ..functions.vectors import pq_codes_batch_udf

    cn = spread(corpus.select(F.col(corpus_id), normalize_expr(corpus_vec).alias("_v")))
    codes = pq_codes_batch_udf(codebooks)(F.col("_v"))
    encoded = cn.select(F.col(corpus_id), codes.alias("_codes")).select(
        F.col(corpus_id),
        *[F.col("_codes")[s].alias(f"_c{s}") for s in range(n_subspaces)],
    )

    # Per-query LUT computed NATIVELY from the query vector — one flat
    # array (n_subspaces·n_codes sqdist folds, built as a single F.expr:
    # 128 Column-API folds would be ~2k Py4J round-trips of plan-build
    # latency). No query collect anywhere, so the plan is WIDTH-FREE —
    # the old form inlined one literal struct per query and grew the
    # plan linearly with batch width (the round-10 verdict's wide-batch
    # item). The LUT frame joins the encoded corpus broadcast by default
    # (a 10k-query batch is ~10 MB); wide_queries=True drops the hint.
    def _sq_sql(s: int, c) -> str:
        arr = "array(" + ",".join(f"{float(v)!r}D" for v in c) + ")"
        return (
            f"aggregate(zip_with(slice(_q, {s * sub_dim + 1}, {sub_dim}), {arr}, "
            "(a, b) -> (a - b) * (a - b)), 0.0D, (acc, v) -> acc + v)"
        )

    lut_sql = "array(" + ",".join(
        _sq_sql(s, c) for s in range(n_subspaces) for c in codebooks[s]
    ) + ")"
    lut = queries.select(
        F.col(query_id), normalize_expr(query_vec).alias("_q")
    ).select(F.col(query_id), F.expr(lut_sql).alias("_lutf"))
    # flat offsets from the ACTUAL codebook sizes (a degenerate training
    # sample can leave a subspace with < n_codes cells)
    offs = [0]
    for s in range(n_subspaces):
        offs.append(offs[-1] + len(codebooks[s]))
    adc_sql = " + ".join(
        f"_lutf[{offs[s]} + _c{s}]" for s in range(n_subspaces)
    )
    exploded = encoded.crossJoin(
        lut if wide_queries else F.broadcast(lut)
    ).select(F.col(corpus_id), F.col(query_id), F.expr(adc_sql).alias("adc_dist"))

    # ADC shortlist -> exact re-rank (the faiss production pattern: PQ
    # compresses the scan, the true metric decides the final order). The
    # shortlist is rerank*k rows per query — the exact pass touches only
    # those, joined back against the (normalized) corpus vectors.
    # two-phase per-query head — the ADC scan scores every corpus row
    # per query (per_key_topn)
    shortlist = per_key_topn(
        exploded,
        [query_id],
        [F.asc("adc_dist"), F.col(corpus_id)],
        k * rerank,
    ).select(query_id, corpus_id)
    qv = F.broadcast(
        queries.select(F.col(query_id), normalize_expr(query_vec).alias("_qv"))
    )
    cv = corpus.select(F.col(corpus_id), normalize_expr(corpus_vec).alias("_cv"))
    from ..functions.vectors import dot_expr

    # broadcast the tiny shortlist so the corpus vectors never shuffle;
    # only slim (q_id, c_id, sim) rows reach the bounded rank window
    rescored = (
        cv.join(F.broadcast(shortlist), corpus_id)
        .join(qv, query_id)
        .withColumn("sim", dot_expr("_qv", "_cv"))
        .select(query_id, corpus_id, "sim")
    )
    w2 = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.col(corpus_id))
    return (
        rescored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "sim", "rank")
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    n_centroids: int = 16,
    seed: int = 42,
    checkpoint: bool = True,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with bounded-sample k-means,
    then prune near-duplicates WITHIN each cluster only — a vector is
    dropped when a lower-id vector in the same cell has cosine >=
    ``threshold``. Keep-lowest-id is the deterministic stand-in for the
    paper's keep-one-per-group policy.

    Returns (id_col, cell, is_kept, pruned_by) — ``pruned_by`` is the
    minimum dominating id (NULL for kept rows), so the output doubles as
    an audit trail of why each vector was dropped.

    Scale design (the whole point of SemDeDup vs all-pairs): the O(n²)
    cosine comparison is confined to cells of ~n/n_centroids vectors —
    candidate generation is LINEAR in the corpus (one map-only
    assignment pass through the Arrow matmul kernel, exactly like
    ivf_topk's index step), and the within-cell self-join is a hash
    join on cell id. Cross-cell duplicates are missed BY DESIGN
    (quantifiable: the caller can measure recall on a sample, as
    x1_semantic_dedup does in-output). At 100 TB: raise n_centroids so
    cells stay bounded (~10⁴-10⁵ rows); skewed cells are AQE skew-join
    territory.
    """
    from ..functions.vectors import dot_expr, nearest_cell_batch_udf, normalize_expr

    centroids = train_unit_centroids(corpus, vec_col, n_centroids, seed=seed)

    # normalize below the spread() exchange so the cell scores and the
    # pair dot products all reuse one normalized copy per row; assignment
    # is one (n, dim) @ (dim, cells) matmul per Arrow batch — measured 2x+
    # over n_centroids interpreted higher-order dots per row
    cn = spread(corpus.select(F.col(id_col), normalize_expr(vec_col).alias("_v")))
    cn = cn.withColumn("cell", nearest_cell_batch_udf(centroids)(F.col("_v")))
    # Lazy localCheckpoint: the assignment feeds both pair-join sides, and
    # the barrier computes it once AND truncates the lineage so Catalyst
    # doesn't re-optimize the kernel subtree per branch (a cache() variant
    # measured ~1.6x slower operator-level, ~2x at the catalog query —
    # full-lineage re-planning, not recompute, is the cost). The barrier
    # hides the Arrow node from the formatted plan, so the kernel audit
    # (test_curation) inspects a checkpoint=False build.
    if checkpoint:
        cn = cn.localCheckpoint(eager=False)

    a = cn.select(F.col("cell"), F.col(id_col).alias("_ida"), F.col("_v").alias("_va"))
    b = cn.select(F.col("cell"), F.col(id_col).alias("_idb"), F.col("_v").alias("_vb"))
    dominated = (
        a.join(b, "cell")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(dot_expr("_va", "_vb") >= F.lit(threshold))
        .groupBy(F.col("_idb").alias(id_col))
        .agg(F.min("_ida").alias("pruned_by"))
    )
    return (
        cn.join(dominated, id_col, "left")
        .select(
            F.col(id_col),
            F.col("cell"),
            F.col("pruned_by").isNull().alias("is_kept"),
            "pruned_by",
        )
    )


def quantize_expr(vec_col, scale: int = 10**6):
    """float array → scaled int64 array (round-half-away, matching SQL
    ROUND): the fixed-point form under which k-means becomes EXACT integer
    arithmetic, reproducible bit-for-bit by any engine."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(
        c, lambda x: F.round(x.cast("double") * F.lit(float(scale))).cast("long")
    )


def _int_sqdist_expr(a: str, b: str):
    """Exact int64 squared distance between two scaled-integer arrays."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _div0(s: int, n: int) -> int:
    """SQL BIGINT ``div``: integer division truncating toward zero."""
    return -((-s) // n) if s < 0 else s // n


def _sums_sql(vec_col: str, width: int) -> str:
    """Element-wise ``sum`` aggregate over an int array column, as ONE
    SQL string (the per-position Column form was ~300 Py4J round-trips of
    plan-build latency)."""
    return "array(" + ",".join(f"sum({vec_col}[{i}])" for i in range(width)) + ")"


def _int_centroid_rows(cents: DataFrame) -> list[tuple[int, list[int]]]:
    """Collect an integer centroid table (_cell, _cvec) as sorted
    ``(cell, int_vec)`` rows — n_centroids rows, never the corpus."""
    return sorted(
        (int(r["_cell"]), [int(x) for x in r["_cvec"]]) for r in cents.collect()
    )


def _assign_int_cells(
    df: DataFrame, vec_col: str, cents_rows: list, n_centroids: int, keep: list
) -> DataFrame:
    """``keep`` plus ``_cell``, each row's exact-integer nearest centroid
    (functions.vectors.nearest_cell_int_batch_udf: int64 matmul, ties
    toward the lower cell). With no centroids (an empty training corpus)
    no row has a cell, so the result is empty."""
    from ..functions.vectors import nearest_cell_int_batch_udf

    if not cents_rows:
        return df.select(*keep, F.lit(None).cast("long").alias("_cell")).filter(
            F.lit(False)
        )
    kern = nearest_cell_int_batch_udf(cents_rows, n_centroids)
    return df.select(*keep, kern(F.col(vec_col)).alias("_cell"))


def quantized_kmeans_cells(
    corpus: DataFrame,
    corpus_id: str = "c_id",
    corpus_vec: str = "c_vec",
    n_centroids: int = 16,
    n_iter: int = 3,
    scale: int = 10**6,
    with_vec: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """DISTRIBUTED fixed-point Lloyd: returns (centroids(_cell,_cvec),
    assignment(corpus_id,_cell)) after ``n_iter`` exact-integer rounds.

    ``with_vec=True`` adds the quantized vector ``_qv`` to the returned
    assignment frame, so builders that store or residualize the quantized
    corpus (IVF store, IVFADC residuals) read it straight off the
    assignment projection instead of re-quantizing the corpus and joining
    it back on ``corpus_id`` — at scale that join was a second
    corpus-sized shuffle (or corpus-sized broadcast) per build for a
    column the assignment pass already holds. Values are unchanged:
    ``_qv`` is the same quantize_expr projection either way.

    Init = the n_centroids smallest-md5(id) vectors (uniform corpus-wide
    draw); argmin ties break toward the lower cell via
    ``dist*n_centroids + cell`` packing; centroid update is the
    truncating integer mean per dimension; empty cells keep their
    previous centroid. Every step is int64 arithmetic, so the trained
    index is bit-identical on any engine (see ivf_topk_quantized /
    semantic_dedup_quantized for the oracle twins). Each assignment pass
    runs the EXACT-INTEGER Arrow kernel (functions.vectors.
    nearest_cell_int_batch_udf): one dense int64 matmul per record batch
    instead of n_centroids interpreted 64-element folds per row, which is
    what keeps assignment from dominating once n_centroids scales
    ~sqrt(corpus) (SemDeDup). The corpus is never collected — only the
    n_centroids-row centroid table moves to the driver. An empty corpus
    gives no centroids and an empty assignment.
    """
    corpq = corpus.select(
        F.col(corpus_id), quantize_expr(corpus_vec, scale).alias("_qv")
    ).localCheckpoint(eager=False)

    # Init = the n_centroids rows with the smallest md5(id) — a
    # deterministic uniform draw over the whole corpus (distributed
    # top-N), not the lowest-id rows (= first files scanned = one domain
    # on a partitioned-by-domain corpus). md5(CAST(id AS VARCHAR)) is
    # byte-identical across engines, so the oracle twins
    # (_qkmeans_sql_prefix c0) mirror the same draw bit-exactly.
    hk = F.md5(F.col(corpus_id).cast("string"))
    w_init = Window.orderBy("_hk", corpus_id)
    cents = (
        corpq.select("_qv", hk.alias("_hk"), F.col(corpus_id))
        .orderBy("_hk", corpus_id)
        .limit(n_centroids)
        .select(
            (F.row_number().over(w_init) - 1).alias("_cell"),
            F.col("_qv").alias("_cvec"),
        )
    )

    # The CENTROIDS STAY ON THE DRIVER between iterations (they are the
    # kernel constant anyway — a bounded n_centroids×dim int artifact,
    # same rule as PQ codebooks). Per iteration: ONE job — assignment
    # kernel mapped over corpq feeding a hash agg of per-cell
    # element-wise sums — then the truncating integer means update
    # driver-side. No per-iteration join + localCheckpoint lineage: its
    # PHYSICAL PLANNING alone cost ~0.9 s per iteration. No posexplode
    # above the kernel column either: Spark plans Python eval ABOVE
    # Generate, so exploding next to the kernel output would re-evaluate
    # the kernel on dim× the rows (measured 2.7 s → 90 s per iteration at
    # 200k×128-d). Integer sums are order-free and `s div n` is replayed
    # exactly in Python (_div0), so centroids — and every oracle twin —
    # are bit-identical to an in-engine update.
    from ..functions.vectors import nearest_cell_int_batch_udf

    cents_rows = _int_centroid_rows(cents)
    for _ in range(n_iter if cents_rows else 0):  # empty corpus: no training
        kern = nearest_cell_int_batch_udf(cents_rows, n_centroids)
        got = {
            int(r["_cell"]): (
                [int(x) for x in r["_sv"]],
                int(r["_n"]),
            )
            for r in corpq.select(kern(F.col("_qv")).alias("_cell"), "_qv")
            .groupBy("_cell")
            .agg(
                F.expr(_sums_sql("_qv", len(cents_rows[0][1]))).alias("_sv"),
                F.count(F.lit(1)).alias("_n"),
            )
            .collect()
        }
        cents_rows = [
            (
                cell,
                [_div0(s, got[cell][1]) for s in got[cell][0]]
                if cell in got
                else prev,
            )
            for cell, prev in cents_rows
        ]
    cents = corpus.sparkSession.createDataFrame(
        list(cents_rows), "_cell INT, _cvec ARRAY<BIGINT>"
    )
    keep = [F.col(corpus_id)] + ([F.col("_qv")] if with_vec else [])
    return cents, _assign_int_cells(corpq, "_qv", cents_rows, n_centroids, keep)


# ======================================================================
# Build-once / serve-many: explicit index artifacts
# ======================================================================
# A deployment builds an ANN index ONCE (train + encode — the expensive
# corpus passes) and answers MANY query batches against the materialized
# artifact, paying only the search term per batch. The one-shot
# *_topk_quantized / bq / ivfbq pipelines are composed EXACTLY from these
# build_*/search_* halves, so served results are bit-identical to the
# oracle-checked monolithic form. An index is a dict of plain DataFrames
# keyed by small stable names; save_ann_index/load_ann_index round-trip
# it through parquet. tools/vector_probe.py (retired; last in commit
# ef19912) measured the build/serve split and the batch-count crossover
# vs the exact scan (SCALING.md).


def _rerank_exact(
    short: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
) -> DataFrame:
    """Shared exact re-rank tail of every index family: fold-exact double
    cosine on the ORIGINAL float vectors over the per-query shortlist,
    ties toward the lower corpus id. The window is bounded (≤ shortlist
    rows per query), never corpus-sized.

    The shortlist (≤ shortlist·|queries| rows) is BROADCAST against the
    corpus — the previous ``short.join(corpus)`` shape shuffled the full
    corpus (~1.1 GB of vectors at ~sf1) to re-rank a few thousand rows;
    now the corpus side stays a map-side scan and only slim
    (q_id, c_id, sim) rows reach the rank window. Same fold order and
    commutative multiply ⇒ bit-identical sims."""
    from ..functions.vectors import dot_expr, l2_norm_expr

    qn = F.broadcast(
        queries.select(
            F.col(query_id), F.col(query_vec), l2_norm_expr(query_vec).alias("_rr_qn")
        )
    )
    denom = F.col("_rr_qn") * l2_norm_expr(corpus_vec)
    sim = (
        corpus.join(F.broadcast(short), corpus_id)
        .join(qn, query_id)
        .withColumn(
            "sim",
            F.when(denom > 0, dot_expr(query_vec, corpus_vec) / denom).otherwise(
                F.lit(0.0)
            ),
        )
        .select(query_id, corpus_id, "sim")
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.col(corpus_id))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "sim", "rank")
    )


def _to_subs(
    df: DataFrame, id_cs: list[str], arr: str, n_subspaces: int, sub_dim: int
) -> DataFrame:
    """Long-form per-subspace view of a quantized vector column: one row
    per (ids, _sub) with the sub_dim-wide slice as _sv. Slices must read
    an ALREADY-QUANTIZED column — referencing quantize_expr once per
    subspace slice inlines n_subspaces copies of the interpreted
    transform into the plan (measured 78 s just to build the long form
    at 200k x 128-d; ~8 s via this projection boundary). Id columns ride
    through as-is (any name/type — no key packing: string-packing would
    NULL-cast non-integer ids and silently drop rows)."""
    entries = F.array(
        *[
            F.struct(
                F.lit(s).alias("_sub"),
                F.slice(F.col(arr), s * sub_dim + 1, sub_dim).alias("_sv"),
            )
            for s in range(n_subspaces)
        ]
    )
    return df.select(*id_cs, F.explode(entries).alias("_e")).select(
        *id_cs, F.col("_e._sub").alias("_sub"), F.col("_e._sv").alias("_sv")
    )


def _dense_lut_expr(n_entries: int):
    """Flattened-LUT transform with a DENSITY guard. The wide-code ADC
    fold indexes the array_sort-flattened lookup table POSITIONALLY as
    ``_sub*n_codes + code`` — valid only when the codebook is dense
    (exactly n_codes cells in every subspace). Codebook training keeps
    ``min(distinct subspace rows, n_codes)`` cells, so a degenerate
    corpus (fewer distinct sub-vectors than codes) would shift every
    position after the gap and turn the fold into silently wrong
    neighbors. assert_true makes that a loud execution-time failure at
    the exact row instead."""
    return F.when(
        F.assert_true(
            F.size("_ps") == F.lit(int(n_entries)),
            F.format_string(
                "PQ codebook is not dense: LUT has %s entries, expected "
                f"{int(n_entries)} (n_subspaces*n_codes) — the training "
                "corpus had fewer distinct sub-vectors than n_codes; "
                "rebuild with a smaller n_codes",
                F.size("_ps"),
            ),
        ).isNull(),
        F.transform("_ps", lambda p: p["_d"]),
    )


def _index_meta(corpus: DataFrame, family: str, **params) -> DataFrame:
    """One-row build-parameters artifact stored alongside the index
    frames. Carries the corpus row count (so ``shortlist=None`` searches
    derive their re-rank depth WITHOUT a full corpus scan per served
    batch) and every build parameter a search must agree on — a
    mismatched ``n_subspaces``/``dim``/``scale`` would silently return
    wrong neighbors (partial ``_sub`` join, mis-sliced query vectors),
    so searches validate against this row and fail fast instead.

    LAZY: the row is a one-row aggregate PLAN over the corpus, not an
    eager ``corpus.count()`` — the count job runs when the meta artifact
    is first consumed (saved to parquet, or collected by the first
    search), so an inline build pays no extra scheduled corpus scan just
    for the metadata (the round-9 verdict's ANN action-floor item: every
    build path ran one count job it never needed eagerly).

    ASSUMES the corpus source is immutable from build to first consume
    (the laziness means n_corpus is observed at first-consume time): a
    source mutated in between would record a count disagreeing with the
    already-built index artifacts and weaken the fail-fast validation.
    That matches the save_ann_index contract — the artifact set is
    written (meta included, forcing the count) before any serving — and
    the parquet-immutability assumption every inline build already
    makes; a build over a mutating source is out of contract for the
    whole index family, not just the meta row."""
    cols = [F.lit(family).alias("family"), F.col("n_corpus")]
    for key, val in sorted(params.items()):
        cols.append(F.lit(int(val)).cast("long").alias(key))
    return corpus.agg(F.count(F.lit(1)).cast("long").alias("n_corpus")).select(
        *cols
    )


def _validate_index_meta(index: dict, family: str, **params) -> dict | None:
    """Check the search call's parameters against the index's build-time
    ``meta`` artifact; returns the meta row as a plain dict (memoized in
    the index dict — the 1-row collect happens once per loaded index,
    not once per served batch). Indexes saved before the meta artifact
    existed return None — callers then fall back to legacy behavior."""
    if "meta" not in index:
        return None
    row = index.get("_meta_cache")
    if row is None:
        collected = index["meta"].collect()
        if len(collected) != 1:
            raise ValueError(
                f"ANN index meta artifact must be one row, got {len(collected)}"
            )
        row = collected[0].asDict()
        index["_meta_cache"] = row
    if row.get("family") != family:
        raise ValueError(
            f"ANN index family mismatch: index built as {row.get('family')!r}, "
            f"searched as {family!r}"
        )
    for key, val in params.items():
        built = row.get(key)
        if built is not None and int(built) != int(val):
            raise ValueError(
                f"ANN index parameter mismatch on {key!r}: built with "
                f"{built}, searched with {val} — a silent mismatch would "
                "return wrong neighbors, so this fails fast instead"
            )
    return row


def save_ann_index(index: dict, path: str) -> None:
    """Materialize every index artifact frame as parquet under
    ``path/<name>`` — the build-once half of a served deployment. Plain
    DataFrame writes: on a cluster this is the same parquet sink as any
    table (overwrite mode), partitioned however the build plan left it.
    Non-DataFrame entries (the memoized ``_meta_cache`` dict) are
    runtime-only and skipped. The artifact writes run CONCURRENTLY (one
    thread per frame): they share no lineage, and Spark's scheduler
    overlaps the jobs — on the small-corpus serve path the three
    sequential write jobs were pure additive floor (round-9 verdict's
    ANN action-fusion item)."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    frames = [
        (name, df) for name, df in index.items() if isinstance(df, DataFrame)
    ]
    with ThreadPoolExecutor(max_workers=max(1, len(frames))) as pool:
        list(
            pool.map(
                lambda nd: nd[1]
                .write.mode("overwrite")
                .parquet(os.path.join(path, nd[0])),
                frames,
            )
        )


def load_ann_index(spark, path: str) -> dict:
    """Load an index saved by save_ann_index: every subdirectory becomes
    one artifact frame. Local-path directory listing — a cluster
    deployment would list via its filesystem client or pass explicit
    names; the artifact names are the contract either way."""
    import os

    return {
        name: spark.read.parquet(os.path.join(path, name))
        for name in sorted(os.listdir(path))
        if os.path.isdir(os.path.join(path, name))
    }


def build_ivf_index(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 3,
    scale: int = 10**6,
    corpus_id: str = "c_id",
    corpus_vec: str = "c_vec",
) -> dict:
    """Train + encode the IVFFlat index (see ivf_topk_quantized): the
    integer-exact coarse quantizer plus the cell-assigned quantized
    vector store. Artifacts: ``centroids`` (_cell, _cvec — n_centroids
    rows) and ``store`` (corpus_id, _cqv, _cell — one row per corpus
    vector; the 'flat' part of IVFFlat, scanned per probed cell)."""
    cents, final_assign = quantized_kmeans_cells(
        corpus, corpus_id, corpus_vec, n_centroids, n_iter, scale, with_vec=True
    )
    # the store IS the assignment projection — re-quantizing the corpus
    # and joining it back on corpus_id was a second corpus-sized
    # shuffle/broadcast per build for a column the assignment holds
    store = final_assign.select(
        F.col(corpus_id), F.col("_qv").alias("_cqv"), F.col("_cell")
    )
    meta = _index_meta(corpus, "ivf", n_centroids=n_centroids, scale=scale)
    return {"centroids": cents, "store": store, "meta": meta}


def search_ivf_index(
    queries: DataFrame,
    corpus: DataFrame,
    index: dict,
    k: int = 10,
    nprobe: int = 4,
    shortlist: int = 50,
    scale: int = 10**6,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    corpus_id: str = "c_id",
    corpus_vec: str = "c_vec",
) -> DataFrame:
    """IVFFlat search against a built/loaded index: probe the nprobe
    nearest cells, exact-int64 scan of the probed cells' stored vectors
    (functions.vectors.int_sqdist_pair_batch_udf), shortlist, exact
    cosine re-rank on ``corpus`` (the float vectors the index references
    by id). Per batch this reads ~nprobe/n_centroids of
    the store and never touches the training path."""
    _validate_index_meta(index, "ivf", scale=scale)
    cents = index["centroids"]
    qq = queries.select(
        F.col(query_id), quantize_expr(query_vec, scale).alias("_qv")
    )
    probes = (
        qq.crossJoin(F.broadcast(cents))
        .select(
            F.col(query_id),
            F.col("_cell"),
            _int_sqdist_expr("_qv", "_cvec").alias("_d"),
            F.col("_qv"),
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(query_id).orderBy("_d", "_cell")
            ),
        )
        .filter(F.col("_rn") <= nprobe)
        .select(query_id, "_cell", "_qv")
    )
    # probes is nprobe·|queries| rows — broadcast it so the store scan
    # stays map-side instead of shuffling the quantized corpus by cell
    cand = F.broadcast(probes).join(index["store"], "_cell")
    from ..functions.vectors import int_sqdist_pair_batch_udf

    d2 = int_sqdist_pair_batch_udf()(F.col("_qv"), F.col("_cqv"))
    # two-phase per-query head over the probed-cell candidates
    # (nprobe/n_centroids of the corpus per query — still data-sized)
    short = per_key_topn(
        cand.select(query_id, corpus_id, d2.alias("_d2")),
        [query_id],
        [F.col("_d2"), F.col(corpus_id)],
        max(k, shortlist),
    ).select(query_id, corpus_id)
    return _rerank_exact(
        short, queries, corpus, k, query_id, query_vec, corpus_id, corpus_vec
    )


def ivf_topk_quantized(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    n_iter: int = 3,
    shortlist: int = 50,
    scale: int = 10**6,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    corpus_id: str = "c_id",
    corpus_vec: str = "c_vec",
) -> DataFrame:
    """IVF top-k with a DISTRIBUTED, INTEGER-EXACT k-means coarse quantizer.

    Vectors are fixed-point-quantized (``scale``), centroids are integer
    vectors, distances are exact int64 sums of squared differences, and
    centroid updates are truncating integer means — so a fixed number of
    Lloyd iterations is a pure integer recurrence that any engine
    reproduces bit-identically (the same trick as pagerank_scaled; float
    k-means can never be oracle-checked). Init = the ``n_centroids``
    smallest-md5(id) corpus vectors (a deterministic uniform corpus-wide
    draw); argmin ties break toward the lower cell via
    the ``dist*n_centroids + cell`` integer packing; empty cells keep
    their previous centroid.

    Search is the faithful IVFFlat two-stage: candidates in the probed
    cells are RANKED BY EXACT int64 squared distance on the stored
    (quantized) vectors — FAISS IVFFlat's scan, here one exact int64
    numpy batch op per Arrow batch — and only a
    ``max(k, shortlist)``-deep shortlist per query pays the fold-exact
    double cosine on the ORIGINAL float vectors (ties toward the lower
    corpus id at both stages, so the whole pipeline stays
    oracle-checkable). Scoring every probed candidate with the
    interpreted cosine fold instead was the measured wall-time cliff at
    real vector scale: 322 s -> ~8 s at 200k x 128-d, nprobe/n_centroids
    = 16/64 (tools/vector_probe.py, retired; last in commit ef19912).

    Scale design: k-means here trains DISTRIBUTED on the full corpus (vs
    train_unit_centroids' bounded-sample driver Lloyd) — per iteration one
    kernel assignment pass feeding a per-cell array-of-sums hash
    aggregate (see quantized_kmeans_cells); no corpus collect at any
    point. Probing reads
    nprobe/n_centroids of the corpus per query; the cosine stage is
    bounded by shortlist·|queries| rows.
    """
    index = build_ivf_index(corpus, n_centroids, n_iter, scale, corpus_id, corpus_vec)
    return search_ivf_index(
        queries, corpus, index, k, nprobe, shortlist, scale,
        query_id, query_vec, corpus_id, corpus_vec,
    )


def semantic_dedup_quantized(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    n_centroids: int = 16,
    n_iter: int = 3,
    scale: int = 10**6,
) -> DataFrame:
    """SemDeDup over the DISTRIBUTED fixed-point k-means cells — the
    oracle-checkable sibling of semantic_dedup: cell assignment is the
    exact integer Lloyd recurrence (quantized_kmeans_cells), and the
    within-cell prune compares RAW vectors with the fold-exact double
    cosine, so (cell, is_kept, pruned_by) verify bit-identically across
    engines. Same keep-lowest-id policy and audit columns as
    semantic_dedup; cross-cell duplicates are missed by design (the
    SemDeDup bargain).

    Scale: assignment as in quantized_kmeans_cells; the prune is one
    hash self-join on the cell id with a min-aggregate — O(cell²) work
    confined to bounded cells, linear candidate generation overall. The
    per-row L2 norm is computed ONCE below the prune's lineage barrier,
    so each candidate pair pays a single dot fold instead of three
    (dot + both norms) — the per-pair values are bit-identical to
    cosine_similarity_expr (the norm is a row-level quantity; only where
    it is computed moves), so the oracle twin is untouched. Measured at
    the ~sf1 replica this prune-side fold count is what dominates.
    """
    from ..functions.vectors import dot_expr, l2_norm_expr

    src = corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    _, af = quantized_kmeans_cells(
        src, "_id", "_v", n_centroids=n_centroids, n_iter=n_iter, scale=scale
    )
    # one compute of (cell, vec, norm) feeding output + both join sides
    cellv = (
        src.join(af, "_id")
        .select("_id", "_cell", "_v", l2_norm_expr("_v").alias("_nrm"))
        .localCheckpoint(eager=False)
    )
    a = cellv.select(
        F.col("_id").alias("_ia"), F.col("_cell").alias("_ca"),
        F.col("_v").alias("_va"), F.col("_nrm").alias("_na"),
    )
    b = cellv.select(
        F.col("_id").alias("_ib"), F.col("_cell").alias("_cb"),
        F.col("_v").alias("_vb"), F.col("_nrm").alias("_nb"),
    )
    denom = F.col("_na") * F.col("_nb")
    sim = F.when(denom > 0, dot_expr("_va", "_vb") / denom).otherwise(F.lit(0.0))
    dom = (
        a.join(b, (F.col("_ca") == F.col("_cb")) & (F.col("_ia") < F.col("_ib")))
        .withColumn("_sim", sim)
        .filter(F.col("_sim") >= threshold)
        .groupBy("_ib")
        .agg(F.min("_ia").alias("pruned_by"))
    )
    return (
        cellv.join(dom, cellv["_id"] == dom["_ib"], "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("_cell").cast("long").alias("cell"),
            F.col("pruned_by").isNull().alias("is_kept"),
            F.col("pruned_by").cast("long"),
        )
    )


def _pq_lloyd(
    frame: DataFrame,
    corpus_id: str,
    vec_col: str,
    n_subspaces: int,
    sub_dim: int,
    n_codes: int,
    n_iter: int,
):
    """Exact-integer per-subspace Lloyd for PQ codebooks, shared by
    build_pq_index (over the quantized corpus) and build_ivfpq_index
    (over the coarse residuals). ``frame`` holds ``corpus_id`` and the
    int64 vector column ``vec_col``.

    Init: the n_codes smallest-``corpus_id`` vectors, sliced per
    subspace, from a distributed top-N (no full-corpus window shuffle).
    The driver re-sort matches JVM order: BIGINT ids trivially, STRING
    ids because UTF8String byte order equals Python code-point order.

    The codebook stays ON THE DRIVER between iterations (it is the kernel
    constant anyway — a bounded n_subspaces×n_codes×sub_dim int
    artifact). Per iteration: ONE job — the code kernel
    (functions.vectors.pq_codes_int_batch_udf, ties toward the lower
    code) mapped over ``frame``, positionally zipped with the subspace
    slices, feeding a per-(sub, cell) element-wise-sums hash aggregate —
    then the truncating integer means update driver-side (_div0). A
    per-iteration join + localCheckpoint lineage instead cost ~0.7 s of
    physical planning per iteration. Integer sums are order-free, so
    codebooks — and the oracle twins — are bit-identical to an in-engine
    update; empty (sub, cell) pairs keep their previous centroid.

    Returns (codebook (_sub, _cell, _cv), the final encode: a ``_codes``
    column with each row's n_subspaces-code array). An empty ``frame``
    gives an empty codebook.
    """
    from ..functions.vectors import pq_codes_int_batch_udf

    head = sorted(
        frame.select(F.col(corpus_id).alias("_i"), vec_col)
        .orderBy("_i")
        .limit(n_codes)
        .collect(),
        key=lambda r: r["_i"],
    )
    cb_rows = sorted(
        (s, i, [int(x) for x in r[vec_col][s * sub_dim : (s + 1) * sub_dim]])
        for i, r in enumerate(head)
        for s in range(n_subspaces)
    )
    slices = F.array(
        *[
            F.slice(F.col(vec_col), s * sub_dim + 1, sub_dim)
            for s in range(n_subspaces)
        ]
    )
    for _ in range(n_iter):
        kern = pq_codes_int_batch_udf(cb_rows, n_codes, sub_dim)
        pairs = frame.select(
            F.posexplode(
                F.arrays_zip(kern(F.col(vec_col)).alias("_c"), slices.alias("_v"))
            ).alias("_sub", "_z")
        ).select(
            "_sub",
            F.col("_z._c").alias("_cell"),
            F.col("_z._v").alias("_sv"),
        )
        got = {
            (int(r["_sub"]), int(r["_cell"])): (
                [int(x) for x in r["_sv2"]],
                int(r["_n"]),
            )
            for r in pairs.groupBy("_sub", "_cell")
            .agg(
                F.expr(_sums_sql("_sv", sub_dim)).alias("_sv2"),
                F.count(F.lit(1)).alias("_n"),
            )
            .collect()
        }
        cb_rows = [
            (
                sub,
                cell,
                [_div0(s, got[(sub, cell)][1]) for s in got[(sub, cell)][0]]
                if (sub, cell) in got
                else prev,
            )
            for sub, cell, prev in cb_rows
        ]
    codebook = frame.sparkSession.createDataFrame(
        list(cb_rows), "_sub INT, _cell INT, _cv ARRAY<BIGINT>"
    )
    kern = pq_codes_int_batch_udf(cb_rows, n_codes, sub_dim)
    return codebook, kern(F.col(vec_col)).alias("_codes")


def build_pq_index(
    corpus: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 16,
    n_iter: int = 3,
    scale: int = 10**6,
    dim: int = 64,
    corpus_id: str = "c_id",
    corpus_vec: str = "c_vec",
) -> dict:
    """Train + encode the flat-PQ index (see pq_topk_quantized): exact
    integer per-subspace Lloyd codebooks (_pq_lloyd), then every corpus
    vector encoded to n_subspaces small codes. Artifacts: ``codebook``
    (_sub, _cell, _cv — n_subspaces·n_codes rows, broadcast at search
    time) and ``codes`` (corpus_id, _codes — ONE row per vector carrying
    the n_subspaces-code array, so the ADC scan is a row-local LUT fold
    instead of an n_subspaces× explode join + corpus-sized hash
    aggregate — see search_pq_index)."""
    from ..functions.vectors import _assert_packed_argmin_safe

    _assert_packed_argmin_safe(scale, scale, dim, n_codes)

    corpq = corpus.select(
        F.col(corpus_id), quantize_expr(corpus_vec, scale).alias("_qv")
    ).localCheckpoint(eager=False)
    cents, codes = _pq_lloyd(
        corpq, corpus_id, "_qv", n_subspaces, dim // n_subspaces, n_codes, n_iter
    )
    meta = _index_meta(
        corpus, "pq", n_subspaces=n_subspaces, n_codes=n_codes, scale=scale, dim=dim
    )
    return {
        "codebook": cents,
        "codes": corpq.select(F.col(corpus_id), codes),
        "meta": meta,
    }


def search_pq_index(
    queries: DataFrame,
    corpus: DataFrame,
    index: dict,
    k: int = 10,
    n_subspaces: int = 8,
    shortlist: int | None = None,
    scale: int = 10**6,
    dim: int = 64,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    corpus_id: str = "c_id",
    corpus_vec: str = "c_vec",
) -> DataFrame:
    """Flat-PQ/ADC search against a built/loaded index: per-query lookup
    table from the broadcast codebook, exact int64 ADC sums over the
    code table (the full-corpus scan — 32× smaller rows than floats),
    shortlist, exact cosine re-rank on ``corpus``. ``shortlist=None``
    derives the depth from the index's stored corpus count (falling back
    to a corpus scan only for pre-meta indexes); build params are
    validated against the index meta — a silent n_subspaces/dim/scale
    mismatch would return wrong neighbors."""
    meta = _validate_index_meta(
        index, "pq", n_subspaces=n_subspaces, scale=scale, dim=dim
    )
    if shortlist is None:
        shortlist = derived_shortlist(
            meta["n_corpus"] if meta else corpus.count()
        )
    sub_dim = dim // n_subspaces
    cents = index["codebook"]
    qsubs = _to_subs(
        queries.select(
            F.col(query_id), quantize_expr(query_vec, scale).alias("_qv")
        ),
        [query_id],
        "_qv",
        n_subspaces,
        sub_dim,
    )
    adc = qsubs.join(F.broadcast(cents), "_sub").select(
        F.col(query_id),
        "_sub",
        "_cell",
        _int_sqdist_expr("_sv", "_cv").alias("_d"),
    )
    if "_codes" in index["codes"].columns:
        # wide code table (round 8): flatten each query's lookup table
        # to one array indexed by _sub*n_codes+_code, broadcast it, and
        # fold the ADC sum ROW-LOCALLY over the per-vector code array —
        # no n_subspaces× explode join, no corpus-sized hash aggregate
        # (integer addition is order-free, so the sums are bit-identical
        # to the long-form join+agg).
        n_codes = (
            int(meta["n_codes"])
            if meta and meta.get("n_codes") is not None
            else cents.count() // n_subspaces
        )
        lut = (
            adc.groupBy(query_id)
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (F.col("_sub") * n_codes + F.col("_cell")).alias("_i"),
                            F.col("_d"),
                        )
                    )
                ).alias("_ps")
            )
            .select(
                F.col(query_id),
                _dense_lut_expr(n_subspaces * n_codes).alias("_lut"),
            )
        )
        approxd = index["codes"].crossJoin(F.broadcast(lut)).select(
            F.col(query_id),
            F.col(corpus_id),
            F.aggregate(
                F.sequence(F.lit(0), F.lit(n_subspaces - 1)),
                F.lit(0).cast("long"),
                lambda acc, s: acc
                + F.get("_lut", s * F.lit(n_codes) + F.get("_codes", s)),
            ).alias("_ad"),
        )
    else:
        # legacy long-form code table (pre-round-8 saved indexes)
        approxd = (
            index["codes"].join(F.broadcast(adc), ["_sub", "_cell"])
            .groupBy(query_id, corpus_id)
            .agg(F.sum("_d").alias("_ad"))
        )
    # two-phase per-query head: flat-PQ ADC scores EVERY corpus row per
    # query, the largest scan stage in the family (per_key_topn)
    short = per_key_topn(
        approxd, [query_id], [F.col("_ad"), F.col(corpus_id)], shortlist
    ).select(query_id, corpus_id)
    return _rerank_exact(
        short, queries, corpus, k, query_id, query_vec, corpus_id, corpus_vec
    )


def pq_topk_quantized(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_subspaces: int = 8,
    n_codes: int = 16,
    n_iter: int = 3,
    shortlist: int | None = None,
    scale: int = 10**6,
    dim: int = 64,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    corpus_id: str = "c_id",
    corpus_vec: str = "c_vec",
) -> DataFrame:
    """PQ/ADC top-k with DISTRIBUTED fixed-point per-subspace codebooks —
    the oracle-checkable sibling of pq_topk. Each subspace's codebook is
    the exact integer Lloyd recurrence (same construction as
    quantized_kmeans_cells, keyed by subspace); encoding is the packed
    integer argmin; the ADC distance is an exact int64 sum of per-subspace
    code distances; the shortlist re-rank is the fold-exact double cosine
    on the ORIGINAL vectors. Every stage reproduces bit-identically in SQL
    (see _pqq_oracle_sql).

    Scale: codebooks are n_subspaces·n_codes rows (broadcast); each
    training iteration and the final encode is one map pass of the
    EXACT-INTEGER Arrow kernel (functions.vectors.pq_codes_int_batch_udf
    — a dense int64 matmul per subspace per record batch, with the same
    tie-break packing as the twin) feeding one hash aggregate; only the
    n_subspaces·n_codes-row codebook is ever collected. The ADC scan is
    one broadcast join of the per-query lookup table against the code
    table — the corpus vectors themselves are only read again for the
    shortlist re-rank.

    ``shortlist=None`` (default) derives the re-rank depth from the corpus
    (derived_shortlist: max(1000, ceil(n/200))) — the ADC ordering is
    lossy, so a fixed depth that works at 200k starves at 2M (measured
    recall@10 0.35 at shortlist 500); the derived depth restores recall
    while the exact re-rank stays |queries|·n/200 rows.
    """
    index = build_pq_index(
        corpus, n_subspaces, n_codes, n_iter, scale, dim, corpus_id, corpus_vec
    )
    return search_pq_index(
        queries, corpus, index, k, n_subspaces, shortlist, scale, dim,
        query_id, query_vec, corpus_id, corpus_vec,
    )


def semantic_dedup_incremental_quantized(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    n_centroids: int = 16,
    n_iter: int = 3,
    scale: int = 10**6,
) -> DataFrame:
    """INCREMENTAL SemDeDup: judge only a NEW batch of embeddings against
    an EXISTING corpus — the daily-ingest shape of semantic dedup (the
    embedding-space twin of the minhash incremental_neardup): the corpus
    index (fixed-point k-means cells, quantized_kmeans_cells) is built
    from the corpus alone, each batch vector is assigned to its nearest
    corpus cell with the same exact-integer argmin, and a batch vector is
    pruned when any corpus vector in that cell has cosine >= threshold
    (``pruned_by`` = the smallest such corpus id). Batch rows are judged
    against the corpus only, not each other — run the batch through the
    full semantic_dedup_quantized afterwards if intra-batch duplicates
    also matter (documented asymmetric contract, same as
    incremental_neardup's new-batch probe).

    Returns (id_col, cell, is_kept, pruned_by) for the BATCH rows; an
    empty corpus has no cell to judge a batch row in, so it gives none.
    Fully oracle-checkable: every stage is the integer Lloyd recurrence
    plus the fold-exact double cosine (catalog x1_incremental_semdedup).

    Scale: the index builds ONCE on the corpus (amortized across daily
    batches); per batch the cost is one map-only assignment over the
    batch plus a cell-hash join against only the touched cells — the
    corpus is re-read but never re-indexed, and nothing is recomputed
    quadratically in corpus size.
    """
    src = corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    cents, _ = quantized_kmeans_cells(
        src, "_id", "_v", n_centroids=n_centroids, n_iter=n_iter, scale=scale
    )

    def assign_to(df: DataFrame) -> DataFrame:
        qdf = df.select(
            F.col("_id"), F.col("_v"), quantize_expr("_v", scale).alias("_qv")
        )
        return _assign_int_cells(
            qdf, "_qv", _int_centroid_rows(cents), n_centroids, ["_id", "_v"]
        )

    from ..functions.vectors import dot_expr, l2_norm_expr

    corpus_cells = assign_to(src).select(
        F.col("_id").alias("_ia"), F.col("_cell").alias("_ca"),
        F.col("_v").alias("_va"), l2_norm_expr("_v").alias("_na"),
    ).localCheckpoint(eager=False)
    batch_cells = assign_to(
        batch.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    ).select(
        "_id", "_cell", "_v", l2_norm_expr("_v").alias("_nb")
    ).localCheckpoint(eager=False)

    denom = F.col("_na") * F.col("_nb")
    sim = F.when(denom > 0, dot_expr("_va", "_v") / denom).otherwise(F.lit(0.0))
    dom = (
        batch_cells.join(corpus_cells, F.col("_cell") == F.col("_ca"))
        .withColumn("_sim", sim)
        .filter(F.col("_sim") >= threshold)
        .groupBy("_id")
        .agg(F.min("_ia").alias("pruned_by"))
    )
    return (
        batch_cells.join(dom, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("_cell").cast("long").alias("cell"),
            F.col("pruned_by").isNull().alias("is_kept"),
            F.col("pruned_by").cast("long"),
        )
    )


def build_ivfpq_index(
    corpus: DataFrame,
    n_centroids: int = 8,
    n_subspaces: int = 8,
    n_codes: int = 16,
    n_iter: int = 3,
    scale: int = 10**6,
    dim: int = 64,
    corpus_id: str = "c_id",
    corpus_vec: str = "c_vec",
) -> dict:
    """Train + encode the IVFADC index (see ivfpq_topk_quantized): the
    coarse quantizer, the residual PQ codebooks, and every vector's
    residual codes TAGGED with its coarse cell. Artifacts: ``centroids``
    (_cell, _cvec), ``codebook`` (_sub, _cell, _cv — residual-space,
    trained by _pq_lloyd), ``codes`` (corpus_id, _cell, _codes — one row
    per vector with the n_subspaces-code array, so the ADC scan folds
    row-locally). The cell tag
    is folded into the code table at build time — searches filter
    probed cells straight off the codes; re-joining a separate
    assignment table per batch was a measured 39 s-per-search cliff at
    200k."""
    sub_dim = dim // n_subspaces

    # fail fast on the theoretical packing bound (residual components are
    # ≤ 2·scale for normalized inputs, so both sides of every argmin are
    # bounded by 2·scale); the Arrow kernels re-check per batch from the
    # ACTUAL magnitudes, which also catches unnormalized vectors
    from ..functions.vectors import _assert_packed_argmin_safe

    _assert_packed_argmin_safe(
        2 * scale, 2 * scale, dim, max(n_centroids, n_codes)
    )

    # 1. coarse quantizer + cell assignment (with_vec: the assignment
    #    carries the quantized vector, so the residual projection below
    #    needs NO join back to a separately re-quantized corpus — that
    #    join was a second corpus-sized shuffle/broadcast per build)
    cents, af = quantized_kmeans_cells(
        corpus, corpus_id, corpus_vec, n_centroids, n_iter, scale, with_vec=True
    )

    # 2. integer residuals against the assigned centroid — a map-side
    #    projection over the assignment (centroids are n_centroids rows,
    #    broadcast): no corpus-keyed exchange remains anywhere in the build
    res = (
        af.join(F.broadcast(cents), "_cell")
        .select(
            F.col(corpus_id),
            F.col("_cell"),
            F.zip_with("_qv", "_cvec", lambda a, b: a - b).alias("_rv"),
        )
        .localCheckpoint(eager=False)
    )

    # 3. per-subspace codebooks trained on the residuals (the same integer
    #    Lloyd as build_pq_index), then every residual encoded
    pcents, codes = _pq_lloyd(
        res, corpus_id, "_rv", n_subspaces, sub_dim, n_codes, n_iter
    )
    return {
        "centroids": cents,
        "codebook": pcents,
        "codes": res.select(F.col(corpus_id), "_cell", codes),
        "meta": _index_meta(
            corpus, "ivfpq", n_centroids=n_centroids,
            n_subspaces=n_subspaces, n_codes=n_codes, scale=scale, dim=dim,
        ),
    }


def search_ivfpq_index(
    queries: DataFrame,
    corpus: DataFrame,
    index: dict,
    k: int = 10,
    nprobe: int = 4,
    n_subspaces: int = 8,
    shortlist: int | None = None,
    scale: int = 10**6,
    dim: int = 64,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    corpus_id: str = "c_id",
    corpus_vec: str = "c_vec",
) -> DataFrame:
    """IVFADC search against a built/loaded index: probe nprobe nearest
    coarse cells, build the per-(query, cell) residual ADC lookup table
    from the broadcast codebook, exact-int64 ADC scan of the probed
    cells' codes only, shortlist, exact cosine re-rank on ``corpus``.
    ``shortlist=None`` derives the depth from the index's stored corpus
    count (no per-batch corpus scan); n_subspaces/scale/dim are validated
    against the index meta."""
    meta = _validate_index_meta(
        index, "ivfpq", n_subspaces=n_subspaces, scale=scale, dim=dim
    )
    if shortlist is None:
        shortlist = derived_shortlist(
            meta["n_corpus"] if meta else corpus.count()
        )
    sub_dim = dim // n_subspaces
    cents, pcents = index["centroids"], index["codebook"]

    # query side: probe nprobe nearest coarse cells
    qq = queries.select(F.col(query_id), quantize_expr(query_vec, scale).alias("_qv"))
    probes = (
        qq.crossJoin(F.broadcast(cents))
        .select(
            F.col(query_id),
            F.col("_cell"),
            F.col("_cvec"),
            _int_sqdist_expr("_qv", "_cvec").alias("_d"),
            F.col("_qv"),
        )
        .withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy(query_id).orderBy("_d", "_cell")),
        )
        .filter(F.col("_rn") <= nprobe)
        .select(
            query_id,
            "_cell",
            F.zip_with("_qv", "_cvec", lambda a, b: a - b).alias("_qrv"),
        )
    )

    # per-(query, probed cell) residual ADC lookup table — the
    # (query_id, _cell) key stays as two real columns through the
    # subspace explode, so arbitrary query_id names/types survive
    # (string-packing through concat_ws would NULL-cast non-integer ids
    # and silently drop all of that query's probes).
    qsubs = _to_subs(probes, [query_id, "_cell"], "_qrv", n_subspaces, sub_dim)
    adc = qsubs.join(
        F.broadcast(pcents.withColumnRenamed("_cell", "_code")), "_sub"
    ).select(
        F.col(query_id),
        F.col("_cell"),
        "_sub",
        "_code",
        _int_sqdist_expr("_sv", "_cv").alias("_d"),
    )

    # ADC scan over probed cells only, shortlist, exact re-rank — the
    # code table carries its cell tag, so the probed-cell filter is one
    # broadcast join against the cell-tagged codes
    if "_codes" in index["codes"].columns:
        # wide code table (round 8): one flattened residual LUT per
        # (query, probed cell), broadcast; the ADC sum is a row-local
        # fold over each vector's code array — no n_subspaces× explode
        # join, no (query, corpus)-sized hash aggregate. Bit-identical
        # sums (order-free integer addition).
        n_codes = (
            int(meta["n_codes"])
            if meta and meta.get("n_codes") is not None
            else pcents.count() // n_subspaces
        )
        lut = (
            adc.groupBy(query_id, "_cell")
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (F.col("_sub") * n_codes + F.col("_code")).alias("_i"),
                            F.col("_d"),
                        )
                    )
                ).alias("_ps")
            )
            .select(
                F.col(query_id),
                "_cell",
                _dense_lut_expr(n_subspaces * n_codes).alias("_lut"),
            )
        )
        approxd = index["codes"].join(F.broadcast(lut), "_cell").select(
            F.col(query_id),
            F.col(corpus_id),
            F.aggregate(
                F.sequence(F.lit(0), F.lit(n_subspaces - 1)),
                F.lit(0).cast("long"),
                lambda acc, s: acc
                + F.get("_lut", s * F.lit(n_codes) + F.get("_codes", s)),
            ).alias("_ad"),
        )
    else:
        # legacy long-form code table (pre-round-8 saved indexes)
        approxd = (
            index["codes"]
            .join(
                F.broadcast(adc),
                ["_cell", "_sub", "_code"],
            )
            .groupBy(query_id, corpus_id)
            .agg(F.sum("_d").alias("_ad"))
        )
    # two-phase per-query head over the probed-cell ADC sums
    # (nprobe/n_centroids of the corpus per query — data-sized)
    short = per_key_topn(
        approxd, [query_id], [F.col("_ad"), F.col(corpus_id)], shortlist
    ).select(query_id, corpus_id)
    return _rerank_exact(
        short, queries, corpus, k, query_id, query_vec, corpus_id, corpus_vec
    )


def ivfpq_topk_quantized(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 4,
    n_subspaces: int = 8,
    n_codes: int = 16,
    n_iter: int = 3,
    shortlist: int | None = None,
    scale: int = 10**6,
    dim: int = 64,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    corpus_id: str = "c_id",
    corpus_vec: str = "c_vec",
) -> DataFrame:
    """IVF-PQ / IVFADC (Jégou et al. 2011) — the canonical billion-vector
    index, composed here entirely in EXACT fixed-point arithmetic so the
    whole pipeline is oracle-checkable: a coarse quantizer
    (quantized_kmeans_cells) partitions the corpus into cells, each
    vector's RESIDUAL against its cell centroid is product-quantized
    with per-subspace integer Lloyd codebooks, and a query probes its
    ``nprobe`` nearest cells, builds a per-(query, cell) residual ADC
    lookup table, scans only the probed cells' 8-byte codes with exact
    int64 ADC sums, and re-ranks a ``shortlist`` with the fold-exact
    double cosine on the ORIGINAL vectors.

    Why residuals: within a cell, vectors share the centroid's coarse
    position, so quantizing (v - centroid) spends the codebook's
    resolution on the locally-varying part — the standard reason IVFADC
    beats flat PQ at equal code size. Why this composes at 100 TB: the
    coarse index bounds the ADC scan to nprobe/n_centroids of the
    corpus, codes are 32× smaller than vectors (memory residency), and
    every stage is a map pass or a cell-hash join; the corpus is never
    collected.

    ``shortlist=None`` (default) derives the re-rank depth from the
    corpus (derived_shortlist) — see pq_topk_quantized; the round-5
    probe measured recall@10 0.47 at 2M with a fixed 500 while the same
    coarse index under IVF's near-exact ordering scored 1.00, so the
    depth, not nprobe, is the binding constraint.
    """
    index = build_ivfpq_index(
        corpus, n_centroids, n_subspaces, n_codes, n_iter, scale, dim,
        corpus_id, corpus_vec,
    )
    return search_ivfpq_index(
        queries, corpus, index, k, nprobe, n_subspaces, shortlist, scale,
        dim, query_id, query_vec, corpus_id, corpus_vec,
    )


def sign_words_expr(vec_col, dim: int, word_bits: int = 32):
    """Pack per-coordinate sign bits (``v[j] >= 0``) into BIGINT words.

    The 1-bit (binary-quantization) vector code: bit ``j`` of word ``w``
    is set iff coordinate ``w*word_bits + j`` is non-negative. 32 bits per
    word keeps every intermediate positive and far from int64 overflow, so
    the packing is plain integer addition of power-of-two literals — any
    engine reproduces it bit-exactly (the DuckDB twin uses the identical
    CASE/shift form). Sign extraction is a float comparison against zero,
    which is exact under float->double widening, so the code is
    engine-independent even though the inputs are floats.

    Built as ONE ``F.expr`` SQL string: the per-bit Column form cost
    ~6 Py4J round-trips × dim (~0.3 s of pure driver latency per call
    site — the x2 serve-path action floor the round-10 verdict flagged
    was mostly PLAN BUILD, not execution). Integer adds of power-of-two
    literals are exact either way, so the packed words are unchanged.
    """
    if not isinstance(vec_col, str):
        raise TypeError("sign_words_expr takes a column NAME (SQL-built)")
    n_words = (dim + word_bits - 1) // word_bits
    words = []
    for w in range(n_words):
        bits = " + ".join(
            f"(CASE WHEN CAST({vec_col}[{w * word_bits + j}] AS DOUBLE) >= 0 "
            f"THEN {1 << j}L ELSE 0L END)"
            for j in range(min(word_bits, dim - w * word_bits))
        )
        words.append(f"({bits})")
    return F.expr("array(" + ", ".join(words) + ")")


def hamming_words_expr(a: str, b: str):
    """Exact Hamming distance between two equal-length BIGINT word arrays."""
    return F.aggregate(
        F.zip_with(
            F.col(a), F.col(b), lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _hamming_shortlist(
    ham: DataFrame, depth: int, query_id: str, corpus_id: str
) -> DataFrame:
    """EXACT per-query Hamming shortlist via histogram pruning — the
    width-scaling fix for the BQ family (round-11 verdict #7: IVF-BQ
    serving grew width-linearly because every (query, candidate) Hamming
    row rode per_key_topn's two corpus-mass exchanges).

    Hamming distance is a BOUNDED INT (<= dim), so a per-(query, _ham)
    count aggregate map-side-combines the width x candidate-mass rows
    down to <= 65 rows per query per task; a cumulative sum over that
    tiny histogram yields each query's pruning radius ``_thr`` = the
    smallest h whose cumulative count reaches ``depth``. The candidate
    stream is then filtered MAP-SIDE to _ham <= _thr (broadcast of
    width x 1 thresholds) before any ranking exchange — survivors are
    ~depth + ties per query instead of the whole scanned cell/corpus.

    Exactness: the filtered set contains every row with _ham < _thr and
    ALL rows tied at _thr, a superset of the top-``depth`` under the
    total order (_ham, corpus_id); per_key_topn then selects exactly the
    rows the unpruned form would. The Hamming column is recomputed by the
    two branches (histogram + prune) — XOR/POPCNT over the code words is
    cheaper than materializing the 10^8-row stream once at width 5000.

    Callers gate this behind ``wide_queries``: the histogram pass adds
    two stages, which at narrow width costs more in AQE stage floors
    than the pruning saves (measured at the ~sf1 replica, width 4:
    bq 2.5→4.5 s, ivfbq 5.5→11.1 s), while at width 5000 the pruning is
    the difference between shuffling ~10^8 rows and ~10^6.
    """
    hist = ham.groupBy(query_id, "_ham").agg(F.count(F.lit(1)).alias("_hc"))
    wcum = Window.partitionBy(query_id).orderBy("_ham")
    thr = (
        hist.withColumn("_cb", F.sum("_hc").over(wcum) - F.col("_hc"))
        .filter(F.col("_cb") < depth)
        .groupBy(query_id)
        .agg(F.max("_ham").alias("_thr"))
    )
    pruned = (
        ham.join(F.broadcast(thr), query_id)
        .filter(F.col("_ham") <= F.col("_thr"))
        .drop("_thr")
    )
    return per_key_topn(
        pruned, [query_id], [F.col("_ham"), F.col(corpus_id)], depth
    ).select(query_id, corpus_id)


def build_bq_index(
    corpus: DataFrame,
    dim: int = 64,
    word_bits: int = 32,
    corpus_id: str = "c_id",
    corpus_vec: str = "c_vec",
) -> dict:
    """Encode the binary-quantization index (see bq_topk): each corpus
    vector's coordinate signs packed into dim/word_bits int64 words —
    32× smaller than float32. One artifact: ``codes`` (corpus_id, _cw).
    No training pass; build cost is one map over the corpus."""
    return {
        "codes": spread(
            corpus.select(
                F.col(corpus_id),
                sign_words_expr(corpus_vec, dim, word_bits).alias("_cw"),
            )
        ),
        "meta": _index_meta(corpus, "bq", dim=dim, word_bits=word_bits),
    }


def search_bq_index(
    queries: DataFrame,
    corpus: DataFrame,
    index: dict,
    k: int = 10,
    dim: int = 64,
    shortlist: int | None = None,
    word_bits: int = 32,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    corpus_id: str = "c_id",
    corpus_vec: str = "c_vec",
    wide_queries: bool = False,
) -> DataFrame:
    """BQ search against a built/loaded index: XOR/POPCNT Hamming scan of
    the full code table (32× smaller rows than the float corpus),
    shortlist, exact cosine re-rank on ``corpus``. ``shortlist=None``
    derives the depth from the index's stored corpus count (no per-batch
    corpus scan); dim/word_bits are validated against the index meta."""
    meta = _validate_index_meta(index, "bq", dim=dim, word_bits=word_bits)
    if shortlist is None:
        shortlist = derived_shortlist(
            meta["n_corpus"] if meta else corpus.count()
        )
    qw = F.broadcast(
        queries.select(
            F.col(query_id), sign_words_expr(query_vec, dim, word_bits).alias("_qw")
        )
    )
    ham = index["codes"].crossJoin(qw).select(
        F.col(query_id),
        F.col(corpus_id),
        hamming_words_expr("_qw", "_cw").alias("_ham"),
    )
    # wide batches: histogram-pruned exact shortlist (each query's
    # depth-radius prunes map-side before any ranking exchange); narrow
    # batches: direct two-phase top-k — fewer stages beat pruning when
    # the candidate stream is small (_hamming_shortlist docstring)
    if wide_queries:
        short = _hamming_shortlist(ham, max(k, shortlist), query_id, corpus_id)
    else:
        short = per_key_topn(
            ham, [query_id], [F.col("_ham"), F.col(corpus_id)], max(k, shortlist)
        ).select(query_id, corpus_id)
    return _rerank_exact(
        short, queries, corpus, k, query_id, query_vec, corpus_id, corpus_vec
    )


def bq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    dim: int = 64,
    shortlist: int | None = None,
    word_bits: int = 32,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    corpus_id: str = "c_id",
    corpus_vec: str = "c_vec",
) -> DataFrame:
    """Binary-quantization top-k: 1-bit sign codes, Hamming scan, cosine
    re-rank — the modern binary-embedding retrieval baseline.

    Encode packs each vector's coordinate signs into ``dim/word_bits``
    int64 words (sign_words_expr) — 32x smaller than float32, so a 100 TB
    float corpus becomes ~3 TB of codes that fit page-cache-resident on a
    modest cluster. Search is a full scan, but over codes: per (query,
    vector) pair the cost is ``n_words`` XOR+POPCNT ops
    (hamming_words_expr), the cheapest candidate filter any index offers
    and a natural SIMD/codegen shape. A ``max(k, shortlist)``-deep
    Hamming shortlist per query (ties toward the lower corpus id) then
    pays the fold-exact double cosine on the ORIGINAL float vectors.

    Unlike lsh_topk (random-hyperplane buckets — probabilistic candidate
    RECALL), the code here is the deterministic coordinate-sign vector and
    every corpus vector is scored, so the shortlist can never miss a
    near-neighbour whose Hamming distance ranks it; the trade is the O(n)
    scan, which is why production systems layer BQ inside IVF cells — the
    composition is exactly ivf + this scan and both pieces exist here.
    Every stage (packing, XOR/POPCNT, ranking) is integer-exact and fully
    native JVM codegen — no Python anywhere, and the whole pipeline is
    hash-verified against the DuckDB twin (queries_catalog_ext.x2_topk_bq).

    Scale: queries broadcast (one corpus scan, no shuffle until the
    k-rows-per-query aggregations); the corpus code table is never
    collected.

    ``shortlist=None`` (default) derives the depth from the corpus
    (derived_shortlist) — the 1-bit Hamming ordering is the coarsest in
    the family (round-5 probe: recall@10 0.74 at 2M with a fixed 2000),
    so the corpus-scaled depth matters most here.
    """
    index = build_bq_index(corpus, dim, word_bits, corpus_id, corpus_vec)
    return search_bq_index(
        queries, corpus, index, k, dim, shortlist, word_bits,
        query_id, query_vec, corpus_id, corpus_vec,
    )


def build_ivfbq_index(
    corpus: DataFrame,
    n_centroids: int = 8,
    n_iter: int = 3,
    dim: int = 64,
    word_bits: int = 32,
    scale: int = 10**6,
    corpus_id: str = "c_id",
    corpus_vec: str = "c_vec",
) -> dict:
    """Train + encode the IVF-BQ index (see ivfbq_topk): integer-exact
    coarse quantizer plus cell-tagged sign codes. Artifacts:
    ``centroids`` (_cell, _cvec) and ``codes`` (corpus_id, _cw, _cell —
    the per-cell Hamming scan table)."""
    cents, af = quantized_kmeans_cells(
        corpus, corpus_id, corpus_vec, n_centroids, n_iter, scale
    )
    cw = corpus.select(
        F.col(corpus_id),
        sign_words_expr(corpus_vec, dim, word_bits).alias("_cw"),
    ).join(af, corpus_id)
    meta = _index_meta(
        corpus, "ivfbq", n_centroids=n_centroids, dim=dim,
        word_bits=word_bits, scale=scale,
    )
    return {"centroids": cents, "codes": cw, "meta": meta}


def search_ivfbq_index(
    queries: DataFrame,
    corpus: DataFrame,
    index: dict,
    k: int = 10,
    nprobe: int = 4,
    dim: int = 64,
    shortlist: int | None = None,
    word_bits: int = 32,
    scale: int = 10**6,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    corpus_id: str = "c_id",
    corpus_vec: str = "c_vec",
    wide_queries: bool = False,
) -> DataFrame:
    """IVF-BQ search against a built/loaded index: probe nprobe nearest
    cells, XOR/POPCNT Hamming scan of the probed cells' codes only,
    shortlist, exact cosine re-rank on ``corpus``. ``shortlist=None``
    derives the depth from the index's stored corpus count (no per-batch
    corpus scan); dim/word_bits/scale are validated against the meta."""
    meta = _validate_index_meta(
        index, "ivfbq", dim=dim, word_bits=word_bits, scale=scale
    )
    if shortlist is None:
        shortlist = derived_shortlist(
            meta["n_corpus"] if meta else corpus.count()
        )
    cents = index["centroids"]
    qq = queries.select(
        F.col(query_id), quantize_expr(query_vec, scale).alias("_qv")
    )
    probes = (
        qq.crossJoin(F.broadcast(cents))
        .select(
            F.col(query_id),
            F.col("_cell"),
            _int_sqdist_expr("_qv", "_cvec").alias("_d"),
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(query_id).orderBy("_d", "_cell")
            ),
        )
        .filter(F.col("_rn") <= nprobe)
        .select(query_id, "_cell")
    )
    qw = F.broadcast(
        queries.select(
            F.col(query_id),
            sign_words_expr(query_vec, dim, word_bits).alias("_qw"),
        )
    )
    ham = (
        F.broadcast(probes)
        .join(index["codes"], "_cell")
        .join(qw, query_id)
        .select(
            F.col(query_id),
            F.col(corpus_id),
            hamming_words_expr("_qw", "_cw").alias("_ham"),
        )
    )
    # wide batches: histogram-pruned exact shortlist — the width-5000
    # fix: the probed cells' (query x candidate) stream never reaches a
    # ranking exchange unpruned; narrow batches: direct two-phase top-k
    # (_hamming_shortlist docstring has the measured trade)
    if wide_queries:
        short = _hamming_shortlist(ham, max(k, shortlist), query_id, corpus_id)
    else:
        short = per_key_topn(
            ham, [query_id], [F.col("_ham"), F.col(corpus_id)], max(k, shortlist)
        ).select(query_id, corpus_id)
    return _rerank_exact(
        short, queries, corpus, k, query_id, query_vec, corpus_id, corpus_vec
    )


def ivfbq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 4,
    n_iter: int = 3,
    dim: int = 64,
    shortlist: int | None = None,
    word_bits: int = 32,
    scale: int = 10**6,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    corpus_id: str = "c_id",
    corpus_vec: str = "c_vec",
) -> DataFrame:
    """IVF + binary quantization — the composition bq_topk's docstring
    promises: the coarse quantizer (quantized_kmeans_cells, exact
    integer Lloyd) prunes the scan to ``nprobe``/``n_centroids`` of the
    corpus, and inside the probed cells the candidate filter is the
    1-bit sign-code XOR/POPCNT Hamming scan (sign_words_expr /
    hamming_words_expr) instead of BQ's full-corpus pass — cutting BOTH
    the scan fraction (IVF's lever) and the per-candidate cost (BQ's
    lever). A ``max(k, shortlist)``-deep Hamming shortlist per query
    (corpus-derived by default) then pays the fold-exact double cosine
    on the ORIGINAL float vectors.

    Every stage is integer-exact (quantized centroids, sign bits,
    POPCNT, packed argmin ties) so the WHOLE pipeline has a DuckDB twin
    (queries_catalog_ext.x2_topk_ivfbq) — the only family member that
    composes two indexes and stays fully hash-verified.

    Scale: k-means trains distributed (see quantized_kmeans_cells);
    probing reads nprobe/n_centroids of the code table (32x smaller
    than the vectors); the Hamming shortlist is a two-phase
    per_key_topn (no corpus-sized single-task sort); the exact re-rank
    touches shortlist·|queries| rows.
    """
    index = build_ivfbq_index(
        corpus, n_centroids, n_iter, dim, word_bits, scale, corpus_id, corpus_vec
    )
    return search_ivfbq_index(
        queries, corpus, index, k, nprobe, dim, shortlist, word_bits, scale,
        query_id, query_vec, corpus_id, corpus_vec,
    )


# ======================================================================
# MMR — maximal-marginal-relevance diversified top-k
# ======================================================================


def mmr_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    shortlist: int = 16,
    lam_num: int = 7,
    lam_den: int = 10,
    scale: int = 10 ** 6,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    corpus_id: str = "c_id",
    corpus_vec: str = "c_vec",
) -> DataFrame:
    """Diversified top-k (Carbonell & Goldstein 1998 MMR): greedily pick
    ``k`` results per query maximizing ``lam·rel(q,c) − (1−lam)·max
    sim(c, selected)`` — the retrieval/sampling step that wants RESULTS
    spread across near-duplicate clusters instead of k copies of the
    nearest one (diverse few-shot selection, dedup-aware RAG).

    Integer-exact by construction so the greedy trace is bit-identical on
    any engine: vectors quantize to scaled int64 (``quantize_expr``),
    relevance/pairwise similarity are int64 dot products, and the MMR
    score is ``lam_num·rel − (lam_den−lam_num)·maxsim`` (λ as an exact
    rational, default 7/10). Ties break toward the lower corpus id. The
    DuckDB twin unrolls the k greedy rounds as CTEs
    (queries_catalog_quality._mmr_oracle_sql).

    Scale: the corpus is touched ONLY by the relevance pass (one
    broadcast-queries map scan + two-phase per-query top-``shortlist``,
    exactly brute_force_topk's shape — compose with search_*_index for a
    sub-linear candidate stage). The greedy then runs as one
    ``groupBy(query_id).applyInPandas`` kernel: a group is one query's
    ≤``shortlist`` rows, whose pairwise sims are one int64 matmul, so the
    Python boundary moves shortlist·dim ints per query, never corpus rows.

    NULLs follow SQL, as in the twin: a NULL vector makes every dot with
    it NULL (a NULL element does too, as in the relevance fold), ``max``
    skips NULL sims, and a NULL score ranks after every other
    (``DESC NULLS LAST``), then by corpus id.

    Returns (query_id, corpus_id, sel_rank, rel, maxsim, mmr): sel_rank
    = greedy pick order 1..k; maxsim = the candidate's max similarity to
    the already-selected set at pick time (0 for the first pick);
    mmr = the packed integer score it won the round with.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    # λ=0 would make the first round's mmr (= lam_num·rel) constant: the
    # Spark pick would degenerate to lowest-corpus-id while the unrolled
    # oracle's first round orders by rel DESC — reject the degenerate λ
    # instead of silently diverging from the twin (advisor round-9).
    if not 1 <= lam_num <= lam_den:
        raise ValueError(
            f"mmr_topk needs 1 <= lam_num <= lam_den (got {lam_num}/{lam_den}); "
            "lam_num=0 makes the first greedy round order-degenerate"
        )
    lam_rem = lam_den - lam_num
    qq = queries.select(
        F.col(query_id), quantize_expr(query_vec, scale).alias("_qqv")
    )
    cc = corpus.select(
        F.col(corpus_id), quantize_expr(corpus_vec, scale).alias("_qcv")
    )
    rel = (
        spread(cc)
        .crossJoin(F.broadcast(qq))
        .select(
            F.col(query_id),
            F.col(corpus_id),
            F.aggregate(
                F.zip_with("_qqv", "_qcv", lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("rel"),
        )
    )
    short = per_key_topn(
        rel, [query_id], [F.desc("rel"), F.col(corpus_id)], shortlist
    )
    null = np.iinfo(np.int64).min  # SQL NULL: ranks below every score

    def greedy(pdf):
        import pandas as pd

        pdf = pdf.sort_values(corpus_id, kind="mergesort")
        n = len(pdf)
        vecs = pdf["_qcv"].to_numpy()
        ok = np.flatnonzero([v is not None and not pd.isna(v).any() for v in vecs])
        sims = np.full((n, n), null)
        if len(ok):
            v = np.stack(vecs[ok]).astype(np.int64)
            sims[np.ix_(ok, ok)] = v @ v.T
        rel = np.where(pdf["_rel_null"], null, pdf["rel"].to_numpy(np.int64))
        left = np.ones(n, dtype=bool)
        maxsim = np.zeros(n, dtype=np.int64)
        picks, ms, scores = [], [], []
        for _ in range(min(k, n)):
            scored = (rel != null) & (maxsim != null)
            mmr = np.where(scored, lam_num * rel - lam_rem * maxsim, null)
            # first-occurrence argmax over id-sorted rows: ties go to the
            # lower id, and all-NULL scores to the lowest remaining id
            cand = np.flatnonzero(left)
            i = cand[np.argmax(mmr[cand])]
            picks.append(i)
            ms.append(maxsim[i])
            scores.append(mmr[i])
            left[i] = False
            maxsim = sims[i] if len(picks) == 1 else np.maximum(maxsim, sims[i])

        def col(x):
            x = np.asarray(x, dtype=np.int64)
            return pd.arrays.IntegerArray(x, x == null)

        return pd.DataFrame(
            {
                query_id: pdf[query_id].to_numpy()[picks],
                corpus_id: pdf[corpus_id].to_numpy()[picks],
                "sel_rank": np.arange(1, len(picks) + 1, dtype=np.int64),
                "rel": col(rel[picks]),
                "maxsim": col(ms),
                "mmr": col(scores),
            }
        )

    schema = StructType(
        [
            StructField(query_id, queries.schema[query_id].dataType),
            StructField(corpus_id, corpus.schema[corpus_id].dataType),
        ]
        + [StructField(c, LongType()) for c in ("sel_rank", "rel", "maxsim", "mmr")]
    )
    return (
        short.join(cc, corpus_id)
        .select(
            query_id,
            corpus_id,
            F.coalesce("rel", F.lit(0)).alias("rel"),
            F.isnull("rel").alias("_rel_null"),
            "_qcv",
        )
        .groupBy(query_id)
        .applyInPandas(greedy, schema)
    )
