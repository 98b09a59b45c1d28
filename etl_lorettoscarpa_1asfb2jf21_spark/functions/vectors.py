"""Vector math over ``array<float>`` embedding columns (X2 support).

Native higher-order functions (zip_with / aggregate) — executed JVM-side,
no Python round-trip, so a brute-force top-k scan stays shuffle-and-codegen
bound even at 10^9 vectors.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_expr(a: Column | str, b: Column | str) -> Column:
    """Dot product of two float arrays (double result)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm_expr(a: Column | str) -> Column:
    """Euclidean norm of a float array."""
    ca = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(
            F.transform(ca, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_similarity_expr(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    denom = l2_norm_expr(ca) * l2_norm_expr(cb)
    return F.when(denom > 0, dot_expr(ca, cb) / denom).otherwise(F.lit(0.0))


def normalize_expr(a: Column | str) -> Column:
    """Unit-normalize a float array (pre-normalizing query+corpus turns
    cosine top-k into dot-product top-k — half the per-pair flops)."""
    ca = F.col(a) if isinstance(a, str) else a
    n = l2_norm_expr(ca)
    return F.when(n > 0, F.transform(ca, lambda x: x.cast("double") / n)).otherwise(
        F.transform(ca, lambda x: x.cast("double"))
    )


# Fixed-point verify-dot scale: normalized elements are floor-quantized at
# 2^20 before the pairwise dot, so every product (<= 2^40) and every partial
# sum (<= dim * 2^40 = 2^46 at dim=64) is an integer exactly representable
# in float64 — the dot is ORDER-FREE and therefore bit-identical between a
# numpy einsum over Arrow batches, a native Spark left fold, and a DuckDB
# list_dot_product fold. That is what lets the gate-visible near-dup verify
# run on the Arrow batch kernel while keeping a full value-hash oracle (the
# round-9 verdict's top item: the interpreted fold over 47M candidate pairs
# was the residual 5.8x vs DuckDB at ~sf1).
QDOT_SCALE_BITS = 20
QDOT_SCALE = float(1 << QDOT_SCALE_BITS)  # 1048576.0 — multiply is exact
QDOT_DENOM = float(1 << (2 * QDOT_SCALE_BITS))  # 2^40


def qdot_unit_expr(a: Column | str, b: Column | str) -> Column:
    """Fixed-point dot of two UNIT-NORMALIZED double arrays — the native
    (portable) twin of qdot_unit_batch_udf, bit-identical by construction:
    floor(e * 2^20) per element, integer-exact product-sum, / 2^40."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    s = F.lit(QDOT_SCALE)
    return (
        F.aggregate(
            F.zip_with(ca, cb, lambda x, y: F.floor(x * s) * F.floor(y * s)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        / F.lit(QDOT_DENOM)
    )


def qdot_unit_batch_udf():
    """Arrow-batched fixed-point dot over unit-normalized double arrays.

    One float64 einsum per record batch over the floor-quantized elements;
    every intermediate is an integer < 2^53, so the result is bit-identical
    to qdot_unit_expr's left fold and to the DuckDB list_dot_product twin
    (order-free integer arithmetic — equality asserted in
    tests/test_operators.py). Guard: inputs must be unit-normalized; a
    quantized magnitude above 2^20 would break the float64 exactness bound
    (dim * qmax^2 < 2^53), so the kernel fails fast instead of silently
    returning order-dependent sums.
    """
    import numpy as np
    import pandas

    from pyspark.sql.pandas.functions import pandas_udf

    def _qdot(a, b):
        A = np.floor(np.asarray(a.tolist(), dtype=np.float64) * QDOT_SCALE)
        B = np.floor(np.asarray(b.tolist(), dtype=np.float64) * QDOT_SCALE)
        if A.size:
            qmax = max(np.abs(A).max(), np.abs(B).max())
            if A.shape[1] * qmax * qmax >= 2.0**53:
                raise ValueError(
                    "qdot_unit_batch_udf needs unit-normalized inputs: "
                    f"max|q|={qmax} at dim={A.shape[1]} exceeds the float64 "
                    "exact-integer bound (2^53) — the dot would become "
                    "order-dependent"
                )
        return pandas.Series(np.einsum("ij,ij->i", A, B) / QDOT_DENOM)

    _qdot.__annotations__ = {
        "a": pandas.Series,
        "b": pandas.Series,
        "return": pandas.Series,
    }
    return pandas_udf(_qdot, "double")


def quantize_unit_expr(a: Column | str) -> Column:
    """Floor-quantize a UNIT-NORMALIZED double array to array<int> at the
    QDOT scale — computed ONCE per corpus row (dim interpreted steps per
    ROW, not per candidate pair), and int32 elements halve the per-pair
    Arrow transfer versus shipping the double vectors."""
    ca = F.col(a) if isinstance(a, str) else a
    s = F.lit(QDOT_SCALE)
    return F.transform(ca, lambda x: F.floor(x * s).cast("int"))


def qdot_int_batch_udf():
    """Arrow-batched dot of two PRE-QUANTIZED int32 arrays, / 2^40.

    One int64 einsum per record batch — exact integer arithmetic,
    order-free, bit-identical to qdot_unit_expr over the same normalized
    inputs and to the DuckDB list_dot_product twin (equality asserted in
    tests/test_operators.py). NOT the near-dup verify hot path: a
    per-PAIR kernel pays the ~0.7 us/row JVM<->Arrow list-serialization
    floor on |pairs| rows (measured ~40 s for 53M pairs at ~sf1, CPU-flat
    vs batch size); the per-bucket tiled BLAS matmul
    (operators/similarity._quantized_bucket_matmul_pairs) moves only
    corpus-sized rows across the boundary and won by ~3x. Kept as the
    row-shaped exact-integer dot for bounded pair sets.
    """
    import numpy as np
    import pandas

    from pyspark.sql.pandas.functions import pandas_udf

    def _qdot(a, b):
        if not len(a):
            return pandas.Series(np.empty(0, dtype=np.float64))
        A = np.asarray(np.stack(a.to_numpy()), dtype=np.int64)
        B = np.asarray(np.stack(b.to_numpy()), dtype=np.int64)
        return pandas.Series(np.einsum("ij,ij->i", A, B) / QDOT_DENOM)

    _qdot.__annotations__ = {
        "a": pandas.Series,
        "b": pandas.Series,
        "return": pandas.Series,
    }
    return pandas_udf(_qdot, "double")


def array_lit(values) -> Column:
    """Constant double-array column from a Python sequence, built with ONE
    gateway call.

    ``F.lit(list)`` expands element-wise — len(values) Py4J round-trips plus
    wrapper overhead each, ~10 ms per element of pure driver latency; a
    16x64 centroid table costs ~12 s of plan-build time that way. A SQL
    ``array(...)`` literal parses JVM-side and Catalyst constant-folds it.
    ``repr(float)`` round-trips exactly, so values are bit-identical.
    """
    return F.expr("array(" + ",".join(f"{float(v)!r}D" for v in values) + ")")


def cosine_batch_udf():
    """Arrow-batched cosine: numpy matrix math over whole record batches.

    The sanctioned Python fast path for dense linear algebra — higher-order
    functions (zip_with/aggregate) evaluate interpreted per element, ~100
    ns/step; numpy does the same dot as a BLAS-backed batch operation.
    No engine plan uses it (the cosine operators fold natively, so their
    plans stay JVM-side and twin-checkable); tools/runner.py runs it once
    to warm the Arrow worker.
    """
    import numpy as np
    import pandas

    from pyspark.sql.pandas.functions import pandas_udf

    def _cos(a, b):
        A = np.asarray(a.tolist(), dtype=np.float64)
        B = np.asarray(b.tolist(), dtype=np.float64)
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        out = np.divide(num, den, out=np.zeros_like(num), where=den > 0)
        return pandas.Series(out)

    _cos.__annotations__ = {
        "a": pandas.Series,
        "b": pandas.Series,
        "return": pandas.Series,
    }
    return pandas_udf(_cos, "double")


def band_buckets_batch_udf(hyperplanes, bands: int):
    """Arrow-batched random-hyperplane LSH buckets: vec -> array<long>.

    One numpy matmul per record batch ((n, dim) @ (dim, planes)) replaces
    ``planes`` separate interpreted zip_with/aggregate array traversals per
    row — the projection is dense linear algebra, the textbook case for the
    Arrow escape hatch. Sign bits (dot >= 0 -> 1) are packed per band into
    one int64 bucket id; element ``b`` of the result is band ``b``'s bucket.
    Returning the packed buckets (not raw bits) keeps the whole signature a
    single UDF evaluation per row — referencing a UDF result bit-by-bit from
    16 downstream expressions would re-evaluate it per reference.
    """
    import numpy as np
    import pandas

    from pyspark.sql.pandas.functions import pandas_udf

    H = np.asarray(hyperplanes, dtype=np.float64).T  # dim x planes
    planes = H.shape[1]
    per_band = planes // bands
    weights = (1 << np.arange(per_band)).astype(np.int64)

    def _buckets(v):
        V = np.asarray(v.tolist(), dtype=np.float64)
        S = (V @ H >= 0).astype(np.int64)[:, : per_band * bands]
        B = S.reshape(len(V), bands, per_band) @ weights
        return pandas.Series(list(B))

    _buckets.__annotations__ = {"v": pandas.Series, "return": pandas.Series}
    return pandas_udf(_buckets, "array<long>")


def pq_codes_batch_udf(codebooks):
    """Arrow-batched product-quantization encoder: vec -> array<int> of
    per-subspace code ids.

    Per record batch, each subspace's assignment is one argmin over a
    (n, n_codes) squared-distance matrix computed with the ||x||²-2x·C+||C||²
    expansion — dense linear algebra, same rationale as
    band_buckets_batch_udf. Replaces n_subspaces × n_codes interpreted
    struct-sort expressions per row (~2.5× on the encode stage at sf0.1).
    ``codebooks``: list of (n_codes, sub_dim) arrays, subspaces in order.
    """
    import numpy as np
    import pandas

    from pyspark.sql.pandas.functions import pandas_udf

    C = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    sub_dim = C[0].shape[1]
    c_norms = [(cb**2).sum(axis=1) for cb in C]

    def _codes(v):
        V = np.asarray(v.tolist(), dtype=np.float64)
        out = np.empty((len(V), len(C)), dtype=np.int32)
        for s, (cb, cn) in enumerate(zip(C, c_norms)):
            X = V[:, s * sub_dim : (s + 1) * sub_dim]
            d2 = (X**2).sum(axis=1, keepdims=True) - 2.0 * (X @ cb.T) + cn
            out[:, s] = d2.argmin(axis=1)
        return pandas.Series(list(out))

    _codes.__annotations__ = {"v": pandas.Series, "return": pandas.Series}
    return pandas_udf(_codes, "array<int>")


def nearest_cell_batch_udf(centroids):
    """Arrow-batched k-means cell assignment: vec -> nearest centroid id.

    One ``(n, dim) @ (dim, cells)`` matmul per record batch replaces
    ``cells`` interpreted zip_with/aggregate dot products plus an
    array_sort per row — same dense-linear-algebra argument as
    band_buckets_batch_udf. ``centroids`` is the ``(cell_id, unit_vec)``
    list from train_unit_centroids with ids 0..n-1 in order; rows are
    re-normalized defensively so the dot IS cosine, and argmax's
    first-maximum rule matches the native comparator's lowest-cell-id
    tie-break.
    """
    import numpy as np
    import pandas

    from pyspark.sql.pandas.functions import pandas_udf

    C = np.asarray([c for _, c in centroids], dtype=np.float64)

    def _cell(v):
        V = np.asarray(v.tolist(), dtype=np.float64)
        n = np.linalg.norm(V, axis=1, keepdims=True)
        n[n == 0] = 1.0
        return pandas.Series(((V / n) @ C.T).argmax(axis=1).astype("int32"))

    _cell.__annotations__ = {"v": pandas.Series, "return": pandas.Series}
    return pandas_udf(_cell, "int")


def nearest_cell_int_batch_udf(centroids, n_centroids: int):
    """Arrow-batched EXACT-INTEGER k-means cell assignment for the
    quantized (fixed-point) index family: scaled-int64 vec -> argmin cell
    by exact squared L2, ties toward the lower cell id.

    Bit-identical to the DuckDB oracle twins' ``min(dist * n_centroids +
    cell)`` (operators/similarity.py:quantized_kmeans_cells): every
    operation is int64 arithmetic — ||x||² - 2x·Cᵀ + ||c||² via numpy
    integer matmul (no float rounding anywhere; magnitudes bounded by
    dim·(2·scale)²·n_centroids « 2⁶³) and the same tie-break packing.
    tests/test_ann_twins.py checks it through the catalog queries against
    their twins. The win is the same as
    nearest_cell_batch_udf: one dense matmul per record batch instead of
    n_centroids interpreted zip_with/aggregate folds per row — at
    sqrt(n)-scaled centroid counts the interpreted path is the scaling
    bottleneck (n·sqrt(n) folds).

    ``centroids`` is the collected [(cell_id, int_vec)] list (bounded:
    n_centroids rows — the corpus itself is never collected).
    """
    import numpy as np
    import pandas

    from pyspark.sql.pandas.functions import pandas_udf

    C = np.asarray([c for _, c in centroids], dtype=np.int64)  # (k, dim)
    cells = np.asarray([i for i, _ in centroids], dtype=np.int64)
    c2 = (C * C).sum(axis=1)  # (k,)

    c_absmax = int(np.abs(C).max()) if C.size else 0
    dim = C.shape[1] if C.size else 0

    def _cell(v):
        X = np.asarray(v.tolist(), dtype=np.int64)  # (n, dim)
        _assert_packed_argmin_safe(
            int(np.abs(X).max()) if X.size else 0, c_absmax, dim, n_centroids
        )
        d2 = (X * X).sum(axis=1, keepdims=True) - 2 * (X @ C.T) + c2[None, :]
        packed = d2 * np.int64(n_centroids) + cells[None, :]
        return pandas.Series(packed.min(axis=1) % np.int64(n_centroids))

    _cell.__annotations__ = {"v": pandas.Series, "return": pandas.Series}
    return pandas_udf(_cell, "long")


def _assert_packed_argmin_safe(
    x_absmax: int, c_absmax: int, dim: int, n_cells: int
) -> None:
    """Fail fast instead of silently wrapping int64: the packed argmin
    ``d² · n_cells + cell`` needs dim·(|x|+|c|)² · n_cells < 2⁶³. With
    normalized inputs at scale=1e6 this holds by orders of magnitude, but
    UNNORMALIZED vectors or a data-derived n_cells ~ sqrt(n) at ~1e9 rows
    can reach within ~12% of the limit — wraparound there would corrupt
    cell assignments with no error. Checked per Arrow batch from the
    ACTUAL data magnitudes (one abs().max() per batch — negligible next
    to the matmul)."""
    bound = dim * (x_absmax + c_absmax) ** 2 * n_cells + n_cells
    if bound >= 2**63:
        raise OverflowError(
            f"packed argmin would overflow int64: dim={dim}, "
            f"max|x|={x_absmax}, max|c|={c_absmax}, n_cells={n_cells} "
            f"gives bound {bound} >= 2^63. Normalize the vectors or "
            "lower the quantization scale."
        )


def pq_codes_int_batch_udf(codebooks, n_codes: int, sub_dim: int):
    """Arrow-batched EXACT-INTEGER PQ encoding: scaled-int64 vec ->
    array of per-subspace argmin codes, ties toward the lower code.

    The integer twin of pq_codes_batch_udf, serving the fully
    oracle-checked pq_topk_quantized path: per subspace s the code is
    argmin over ||x_s - c||² computed as ||x_s||² - 2·x_s·Cₛᵀ + ||c||²
    in pure int64 (numpy integer matmul — no float anywhere), with the
    same ``d²·n_codes + code`` tie-break packing as the DuckDB twins, so
    codes — and every downstream ADC/oracle hash — are bit-identical
    (tests/test_ann_twins.py).

    ``codebooks`` is the collected [(sub, code, int_vec)] list
    (n_subspaces·n_codes rows — the corpus is never collected).
    """
    import numpy as np
    import pandas

    from pyspark.sql.pandas.functions import pandas_udf

    by_sub: dict[int, list[tuple[int, list[int]]]] = {}
    for s, cell, vec in codebooks:
        by_sub.setdefault(int(s), []).append((int(cell), [int(x) for x in vec]))
    subs = sorted(by_sub)
    Cs = []
    cellss = []
    c2s = []
    for s in subs:
        entries = sorted(by_sub[s])
        C = np.asarray([v for _, v in entries], dtype=np.int64)
        Cs.append(C)
        cellss.append(np.asarray([c for c, _ in entries], dtype=np.int64))
        c2s.append((C * C).sum(axis=1))

    cb_absmax = max((int(np.abs(C).max()) for C in Cs if C.size), default=0)

    def _codes(v):
        X = np.asarray(v.tolist(), dtype=np.int64)  # (n, dim)
        _assert_packed_argmin_safe(
            int(np.abs(X).max()) if X.size else 0, cb_absmax, sub_dim, n_codes
        )
        out = np.empty((X.shape[0], len(subs)), dtype=np.int64)
        for j, s in enumerate(subs):
            Xs = X[:, s * sub_dim : (s + 1) * sub_dim]
            d2 = (
                (Xs * Xs).sum(axis=1, keepdims=True)
                - 2 * (Xs @ Cs[j].T)
                + c2s[j][None, :]
            )
            packed = d2 * np.int64(n_codes) + cellss[j][None, :]
            out[:, j] = packed.min(axis=1) % np.int64(n_codes)
        return pandas.Series(list(out))

    _codes.__annotations__ = {"v": pandas.Series, "return": pandas.Series}
    return pandas_udf(_codes, "array<long>")


def int_sqdist_pair_batch_udf():
    """Arrow-batched EXACT-INTEGER pairwise squared L2 between two
    scaled-int64 vector columns: sum((a_i - b_i)²) in pure int64 numpy —
    bit-identical to the twins' SQL fold (integer addition is
    order-free), so oracle hashes are unaffected by the kernel
    (tests/test_ann_twins.py).

    The IVF candidate-scoring fast path: ranking the probed cells'
    candidates with the interpreted zip_with/aggregate fold costs
    ~|candidates|·dim interpreted lambda steps (the measured wall-time
    cliff at 200k x 128-d was 322 s); one numpy batch op replaces them.
    No packing, so the guard bound is just dim·(|a|+|b|)² < 2⁶³ —
    checked per batch from actual magnitudes."""
    import numpy as np
    import pandas

    from pyspark.sql.pandas.functions import pandas_udf

    def _d2(a, b):
        A = np.asarray(a.tolist(), dtype=np.int64)
        B = np.asarray(b.tolist(), dtype=np.int64)
        if A.size:
            _assert_packed_argmin_safe(
                int(np.abs(A).max()), int(np.abs(B).max()), A.shape[1], 1
            )
        d = A - B
        return pandas.Series((d * d).sum(axis=1))

    _d2.__annotations__ = {
        "a": pandas.Series,
        "b": pandas.Series,
        "return": pandas.Series,
    }
    return pandas_udf(_d2, "long")
