"""Generate a 10x replica of the sf0.1 testdata under /tmp for scaling
probes: every fact row is copied 10 times with a per-copy offset of 1e9
added to ALL entity keys, applied consistently across tables so joins stay
FK-valid within each copy (dims region/nation stay as-is — realistic: dims
don't grow with fact volume). Document text gets a per-copy suffix token so
the near-dup structure is preserved without mass identical duplicates.

This dataset is scaling EVIDENCE only (tools/scaling_probe.py picks it up
when present); correctness gates always run on the driver's own parquet.

    python tools/make_sfx.py [src_sf_dir] [dst_dir] [n_copies]

Vector-heavy profile (`--vectors`): a clustered embedding corpus at a
REAL ANN scale (default 2M x 128-d; the base testdata tops out at 200k x
64-d) for stressing the IVF/PQ/IVF-PQ family — tools/vector_probe.py
(retired; last in commit ef19912) measured wall time + recall@10 on it
for the "Vector-heavy ANN profile" section of SCALING.md.
Vectors are drawn around n_clusters shared centers (mixture structure —
what real embedding corpora look like, and what gives a recall gate
meaning: a corpus with NO neighbor structure has no recall to preserve),
L2-normalized, chunk-deterministic (regenerable per chunk from the seed).

    python tools/make_sfx.py --vectors [dst_dir] [n_rows] [dim]
"""

from __future__ import annotations

import os
import sys

import duckdb

from runner import TABLES

OFF = 10**9


def make_vectors(dst: str, n_rows: int = 2_000_000, dim: int = 128) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_clusters, seed, chunk = 256, 7, 100_000
    centers = np.random.default_rng(seed).normal(size=(n_clusters, dim))
    os.makedirs(dst, exist_ok=True)
    schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    )
    path = os.path.join(dst, "embeddings.parquet")
    with pq.ParquetWriter(path, schema) as w:
        for start in range(0, n_rows, chunk):
            m = min(chunk, n_rows - start)
            rng = np.random.default_rng(seed + 1 + start // chunk)
            ids = np.arange(start, start + m, dtype=np.int64)
            labels = (ids % n_clusters).astype(np.int32)
            v = centers[labels] + 0.35 * rng.normal(size=(m, dim))
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            v32 = v.astype(np.float32)
            arr = pa.FixedSizeListArray.from_arrays(
                pa.array(v32.reshape(-1)), dim
            ).cast(pa.list_(pa.float32()))
            w.write_table(
                pa.table(
                    {"vec_id": ids, "embedding": arr, "label": labels},
                    schema=schema,
                )
            )
    print(f"wrote {path}: {n_rows} x {dim}-d, {n_clusters} clusters")


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--vectors":
        dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/spark_graft_vec2m"
        n = int(sys.argv[3]) if len(sys.argv) > 3 else 2_000_000
        dim = int(sys.argv[4]) if len(sys.argv) > 4 else 128
        make_vectors(dst, n, dim)
        return
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/spark_graft_sf1"
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW copies AS SELECT unnest(range({n})) AS i")

    def emit(table: str, select_sql: str, replicate: bool = True) -> None:
        src_rel = f"read_parquet('{src}/{table}.parquet')"
        if replicate:
            q = f"SELECT {select_sql} FROM {src_rel} t CROSS JOIN copies c"
        else:
            q = f"SELECT * FROM {src_rel}"
        con.execute(f"COPY ({q}) TO '{dst}/{table}.parquet' (FORMAT PARQUET)")

    emit("region", "*", replicate=False)
    emit("nation", "*", replicate=False)
    emit("customer", f"t.c_custkey + c.i * {OFF} AS c_custkey, t.* EXCLUDE (c_custkey)")
    emit("supplier", f"t.s_suppkey + c.i * {OFF} AS s_suppkey, t.* EXCLUDE (s_suppkey)")
    emit("part", f"t.p_partkey + c.i * {OFF} AS p_partkey, t.* EXCLUDE (p_partkey)")
    emit(
        "orders",
        f"t.o_orderkey + c.i * {OFF} AS o_orderkey, "
        f"t.o_custkey + c.i * {OFF} AS o_custkey, "
        "t.* EXCLUDE (o_orderkey, o_custkey)",
    )
    emit(
        "lineitem",
        f"t.l_orderkey + c.i * {OFF} AS l_orderkey, "
        f"t.l_partkey + c.i * {OFF} AS l_partkey, "
        f"t.l_suppkey + c.i * {OFF} AS l_suppkey, "
        "t.* EXCLUDE (l_orderkey, l_partkey, l_suppkey)",
    )
    emit(
        "events",
        f"t.event_id + c.i * {OFF} AS event_id, "
        f"t.user_id + c.i * {OFF} AS user_id, "
        "CAST(t.ts AS TIMESTAMP) AS ts, "
        "t.* EXCLUDE (event_id, user_id, ts)",
    )
    emit(
        "documents",
        f"t.doc_id + c.i * {OFF} AS doc_id, "
        "CASE WHEN c.i = 0 THEN t.text ELSE t.text || ' copy' || c.i END AS text, "
        "t.* EXCLUDE (doc_id, text)",
    )
    emit(
        "embeddings",
        f"t.vec_id + c.i * {OFF} AS vec_id, t.* EXCLUDE (vec_id)",
    )
    for t in TABLES:
        nrows = con.execute(
            f"SELECT count(*) FROM read_parquet('{dst}/{t}.parquet')"
        ).fetchone()[0]
        print(f"{t}: {nrows}")


if __name__ == "__main__":
    main()
