"""Extension query catalog: LLM-training-data pipeline operators (X1-X4)
plus engine-breadth coverage (windows, set-ops, rollup, streaming-shaped).

Same contract as queries_catalog: QUERIES[name] = (spark, sf_dir) -> DF,
ORACLE_SQL[name] = DuckDB twin. Hash/LSH-based approximate operators have no
SQL twin and get the driver's rows-only check (flagged in docstrings).

DuckDB parity traps encoded here:
  * DuckDB regexp_replace needs the 'g' flag (Spark replaces all matches);
  * cosine/dot oracles recompute the same left-fold double arithmetic
    (list_dot_product on DOUBLE[]), not float32 shortcuts;
  * running sums use exact DECIMAL element casts so frame-order is moot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from .functions.text import (
    detect_language_expr,
    normalized_text_expr,
    quality_score_expr,
    rolling_fingerprint_expr,
    token_count_expr,
)
from .operators.dedup import (
    DEFAULT_MAX_BUCKET,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_signature,
)
from .operators.similarity import (
    brute_force_topk,
    embedding_neardup_pairs,
    ivf_topk,
    lsh_topk,
)
from .operators.partitioning import spread
from .sources.tables import load_table

DEC = DecimalType(18, 2)

QUERIES: dict = {}
ORACLE_SQL: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


# SQL twin of functions.text.normalized_text_expr
_NORM_SQL = "trim(regexp_replace(lower(coalesce({c}, '')), '\\s+', ' ', 'g'))"


# =====================================================================
# X1 — deduplication
# =====================================================================

@query(
    "x1_exact_dedup",
    f"""
    WITH fp AS (
      SELECT doc_id, md5({_NORM_SQL.format(c='text')}) AS f
      FROM documents
    )
    SELECT doc_id FROM fp
    WHERE doc_id IN (SELECT min(doc_id) FROM fp GROUP BY f)
    """,
)
def x1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 exact: survivors of content-hash dedup (lowest doc_id per
    normalized-text MD5)."""
    d = load_table(spark, sf_dir, "documents")
    return exact_dedup(d, "text", "doc_id").select("doc_id")


# Engine-portable 60-bit hash (functions.hashing.md5_long60 twin): first 15
# md5 hex chars as BIGINT — identical values in both engines, verified in
# tests/test_functions.py.
_H60 = "('0x' || substr(md5({c}), 1, 15))::BIGINT"

# --- x1_minhash_dedup oracle: the FULL LSH pipeline in SQL. Portable mode
# makes candidate generation deterministic: shingle hash = md5-60bit, band
# bucket = md5 of the '-'-joined 4-element signature slice.
_MH_K, _MH_BANDS, _MH_RPB, _MH_N = 16, 4, 4, 6
_MH_SENT = (1 << 62) - 1
_MH_SIG_COLS = ",\n             ".join(
    f"coalesce(min(CASE WHEN bin = {i} THEN mh END), {_MH_SENT - i}) AS s{i}"
    for i in range(_MH_K)
)
_MH_BUCKET_CASE = "\n             ".join(
    f"WHEN {b} THEN md5(concat_ws('-', "
    + ", ".join(f"s{b * _MH_RPB + r}" for r in range(_MH_RPB))
    + "))"
    for b in range(_MH_BANDS)
)
def _mh_oracle_sql(cap: int, candidates_only: bool = False) -> str:
    """The full portable MinHash-LSH pipeline in SQL, parameterized by
    the oversized-bucket cap so the capped-rule twin (x1_minhash_star)
    and the production-default twin (x1_minhash_dedup) cannot drift.
    ``candidates_only`` ends the query at the CANDIDATE pair set —
    x1_minhash_star hash-checks that stage directly, because at gate
    scale the oversized buckets are true-duplicate cliques and the
    VERIFIED set comes out identical under either enumeration (the
    candidate sets do differ: 83 star vs 105 full at sf0.01)."""
    tail = (
        "SELECT id_a, id_b FROM cand"
        if candidates_only
        else """, gr AS (
      SELECT doc_id, list(DISTINCT h) AS g FROM sh GROUP BY doc_id
    )
    SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
             / len(list_distinct(list_concat(a.g, b.g))) AS jaccard
    FROM cand c
    JOIN gr a ON c.id_a = a.doc_id
    JOIN gr b ON c.id_b = b.doc_id
    WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
             / len(list_distinct(list_concat(a.g, b.g))) >= 0.5
"""
    )
    return f"""
    WITH norm AS (
      SELECT doc_id, {_NORM_SQL.format(c='text')} AS t FROM documents
    ), sh AS (
      SELECT doc_id, {_H60.format(c='g')} AS h
      FROM (
        SELECT doc_id,
               unnest([substr(t, CAST(i AS INT), {_MH_N})
                       FOR i IN range(1, len(t) - {_MH_N - 2})]) AS g
        FROM norm WHERE len(t) >= {_MH_N}
      )
    ), binmin AS (
      SELECT doc_id, h % {_MH_K} AS bin, min(h) AS mh
      FROM sh GROUP BY doc_id, h % {_MH_K}
    ), sig AS (
      SELECT doc_id,
             {_MH_SIG_COLS}
      FROM binmin GROUP BY doc_id
    ), buckets AS (
      SELECT doc_id, band,
             CASE band
             {_MH_BUCKET_CASE}
             END AS bucket
      FROM sig, (VALUES (0), (1), (2), (3)) AS bb(band)
    ), bsz AS (
      -- engine twin of bucket_pairs' oversized-bucket guard: per-bucket
      -- member count + minimum id decide full vs star enumeration below
      SELECT band, bucket, count(*) AS m, min(doc_id) AS mn
      FROM buckets GROUP BY band, bucket
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM buckets a
      JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
                    AND a.doc_id < b.doc_id
      JOIN bsz s ON a.band = s.band AND a.bucket = s.bucket
      -- buckets within the cap: every in-bucket pair; oversized buckets:
      -- star topology — only pairs anchored at the bucket minimum
      WHERE s.m <= {cap} OR a.doc_id = s.mn
    )
    {tail}"""


_MH_ORACLE = _mh_oracle_sql(DEFAULT_MAX_BUCKET)


@query("x1_minhash_dedup", _MH_ORACLE)
def x1_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 fuzzy: MinHash-LSH near-dup pairs (jaccard-verified).

    Runs in ``portable=True`` mode — md5-derived shingle hashes and
    md5-string band buckets — so the ENTIRE pipeline (one-permutation
    signature, banded buckets, candidate pairs, exact-Jaccard verify) has a
    DuckDB twin, hash-compared; not just the verification arithmetic.
    The hot-path xxhash64 variant stays the production default and is
    pair-equality-tested against this one in tests/test_operators.py.
    The oversized-bucket guard (full enumeration up to DEFAULT_MAX_BUCKET
    members per band bucket, star topology beyond — see bucket_pairs) is
    mirrored in the twin's bsz/cand CTEs, so the cap rule itself is
    oracle-checked."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        d, "text", "doc_id", num_hashes=16, bands=4, jaccard_threshold=0.5,
        portable=True,
    )


@query("x1_minhash_star", _mh_oracle_sql(3, candidates_only=True))
def x1_minhash_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 oversized-bucket guard, gate-ACTIVE: the portable MinHash-LSH
    CANDIDATE stage with ``max_bucket=3``, chosen so sf0.01's real
    bucket distribution (sizes up to 6) pushes several band buckets onto
    the STAR enumeration path. The output is the candidate pair set
    itself — 83 star-capped pairs vs 105 under full enumeration at
    sf0.01 — so the capped rule (every in-bucket pair up to the cap,
    min-anchored star pairs beyond) is hash-verified against the DuckDB
    twin on live data; the VERIFIED sets coincide at this scale (the
    oversized buckets are true-duplicate cliques — exactly the property
    the fallback relies on), which is why x1_minhash_dedup alone could
    not witness the rule. The production default (DEFAULT_MAX_BUCKET=
    1024) never fires at gate scale; this entry proves the fallback's
    exact semantics."""
    from .operators.dedup import _lsh_band_buckets, bucket_pairs, minhash_signature

    d = load_table(spark, sf_dir, "documents")
    sig = minhash_signature(
        d, "text", "doc_id", num_hashes=16, shingle_size=6, portable=True
    )
    buckets = _lsh_band_buckets(sig, "doc_id", bands=4, rows_per_band=4, portable=True)
    return bucket_pairs(buckets, "_id", ["band", "bucket"], max_bucket=3)


# --- x1_incremental_neardup oracle: same portable LSH pipeline, but the
# candidate join is asymmetric — index side (doc_id < 400) probed by the
# new batch (doc_id >= 400). Shares every CTE with the self-dedup twin.
_MH_INC_SPLIT = 400
_MH_INC_ORACLE = f"""
    WITH norm AS (
      SELECT doc_id, {_NORM_SQL.format(c='text')} AS t FROM documents
    ), sh AS (
      SELECT doc_id, {_H60.format(c='g')} AS h
      FROM (
        SELECT doc_id,
               unnest([substr(t, CAST(i AS INT), {_MH_N})
                       FOR i IN range(1, len(t) - {_MH_N - 2})]) AS g
        FROM norm WHERE len(t) >= {_MH_N}
      )
    ), binmin AS (
      SELECT doc_id, h % {_MH_K} AS bin, min(h) AS mh
      FROM sh GROUP BY doc_id, h % {_MH_K}
    ), sig AS (
      SELECT doc_id,
             {_MH_SIG_COLS}
      FROM binmin GROUP BY doc_id
    ), buckets AS (
      SELECT doc_id, band,
             CASE band
             {_MH_BUCKET_CASE}
             END AS bucket
      FROM sig, (VALUES (0), (1), (2), (3)) AS bb(band)
    ), cand AS (
      SELECT DISTINCT b.doc_id AS new_id, a.doc_id AS index_id
      FROM buckets a
      JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.doc_id < {_MH_INC_SPLIT} AND b.doc_id >= {_MH_INC_SPLIT}
    ), gr AS (
      SELECT doc_id, list(DISTINCT h) AS g FROM sh GROUP BY doc_id
    )
    SELECT c.new_id, c.index_id,
           CAST(len(list_intersect(n.g, i.g)) AS DOUBLE)
             / len(list_distinct(list_concat(n.g, i.g))) AS jaccard
    FROM cand c
    JOIN gr n ON c.new_id = n.doc_id
    JOIN gr i ON c.index_id = i.doc_id
    WHERE CAST(len(list_intersect(n.g, i.g)) AS DOUBLE)
             / len(list_distinct(list_concat(n.g, i.g))) >= 0.5
"""


@query("x1_incremental_neardup", _MH_INC_ORACLE)
def x1_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 incremental: near-dup pairs of a NEW document batch against the
    EXISTING corpus index (`operators/dedup.incremental_neardup`) — the
    per-ingest-round shape of fuzzy dedup: new crawl vs everything already
    accepted, asymmetric LSH bucket probe, no within-index or
    within-batch pairing. The doc_id<400 / >=400 split stands in for the
    index/batch boundary on the driver testdata.

    Portable mode gives the whole asymmetric pipeline — signatures, band
    buckets, candidate probe, exact-Jaccard verify — a DuckDB twin.
    """
    from .operators.dedup import incremental_neardup

    d = load_table(spark, sf_dir, "documents")
    return incremental_neardup(
        d.filter(F.col("doc_id") < _MH_INC_SPLIT),
        d.filter(F.col("doc_id") >= _MH_INC_SPLIT),
        "text",
        "doc_id",
        num_hashes=16,
        bands=4,
        jaccard_threshold=0.5,
        portable=True,
    )


# --- x1_simhash oracle: 60 bit-vote sums + sign recombination in SQL.
_SH_SUMS = ",\n             ".join(
    f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
    for i in range(60)
)
_SH_FP = "\n             + ".join(
    f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(60)
)
_SH_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(t, '\\s+')) AS tok
      FROM (SELECT doc_id, {_NORM_SQL.format(c='text')} AS t FROM documents)
    ), h AS (
      SELECT doc_id, {_H60.format(c='tok')} AS h
      FROM toks WHERE len(tok) > 0
    ), s AS (
      SELECT doc_id,
             {_SH_SUMS}
      FROM h GROUP BY doc_id
    )
    SELECT doc_id,
           CAST({_SH_FP} AS BIGINT) AS simhash
    FROM s
"""


@query("x1_simhash", _SH_ORACLE)
def x1_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 SimHash: fingerprint per document (native bit math).

    ``portable=True``: md5-derived 60-bit token hash, so every bit vote —
    and hence the exact fingerprint — is reproduced by the DuckDB oracle.
    Production keeps the 64-bit xxhash64 form (simhash_neardup_pairs)."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_signature(d, "text", "doc_id", portable=True)


@query(
    "x1_ngram_jaccard",
    f"""
    WITH g AS (
      SELECT doc_id, source,
             list_distinct([substr(t, i, 3) FOR i IN range(1, len(t) - 1)]) AS gr
      FROM (SELECT doc_id, source, {_NORM_SQL.format(c='text')} AS t FROM documents)
      WHERE len(t) >= 3
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE)
             / len(list_distinct(list_concat(a.gr, b.gr))) AS jaccard
    FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE)
             / len(list_distinct(list_concat(a.gr, b.gr))) >= 0.2
    """,
)
def x1_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 exact pairwise: 3-gram Jaccard >= 0.2 within a source block —
    the deterministic (oracle-checkable) verification core of fuzzy dedup."""
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, "text", "doc_id", "source", n=3, threshold=0.2)


def _hp_band_sql(dim: int = 64, planes: int = 16, bands: int = 4):
    """Shared SQL generators for the hyperplane-LSH oracles: the seeded
    hyperplanes are inlined as literal double lists (repr round-trips
    exactly), sign bits come from the same left-fold dot products
    (list_dot_product matches Spark's aggregate fold bit-exactly — the
    already-green x2_topk_cosine oracle is the standing proof on this
    data), and band buckets pack the bits into an int (any injective
    labeling partitions identically)."""
    from .operators.similarity import _hyperplanes

    hps = _hyperplanes(dim, planes)
    per_band = planes // bands

    def hp_lit(hp: list[float]) -> str:
        return "[" + ",".join(repr(float(x)) for x in hp) + "]"

    def bucket_expr(b: int) -> str:
        bits = [
            f"(CASE WHEN list_dot_product(v, {hp_lit(hps[b * per_band + i])}) >= 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i in range(per_band)
        ]
        return "(" + " + ".join(bits) + ")"

    def band_union(src: str, id_col: str) -> str:
        return " UNION ALL ".join(
            f"SELECT {id_col}, v, {b} AS band, {bucket_expr(b)} AS bucket FROM {src}"
            for b in range(bands)
        )

    return band_union



def _neardup_oracle_sql(dim: int = 64, planes: int = 16, bands: int = 4) -> str:
    """DuckDB twin of embedding_neardup_pairs(quantized_verify=True) + its
    in-output recall gate: fold-normalized vectors, literal-hyperplane
    sign bits, within-bucket pairing, and the
    FIXED-POINT verify dot — elements floor-quantized at 2^20 so every
    product-sum is exact integer arithmetic in float64, order-free, hence
    bit-identical to the Spark Arrow einsum kernel (see
    functions/vectors.py:qdot_unit_batch_udf). Normalization and signature
    folds keep the same association order as the Spark expressions
    (_hp_band_sql)."""
    from etl_lorettoscarpa_1asfb2jf21_spark.functions.vectors import (
        QDOT_DENOM,
        QDOT_SCALE,
    )

    band_union = _hp_band_sql(dim, planes, bands)
    cos_raw = (
        "list_dot_product(a.vd, b.vd) / "
        "(sqrt(list_dot_product(a.vd, a.vd)) * sqrt(list_dot_product(b.vd, b.vd)))"
    )

    qdot = f"list_dot_product(x.q, y.q) / {QDOT_DENOM!r}"

    return f"""
    WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vd FROM embeddings),
    n AS (
      SELECT id,
             CASE WHEN sqrt(list_dot_product(vd, vd)) > 0
                  THEN list_transform(vd, x -> x / sqrt(list_dot_product(vd, vd)))
                  ELSE vd END AS v
      FROM e
    ),
    nq AS (
      SELECT id, list_transform(v, e -> floor(e * {QDOT_SCALE!r})) AS q FROM n
    ),
    nb AS ({band_union('n', 'id')}),
    pairs AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM nb a JOIN nb b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    ),
    sims AS (
      SELECT p.id_a, p.id_b, {qdot} AS sim
      FROM pairs p JOIN nq x ON p.id_a = x.id JOIN nq y ON p.id_b = y.id
      WHERE {qdot} >= 0.3
    ),
    s AS (SELECT * FROM n WHERE id < 200),
    sb AS ({band_union('s', 'id')}),
    spairs AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM sb a JOIN sb b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    ),
    ssims AS (
      SELECT p.id_a, p.id_b
      FROM spairs p JOIN nq x ON p.id_a = x.id JOIN nq y ON p.id_b = y.id
      WHERE {qdot} >= 0.3
    ),
    exact AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM e a JOIN e b ON a.id < b.id AND a.id < 200 AND b.id < 200
      WHERE {cos_raw} >= 0.3
    ),
    found AS (
      SELECT * FROM exact
      WHERE EXISTS (
        SELECT 1 FROM ssims
        WHERE ssims.id_a = exact.id_a AND ssims.id_b = exact.id_b
      )
    ),
    quality AS (
      SELECT (SELECT COUNT(*) FROM exact) AS n_exact_sample,
             CASE WHEN (SELECT COUNT(*) FROM exact) > 0
                  THEN CAST((SELECT COUNT(*) FROM found) AS DOUBLE)
                       / (SELECT COUNT(*) FROM exact)
                  ELSE 1.0 END AS sample_recall
    )
    SELECT sims.id_a, sims.id_b, sims.sim, q.n_exact_sample, q.sample_recall
    FROM sims CROSS JOIN quality q
    """


@query("x1_embedding_neardup", _neardup_oracle_sql())
def x1_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 embedding near-dup: high-cosine pairs via random-hyperplane LSH —
    FULL DuckDB oracle AND an Arrow-batched verify at the same time: the
    catalog runs portable fold signatures (bit-exact from the literal
    hyperplanes) with the FIXED-POINT verify kernel (quantized_verify=True)
    — floor-quantized at 2^20, the 47M-pair product-sum is exact integer
    arithmetic in float64, so the numpy einsum and DuckDB's fold agree
    bit-for-bit (_neardup_oracle_sql). This closed the round-9 verdict's
    top item: the verify stage was an interpreted aggregate(zip_with) fold,
    the residual 5.8x vs DuckDB at ~sf1.

    Threshold 0.3 — the synthetic embeddings are i.i.d. (max pairwise cosine
    ~0.51), so a production-style 0.95 bar would always return zero rows; 0.3
    exercises bucketing + verification on real output. Recall is tunable via
    (planes, bands); production dedup would use 0.9+ on clustered data.

    The in-output quality gate is kept (and now itself oracle-checked):
    ``sample_recall`` = fraction of ground-truth pairs (exact all-pairs
    cosine over the vec_id<200 sample) that the LSH path found, and
    ``n_exact_sample`` sizes that ground truth. Precision is 1.0 by
    construction (every emitted pair is exact-cosine-verified).
    """
    e = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_neardup_pairs(
        e, "vec_id", "embedding", threshold=0.3, quantized_verify=True,
    )

    from .functions.vectors import cosine_similarity_expr

    # Recall is measured on a SAMPLE-ONLY LSH pass, not by semi-joining the
    # full `pairs` plan (that would duplicate the expensive subtree — the
    # hyperplanes are fixed, so a pair with both ids in the sample lands in
    # the same buckets whether or not the rest of the corpus is present;
    # the restricted run finds exactly the full run's in-sample pairs).
    s = e.filter(F.col("vec_id") < 200)
    sample_pairs = embedding_neardup_pairs(
        s, "vec_id", "embedding", threshold=0.3, quantized_verify=True,
    )
    a = s.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    b = s.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
    exact = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("_sim", cosine_similarity_expr("_va", "_vb"))
        .filter(F.col("_sim") >= 0.3)
        .select("id_a", "id_b")
    )
    found = exact.join(
        sample_pairs.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi"
    )
    quality = (
        exact.agg(F.count(F.lit(1)).alias("n_exact_sample"))
        .crossJoin(found.agg(F.count(F.lit(1)).alias("_n_found")))
        .select(
            "n_exact_sample",
            F.when(
                F.col("n_exact_sample") > 0,
                F.col("_n_found").cast("double") / F.col("n_exact_sample"),
            ).otherwise(F.lit(1.0)).alias("sample_recall"),
        )
    )
    return pairs.crossJoin(F.broadcast(quality))


# =====================================================================
# X2 — top-k vector similarity search
# =====================================================================

_COS_SQL = """
    list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
    / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
       * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))))
"""


@query(
    "x2_topk_cosine",
    f"""
    SELECT q_id, c_id, sim, rank FROM (
      SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             {_COS_SQL} AS sim,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_COS_SQL} DESC, c.vec_id
             ) AS rank
      FROM embeddings q, embeddings c
      WHERE q.vec_id < 5
    )
    WHERE rank <= 10
    """,
)
def x2_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 exact: brute-force cosine top-10 for query vectors vec_id<5.
    Corpus is scanned once, queries broadcast — no corpus shuffle."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    out = brute_force_topk(queries, corpus, k=10)
    return out.select("q_id", "c_id", "sim", F.col("rank").cast("long").alias("rank"))


def _with_exact_rank(approx: DataFrame, queries: DataFrame, corpus: DataFrame) -> DataFrame:
    """Left-join the exact brute-force rank onto approximate top-k rows.

    ``exact_rank`` is NULL when the approximate path surfaced a vector the
    exact top-10 does not contain — so recall@10 is readable straight off
    the output (fraction of non-null exact_rank). Queries are a handful of
    rows, so the extra exact pass is one broadcast scan of the corpus.
    """
    exact = brute_force_topk(queries, corpus, k=10).select(
        "q_id", "c_id", F.col("rank").cast("long").alias("exact_rank")
    )
    # k-rows-per-query side: broadcast, or Spark picks a sort-merge join
    return approx.join(F.broadcast(exact), ["q_id", "c_id"], "left")


def _lsh_oracle_sql(k: int = 10, dim: int = 64, planes: int = 16, bands: int = 4) -> str:
    """DuckDB twin of the PORTABLE lsh_topk (see _hp_band_sql)."""
    band_union = _hp_band_sql(dim, planes, bands)

    cos = (
        "list_dot_product(q.v, c.v) / "
        "(sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))"
    )
    return f"""
    WITH q AS (
      SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 5
    ),
    c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    qb AS ({band_union('q', 'q_id')}),
    cb AS ({band_union('c', 'c_id')}),
    cand AS (
      SELECT DISTINCT qb.q_id, cb.c_id
      FROM qb JOIN cb ON qb.band = cb.band AND qb.bucket = cb.bucket
    ),
    approx AS (
      SELECT q_id, c_id, sim,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank
      FROM (
        SELECT cand.q_id, cand.c_id, {cos} AS sim
        FROM cand JOIN q ON cand.q_id = q.q_id JOIN c ON cand.c_id = c.c_id
      )
    ),
    exact AS (
      SELECT q_id, c_id, rank AS exact_rank FROM (
        SELECT q.q_id, c.c_id,
               ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY {cos} DESC, c.c_id)
                 AS rank
        FROM q, c
      ) WHERE rank <= {k}
    )
    SELECT a.q_id, a.c_id, a.sim, CAST(a.rank AS BIGINT) AS rank,
           CAST(e.exact_rank AS BIGINT) AS exact_rank
    FROM approx a LEFT JOIN exact e ON a.q_id = e.q_id AND a.c_id = e.c_id
    WHERE a.rank <= {k}
    """


@query("x2_topk_lsh", _lsh_oracle_sql())
def x2_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 scale path: random-hyperplane LSH-bucketed approximate top-10 —
    now with a FULL DuckDB oracle: the catalog runs the PORTABLE signature
    path (native left-fold dots), whose sign bits any engine folding the
    same literal hyperplanes reproduces bit-exactly (see _lsh_oracle_sql).
    The Arrow matmul kernel stays the production default inside lsh_topk
    (use_arrow=True) — same algorithm, ~10x signature throughput, buckets
    equal up to sign flips at exact zero crossings numpy's pairwise
    summation could round differently.

    The per-row quality gate is kept: ``exact_rank`` marks each returned
    row's position in the true top-10 (NULL = false positive); recall@10 =
    non-null fraction. The aggregate twin of this check is x2_recall_report.
    """
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    approx = lsh_topk(
        queries, corpus, k=10, dim=64, planes=16, bands=4, use_arrow=False
    ).withColumn("rank", F.col("rank").cast("long"))
    return _with_exact_rank(approx, queries, corpus)


@query("x2_topk_pq_float")  # PQ codes/LUTs are float-engine-specific — rows-only
def x2_topk_pq_float(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 scale path #3, float/Arrow throughput variant: product-quantization
    (PQ/ADC) approximate top-10 — the memory-compression path (8-byte codes
    vs 256-byte vectors, 32×), which is what lets billion-vector corpora fit
    in cluster memory. Encode and search are both map-only passes over the
    corpus. The driver-visible ``x2_topk_pq`` entry runs the fixed-point
    sibling (pq_topk_quantized) with a FULL unrolled-CTE DuckDB oracle;
    this float-codebook variant keeps the Arrow encode kernel hot and is
    additionally covered by x2_recall_report's recall@10 gate.

    No SQL twin (float k-means codebooks); ``exact_rank`` embeds the
    quality gate per returned row, as in x2_topk_lsh.

    Encode uses the Arrow batch kernel (pq_codes_batch_udf, checked
    against a numpy reference in tests/test_operators.py): re-measured at
    sf0.1 it was >2× the 128 interpreted argmin expressions per row it
    replaced.
    """
    from .operators.similarity import pq_topk

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    approx = pq_topk(queries, corpus, k=10, n_subspaces=8, n_codes=16)
    return _with_exact_rank(approx, queries, corpus)


@query("x2_topk_ivf_float")  # float kmeans cells are engine-specific — rows-only
def x2_topk_ivf_float(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 scale path #2, float throughput variant: IVF (kmeans-cell)
    approximate top-10 — probes nprobe/n_centroids of the corpus per query
    instead of all of it. The driver-visible ``x2_topk_ivf`` entry runs the
    fixed-point sibling (ivf_topk_quantized) with a FULL unrolled-CTE DuckDB
    oracle; this variant keeps the driver-trained float Lloyd + Arrow
    assignment path hot and is additionally covered by x2_recall_report.

    No SQL twin: cell assignment depends on numpy Lloyd centroids (float
    iteration, driver-trained) that SQL cannot reproduce. ``exact_rank``
    embeds the quality gate per row, as in x2_topk_lsh.
    """
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    approx = ivf_topk(queries, corpus, k=10, n_centroids=16, nprobe=4)
    return _with_exact_rank(approx, queries, corpus)


# =====================================================================
# X3 — text analysis
# =====================================================================

_STOP_EN = r"(?i)\b(the|and|of|to|in|is|that|for|with|it)\b"
_STOP_PT = r"(?i)\b(de|que|e|o|a|do|da|em|um|para)\b"
_STOP_ES = r"(?i)\b(el|la|que|y|los|del|las|por|un|con)\b"


@query(
    "x3_lang_id",
    f"""
    SELECT doc_id, lang,
           CASE
             WHEN en >= pt AND en >= es AND en > 0 THEN 'en'
             WHEN pt >= es AND pt > 0 THEN 'pt'
             WHEN es > 0 THEN 'es'
             ELSE 'und'
           END AS lang_detected
    FROM (
      SELECT doc_id, lang,
             len(regexp_extract_all(text, '{_STOP_EN}')) AS en,
             len(regexp_extract_all(text, '{_STOP_PT}')) AS pt,
             len(regexp_extract_all(text, '{_STOP_ES}')) AS es
      FROM documents
    )
    """,
)
def x3_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: stopword-ratio language ID next to the ground-truth lang column."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "lang", detect_language_expr("text").alias("lang_detected")
    )


@query(
    "x3_quality_score",
    f"""
    SELECT doc_id,
           0.4 * least(1.0, n_tokens / 100.0)
         + 0.3 * (1.0 - CASE WHEN n_chars > 0
                             THEN CAST(n_punct AS DOUBLE) / n_chars
                             ELSE 1.0 END)
         + 0.3 * least(1.0, CASE WHEN n_tokens > 0
                                 THEN n_stop / n_tokens ELSE 0.0 END * 5.0)
           AS quality
    FROM (
      SELECT doc_id,
             length(coalesce(text, '')) AS n_chars,
             CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'))
             END AS n_tokens,
             len(regexp_extract_all(coalesce(text, ''), '[^\\w\\s]')) AS n_punct,
             len(regexp_extract_all(coalesce(text, ''), '{_STOP_EN}')) AS n_stop
      FROM documents
    )
    """,
)
def x3_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: heuristic quality score (length/punct/stopword ratios)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score_expr("text").alias("quality"))


@query(
    "x3_token_stats",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'))
               END) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM documents
    GROUP BY lang
    """,
)
def x3_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: corpus token budgeting — per-language doc/token/char stats.
    avg computed as exact-sum / count (one terminal division, no
    order-dependent double accumulation)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_expr("text").cast("long")).alias("total_tokens"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
    )


@query(
    "x3_term_freq",
    f"""
    SELECT lang, tok, COUNT(*) AS n
    FROM (
      SELECT lang,
             unnest(regexp_split_to_array({_NORM_SQL.format(c='text')}, '\\s+')) AS tok
      FROM documents
      WHERE length(trim(coalesce(text, ''))) > 0
    )
    WHERE length(tok) > 2
    GROUP BY lang, tok
    HAVING COUNT(*) >= 50
    """,
)
def x3_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: per-language term frequencies (explode + partial/final count);
    threshold filter keeps the result deterministic (no top-k ties)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.filter(F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) > 0).select(
        "lang",
        F.explode(F.split(normalized_text_expr("text"), r"\s+")).alias("tok"),
    )
    return (
        toks.filter(F.length("tok") > 2)
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 50)
    )


@query(
    "x3_fingerprint",
    f"""
    SELECT doc_id, md5({_NORM_SQL.format(c='text')}) AS fingerprint
    FROM documents
    """,
)
def x3_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: deterministic document fingerprint (MD5 of normalized text)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", rolling_fingerprint_expr("text").alias("fingerprint"))


# =====================================================================
# X4 — multimodal (binary payload + typed metadata)
# =====================================================================

@query(
    "x4_multimodal_meta",
    """
    SELECT doc_id, 'text/plain' AS media_type,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS payload_md5
    FROM documents
    """,
)
def x4_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: opaque binary payload column + typed metadata. The payload here
    is the UTF-8 text (the container ships no image/audio libs — see
    multimodal.decode for the stubbed decode path); schema/partitioning/
    hashing plumbing is real."""
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.lit("text/plain").alias("media_type"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.md5(payload).alias("payload_md5"),
    )


# =====================================================================
# Engine breadth: windows, set ops, rollup, sort/limit, streaming-shaped
# =====================================================================

@query(
    "w1_running_sum",
    """
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
             PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_value
    FROM events
    """,
)
def w1_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window: per-user running total (exact decimal frame sum)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast(DEC)).over(w).cast("double").alias("running_value"),
    )


@query(
    "w2_rank_topn",
    """
    SELECT c_custkey, o_orderkey, o_totalprice FROM (
      SELECT c_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY c_custkey
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) WHERE rn <= 3
    """,
)
def w2_rank_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window: top-3 orders per customer (deterministic tiebreak)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_custkey", "o_orderkey", "o_totalprice")
    )


@query(
    "s1_union_distinct",
    """
    SELECT n_nationkey AS k FROM nation
    UNION
    SELECT r_regionkey AS k FROM region
    """,
)
def s1_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: UNION (distinct)."""
    n = load_table(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("k"))
    r = load_table(spark, sf_dir, "region").select(F.col("r_regionkey").alias("k"))
    return n.union(r).distinct()


@query(
    "s2_except",
    """
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders
    """,
)
def s2_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: EXCEPT (customers who never ordered)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.exceptAll(o).distinct()


@query(
    "g1_rollup",
    """
    SELECT r_name, n_name, COUNT(*) AS n
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def g1_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP aggregation (subtotals + grand total)."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(r, n["n_regionkey"] == r["r_regionkey"])
        .rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "g2_cube",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def g2_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all 4 grouping combinations in one pass)."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "g3_pivot",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS urgent,
           CAST(COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT) AS high,
           CAST(COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS BIGINT) AS medium
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def g3_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long->wide) with an explicit value list — no extra
    distinct-values job, single aggregation pass."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", ["1-URGENT", "2-HIGH", "3-MEDIUM"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderstatus",
            F.coalesce(F.col("1-URGENT"), F.lit(0)).alias("urgent"),
            F.coalesce(F.col("2-HIGH"), F.lit(0)).alias("high"),
            F.coalesce(F.col("3-MEDIUM"), F.lit(0)).alias("medium"),
        )
    )


@query(
    "g4_grouping_sets",
    """
    SELECT r_name, n_name,
           CAST(GROUPING(r_name) AS INT) AS g_r,
           CAST(GROUPING(n_name) AS INT) AS g_n,
           COUNT(*) AS n
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name), (n_name), ())
    """,
)
def g4_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (not derivable from rollup/cube) with
    per-column GROUPING flags disambiguating real NULLs from subtotals."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(r, n["n_regionkey"] == r["r_regionkey"])
        .groupingSets([["r_name"], ["n_name"], []], "r_name", "n_name")
        .agg(
            F.grouping("r_name").alias("g_r"),
            F.grouping("n_name").alias("g_n"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("r_name", "n_name", "g_r", "g_n", "n")
    )


@query(
    "w3_lag_lead",
    """
    SELECT event_id, user_id,
           value - lag(value) OVER (PARTITION BY user_id ORDER BY event_id)
             AS delta_prev,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
             AS next_type
    FROM events
    """,
)
def w3_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window: offset functions — per-user delta vs previous event and the
    following event's type (NULL at partition edges on both engines)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return e.select(
        "event_id",
        "user_id",
        (F.col("value") - F.lag("value").over(w)).alias("delta_prev"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@query(
    "s3_intersect",
    """
    SELECT o_custkey AS k FROM orders
    INTERSECT
    SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def s3_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: INTERSECT (customers in the BUILDING segment who ordered)."""
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("k"))
    )
    return o.intersect(c)


@query(
    "sub1_correlated_avg",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > 2 * (
      SELECT AVG(i.o_totalprice) FROM orders i WHERE i.o_custkey = o.o_custkey
    )
    """,
)
def sub1_correlated_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders more than 2x their customer's
    average. Expressed as a window average — the decorrelated plan Catalyst
    would produce anyway: one shuffle on the correlation key, no join back."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return (
        o.withColumn("_avg", F.avg("o_totalprice").over(w))
        .filter(F.col("o_totalprice") > 2 * F.col("_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "a5_percentiles",
    """
    SELECT l_returnflag,
           CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE) AS p50,
           CAST(quantile_cont(l_extendedprice, 0.9) AS DOUBLE) AS p90
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def a5_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark percentile ==
    DuckDB quantile_cont; approx_percentile is the sketch path in a4).

    Scale caveat: Spark's built-in ``percentile()`` buffers every group
    value in executor memory — fine for bounded groups, a cliff for
    data-sized ones. The scale-safe exact replacement is
    ``a8_scalable_quantiles`` (queries_catalog_extras.py): a histogram
    walk whose memory is bounded by distinct-value cardinality, never
    rows."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("p50"),
        F.percentile("l_extendedprice", F.lit(0.9)).alias("p90"),
    )


@query(
    "t1_topn_sort",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def t1_topn_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort + limit (TakeOrderedAndProject, no full-sort shuffle)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    )


@query(
    "j7_asof_join",
    """
    WITH p AS (
      SELECT user_id, ts,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ), c AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us, p.purchase_value
    FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def j7_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 (extension): as-of join — each click matched to the user's latest
    purchase at-or-before it. Spark has no native ASOF; operators/asof.py
    implements the merge-asof shape (one union shuffle + per-key sort, no
    row multiplication); DuckDB's native ASOF JOIN is the oracle."""
    from .operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.sum(F.col("value").cast(DEC)).cast("double").alias("purchase_value"))
    )
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    joined = asof_join(
        clicks, purchases, on=["user_id"], left_ts="ts", right_ts="ts", suffix=""
    )
    return joined.select(
        "event_id",
        "user_id",
        # cast is a no-op on TIMESTAMP; tolerates NTZ from raw parquet reads
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "purchase_value",
    )


@query(
    "j8_range_join",
    """
    WITH bands(band_id, lo, hi) AS (
      VALUES (0, 0.0, 100000.0), (1, 100000.0, 200000.0),
             (2, 200000.0, 300000.0), (3, 300000.0, 400000.0),
             (4, 400000.0, 1000000.0)
    )
    SELECT band_id, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band_id
    """,
)
def j8_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 (extension): range join — orders bucketed into price bands via the
    grid-bucketed shape (operators/ranges.py): intervals explode into fixed
    cells, points equi-join their cell, then the exact predicate filters.
    The equi form is a codegen'd BroadcastHashJoin — the plain non-equi
    broadcast is a BroadcastNestedLoopJoin outside whole-stage codegen,
    measurably slower even with a 5-row build side (both shapes are
    equality-tested in tests/test_operators.py)."""
    from .operators.ranges import interval_join

    o = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [(0, 0.0, 100000.0), (1, 100000.0, 200000.0), (2, 200000.0, 300000.0),
         (3, 300000.0, 400000.0), (4, 400000.0, 1000000.0)],
        "band_id int, lo double, hi double",
    )
    return (
        interval_join(o, bands, "o_totalprice", "lo", "hi", cell_width=100000.0)
        .groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total"),
        )
    )


@query(
    "ss1_json_extract",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS total_k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def ss1_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured: parse the JSON props column with an explicit schema
    (from_json stays JVM-side; schema-on-read, no UDF) and aggregate."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.withColumn("_p", F.from_json("props", "k BIGINT"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("_p.k")).alias("total_k"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "st2_sessionize",
    """
    WITH t AS (
      SELECT user_id, event_id, epoch_us(ts) AS us, value,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, us, value,
             SUM(new_s) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS sid
      FROM t
    )
    SELECT user_id, MIN(us) AS session_start_us, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
)
def st2_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity breaks a session) —
    gaps-and-islands twin of the streaming stateful sessionizer
    (streaming.sessions); exact integer-microsecond gap compare."""
    from .streaming.sessions import sessionize_batch

    e = load_table(spark, sf_dir, "events")
    return sessionize_batch(e, gap="30 minutes")


@query(
    "st3_sliding_window",
    """
    WITH w AS (
      SELECT e.*,
             unnest(generate_series(
               time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
               time_bucket(INTERVAL '30 minutes', ts),
               INTERVAL '30 minutes')) AS ws
      FROM events e
    )
    SELECT CAST(ws AS VARCHAR) AS window_start,
           CAST(ws + INTERVAL '1 hour' AS VARCHAR) AS window_end,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM w
    WHERE ts >= ws AND ts < ws + INTERVAL '1 hour'
    GROUP BY 1, 2, 3
    """,
)
def st3_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-shaped: 1-hour window sliding every 30 minutes (each event
    lands in exactly 2 windows). Same plan runs under readStream + watermark
    (streaming.windows.windowed_event_counts with slide)."""
    from .streaming.windows import windowed_event_counts

    e = load_table(spark, sf_dir, "events")
    out = windowed_event_counts(e, "1 hour", slide="30 minutes")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.date_format("window_end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        "event_type",
        "n",
        "sum_value",
    )


@query(
    "a4_approx_count_distinct",
    """
    SELECT COUNT(DISTINCT user_id) AS exact_users, TRUE AS within_5pct
    FROM events
    """,
)
def a4_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-count sketch with a hash-checkable quality gate.

    The sketch estimate itself is engine-specific (Spark's HLL++ vs any
    oracle's), so instead of emitting the raw estimate we emit the exact
    count alongside a boolean asserting the sketch landed within its
    documented error envelope (rsd=0.05 default -> we gate at 5%). The
    oracle mirrors the exact count and expects the gate to hold, turning
    an unverifiable approximate answer into a verified one — same pattern
    as x2_recall_report's recall thresholds.
    """
    e = load_table(spark, sf_dir, "events")
    return e.agg(
        F.count_distinct("user_id").alias("exact_users"),
        (
            F.abs(
                F.approx_count_distinct("user_id").cast("double")
                - F.count_distinct("user_id").cast("double")
            )
            <= F.lit(0.05) * F.count_distinct("user_id").cast("double")
        ).alias("within_5pct"),
    )


@query(
    "st1_tumbling_window",
    """
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def st1_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-shaped: 1-hour tumbling window aggregation over events.
    Same plan works under readStream + watermark (streaming.windows)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


# =====================================================================
# Engine breadth round 2: TPC-H shapes, outer joins, union-all,
# analytic rank family, deterministic sampling, pagination
# =====================================================================

@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(8,2)))
                    * (1 + CAST(l_tax AS DECIMAL(8,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical scan-heavy aggregation — 8 aggregates
    over a near-full scan, 2 low-cardinality group keys. At 100 TB this is
    map-side partial agg + a tiny final exchange (4-6 groups); the scan
    dominates and the shipdate predicate pushes to parquet row-group stats.

    Decimal discipline: factor casts sized so the 3-term product stays
    inside DECIMAL(38,_) on BOTH engines ((18,2)x(8,2)x(8,2)), then the
    exact sums are cast to DOUBLE at the very end per the dtype policy.
    Averages are exact-decimal-sum -> double, THEN / count — native
    avg(DECIMAL) rounds to scale 6 in Spark but divides as double in
    DuckDB, so the engines disagree in the last float bits otherwise.
    """
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DecimalType(8, 2))
    tax = F.col("l_tax").cast(DecimalType(8, 2))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax)).cast("double").alias("sum_charge"),
            (F.sum(F.col("l_quantity").cast(DEC)).cast("double") / F.count(F.lit(1)))
            .alias("avg_qty"),
            (F.sum(price).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            (F.sum(disc).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q13_order_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join with an extra non-key join predicate,
    then a two-level aggregation (orders per customer -> histogram of that
    count). COUNT(col) counting only non-null matches is the semantic point:
    customers with zero qualifying orders land in the c_count=0 bucket.

    Scale: the outer join shuffles on custkey (both sides large at 100 TB);
    the first agg reuses that partitioning (no extra exchange), the second
    agg's key space is tiny -> near-free final exchange.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    joined = c.join(
        o,
        (c["c_custkey"] == o["o_custkey"]) & (o["o_orderpriority"] != "1-URGENT"),
        "left_outer",
    )
    per_cust = joined.groupBy(c["c_custkey"]).agg(
        F.count(o["o_orderkey"]).alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "j9_full_outer_join",
    """
    SELECT COALESCE(cn.k, sn.k) AS nationkey,
           cn.c_cnt, sn.s_cnt
    FROM (SELECT c_nationkey AS k, COUNT(*) AS c_cnt FROM customer GROUP BY 1) cn
    FULL OUTER JOIN
         (SELECT s_nationkey AS k, COUNT(*) AS s_cnt FROM supplier GROUP BY 1) sn
      ON cn.k = sn.k
    """,
)
def j9_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: FULL OUTER join of two pre-aggregated sides (customer count vs
    supplier count per nation), nulls preserved where a nation appears on
    only one side. Pre-aggregating before the join shrinks both sides to
    |nations| rows — at scale the join is a trivial exchange over ~couple
    hundred keys instead of an outer join of two fact tables.
    """
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("c_cnt"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("s_cnt"))
    )
    return c.join(s, c["k"] == s["k"], "full_outer").select(
        F.coalesce(c["k"], s["k"]).alias("nationkey"),
        c["c_cnt"],
        s["s_cnt"],
    )


@query(
    "s4_union_all",
    """
    SELECT k, COUNT(*) AS n
    FROM (
      SELECT c_nationkey AS k FROM customer
      UNION ALL
      SELECT s_nationkey AS k FROM supplier
    )
    GROUP BY k
    """,
)
def s4_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: UNION ALL (bag semantics — duplicates kept) distinguished
    from s1's UNION DISTINCT, made deterministic by the downstream count.
    Union is a zero-shuffle plan node in Spark; only the agg exchanges.
    """
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.unionAll(s).groupBy("k").agg(F.count(F.lit(1)).alias("n"))


@query(
    "w4_rank_family",
    """
    SELECT c_custkey,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           CAST(percent_rank() OVER w AS DOUBLE) AS pct_rank,
           CAST(cume_dist() OVER w AS DOUBLE) AS cdist
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def w4_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window rank family: ntile / percent_rank / cume_dist per market
    segment. The ORDER BY includes c_custkey as a tiebreak so ntile's
    row_number-based bucketing is deterministic across engines.
    One shuffle on the partition key serves all three functions.
    """
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).cast("double").alias("pct_rank"),
        F.cume_dist().over(w).cast("double").alias("cdist"),
    )


@query(
    "d5_hash_sample",
    """
    SELECT COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = 'a'
    """,
)
def d5_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~1/16 hash-sample: filter on the first md5 hex digit of
    the key, then aggregate. Unlike TABLESAMPLE this is reproducible across
    engines, partitionings, and retries — the property that matters for
    training-data subsampling (same sample every run, no seed plumbing).
    Embarrassingly parallel: filter+partial-agg per partition, no shuffle
    until the single-row final agg.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) == "a"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("sum_price"),
    )


@query(
    "t2_paginated_sort",
    """
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10 OFFSET 10
    """,
)
def t2_paginated_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination: total-order sort + LIMIT/OFFSET (rows 11-20). The
    o_orderkey tiebreak makes the page stable. Spark executes this as a
    TakeOrderedAndProject of the first 20 rows (no full sort materialized),
    then drops the first 10 — driver-side cost is O(page), not O(n).
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("totalprice")
    )
    return o.orderBy(F.col("totalprice").desc(), "o_orderkey").offset(10).limit(10)


@query(
    "x3_quality_filter",
    """
    WITH s AS (
      SELECT doc_id, lang,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_words,
             CAST(len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS DOUBLE)
               / CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS uniq_ratio,
             CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
               / CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS mean_wlen
      FROM documents
    )
    SELECT doc_id, lang, n_words, uniq_ratio, mean_wlen
    FROM s
    WHERE n_words >= 30 AND uniq_ratio >= 0.40
      AND mean_wlen >= 4.0 AND mean_wlen <= 5.0
    """,
)
def x3_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: Gopher-style composite quality filter (word count, unique-word
    repetition ratio, mean word length) returning surviving documents with
    their metrics. Map-only, zero shuffle, whole-stage codegen — the
    100 TB cost is exactly one corpus scan (functions.text.word_stats_exprs).
    """
    from .functions.text import gopher_quality_filter_expr, word_stats_exprs

    d = load_table(spark, sf_dir, "documents")
    s = word_stats_exprs("text")
    return (
        d.withColumn("n_words", s["n_words"])
        .withColumn("uniq_ratio", s["uniq_ratio"])
        .withColumn("mean_wlen", s["mean_wlen"])
        .filter(gopher_quality_filter_expr("text"))
        .select("doc_id", "lang", "n_words", "uniq_ratio", "mean_wlen")
    )


@query(
    "x4_frame_sample",
    """
    SELECT doc_id,
           CAST(unnest(range(0, (octet_length(encode(text)) % 100 + 1), 10))
                AS BIGINT) AS frame_idx
    FROM documents
    """,
)
def x4_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: video frame-sampling explode — one row per sampled frame index
    (every 10th frame; frame count stubbed deterministically from payload
    size, so the explode/partitioning plumbing is fully oracle-checkable
    even though the container ships no media decoder).

    Scale: explode multiplies rows ~10x here — at 100 TB the decode that
    follows runs in mapInPandas batches, so the explode must happen BEFORE
    repartitioning by a size-balanced key (multimodal/decode.py), keeping
    any one task's frame payloads bounded.
    """
    from .multimodal.decode import sample_video_frames

    d = load_table(spark, sf_dir, "documents")
    with_payload = d.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    return sample_video_frames(with_payload, "doc_id", "payload", every_n=10).select(
        "doc_id", F.col("frame_idx").cast("long")
    )


@query(
    "g5_unpivot",
    """
    SELECT p_partkey, 'retailprice' AS metric,
           CAST(p_retailprice AS DOUBLE) AS val
    FROM part
    UNION ALL
    SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) AS val
    FROM part
    """,
)
def g5_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide columns → (metric, value) rows, the inverse of
    g3's pivot. Spark's native unpivot emits one output row per id x value
    column with zero shuffles — a narrow map transform, same as the UNION
    ALL twin but in one scan.
    """
    p = load_table(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.col("p_retailprice").cast("double").alias("retailprice"),
            F.col("p_size").cast("double").alias("size"),
        )
        .unpivot("p_partkey", ["retailprice", "size"], "metric", "val")
    )


@query(
    "skw1_salted_hot_key_agg",
    """
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def skw1_salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated aggregation (operators/skew.py): l_returnflag has 3
    values over the whole fact table — the definitional hot-key aggregate.
    Two phases: partial sums per (key, salt) spread the hot keys over the
    cluster, then a tiny merge per key. The oracle is the plain GROUP BY —
    salting must be result-invariant (sums are exact decimals, so shard
    order can't perturb them).

    Scale note: Spark's built-in partial aggregation already absorbs *sum*
    skew; explicit salting is the pattern for aggregates without cheap
    partials (collect_set/exact-distinct, percentile buffers) — exercised
    here on the same primitive so the gate proves result-invariance.
    """
    from .operators.skew import salted_aggregate

    li = load_table(spark, sf_dir, "lineitem")
    return salted_aggregate(
        li,
        ["l_returnflag"],
        partial_aggs=[
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col("l_quantity").cast(DEC)).alias("_sq"),
        ],
        merge_aggs=[
            F.sum("_n").alias("n"),
            F.sum("_sq").cast("double").alias("sum_qty"),
        ],
    )


@query("x2_recall_report")  # approximate indexes are engine-specific — rows-only
def x2_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 quality gate as a query: per-query recall@10 of the approximate
    indexes (LSH, IVF, PQ+re-rank, IVF-PQ/IVFADC, binary quantization)
    against the exact brute-force top-10 — the measurement a production ANN
    deployment runs continuously on a traffic sample to tune (planes,
    bands) / (n_centroids, nprobe) / (n_subspaces, n_codes) / shortlist.

    Scale: the recall join is on (q_id, c_id) pairs — k rows per query —
    negligible next to the searches themselves; the exact search runs on
    the same bounded query sample, not the corpus. The three approximate
    result sets are tagged and unioned so the exact top-10 subtree is
    built ONCE and joined once (three separate semi-joins would
    re-instantiate — and recompute — the brute-force search per method);
    the q_id spine comes from the 5-row query sample, not another pass
    over exact.
    """
    e = load_table(spark, sf_dir, "embeddings")
    # The seven pipelines (exact + 6 indexes) each scan the corpus several
    # times (training sample, assignment, search, re-rank) — materialize
    # it ONCE so every pass reads local blocks instead of re-running the
    # parquet scan + projection per pipeline. Values are unchanged
    # (checkpoint is plan-level), so the report hash is identical.
    queries = (
        e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
        .localCheckpoint(eager=False)
    )
    corpus = (
        e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
        .localCheckpoint(eager=False)
    )
    # Materialize the shared inputs BEFORE fanning out: a lazy checkpoint
    # first-computed from four threads would race to fill it.
    queries.count()
    corpus.count()

    from concurrent.futures import ThreadPoolExecutor

    from .operators.similarity import (
        bq_topk,
        ivfbq_topk,
        ivfpq_topk_quantized,
        pq_topk,
    )

    exact = brute_force_topk(queries, corpus, k=10).select("q_id", "c_id")
    # The six index pipelines are independent, and each one's cost is a
    # chain of driver-side jobs (centroid collects per k-means iteration)
    # plus its search stages — serialized they cost sum(pipelines),
    # submitted concurrently they cost max(pipelines) (Spark's scheduler
    # interleaves jobs from multiple threads; deterministic training makes
    # the results order-independent). Each thread eagerly materializes its
    # (q_id, c_id) result so the searches of the cheap indexes overlap the
    # k-means chain of the expensive ones instead of queuing behind it in
    # the final action. A production deployment builds its index variants
    # concurrently for the same reason. Measured 10.2 s -> ~5.5 s at
    # sf0.1; identical output values (pre/post diff checked).
    def _run(build):
        return build().select("q_id", "c_id").localCheckpoint(eager=True)

    with ThreadPoolExecutor(6) as pool:
        f_lsh = pool.submit(
            _run, lambda: lsh_topk(queries, corpus, k=10, dim=64, planes=16, bands=4)
        )
        f_ivf = pool.submit(
            _run, lambda: ivf_topk(queries, corpus, k=10, n_centroids=16, nprobe=4)
        )
        f_pq = pool.submit(
            _run,
            lambda: pq_topk(queries, corpus, k=10, n_subspaces=8, n_codes=16),
        )
        f_ivfpq = pool.submit(
            _run,
            lambda: ivfpq_topk_quantized(
                queries, corpus, k=10, n_centroids=8, nprobe=4,
                n_subspaces=8, n_codes=16,
            ),
        )
        f_bq = pool.submit(
            _run,
            # derived (corpus-scaled) shortlist — the shipped default
            lambda: bq_topk(queries, corpus, k=10, dim=64, shortlist=None),
        )
        f_ivfbq = pool.submit(
            _run,
            lambda: ivfbq_topk(
                queries, corpus, k=10, n_centroids=8, nprobe=4, dim=64,
                shortlist=None,
            ),
        )
        lsh, ivf, pq, ivfpq, bq, ivfbq = (
            f_lsh.result(), f_ivf.result(), f_pq.result(), f_ivfpq.result(),
            f_bq.result(), f_ivfbq.result(),
        )

    tagged = (
        lsh.withColumn("_m", F.lit("lsh"))
        .unionByName(ivf.withColumn("_m", F.lit("ivf")))
        .unionByName(pq.withColumn("_m", F.lit("pq")))
        .unionByName(ivfpq.withColumn("_m", F.lit("ivfpq")))
        .unionByName(bq.withColumn("_m", F.lit("bq")))
        .unionByName(ivfbq.withColumn("_m", F.lit("ivfbq")))
    )
    hits = exact.join(tagged, ["q_id", "c_id"], "inner")
    per_q = hits.groupBy("q_id").agg(
        *[
            (
                F.sum(F.when(F.col("_m") == m, 1).otherwise(0)).cast("double")
                / F.lit(10.0)
            ).alias(f"recall_{m}")
            for m in ("lsh", "ivf", "pq", "ivfpq", "bq", "ivfbq")
        ]
    )
    return (
        queries.select("q_id")
        .join(per_q, "q_id", "left")
        .na.fill(
            {
                "recall_lsh": 0.0,
                "recall_ivf": 0.0,
                "recall_pq": 0.0,
                "recall_ivfpq": 0.0,
                "recall_bq": 0.0,
                "recall_ivfbq": 0.0,
            }
        )
    )


def _x4_oracle_sql() -> str:
    """DuckDB twin of the fake decoder (multimodal/decode.py:_fake_decode):
    sha256 is available in both engines, byte extraction is hex-string
    parsing, and the float pipeline (byte/255.0 → float32 → double,
    left-to-right squared-sum fold, sqrt, divide) is IEEE-deterministic, so
    the twin is BIT-exact — repr()-level float equality verified at
    sf0.001/sf0.01."""
    hexv = "(strpos('0123456789abcdef', {c}) - 1)"

    def byte_expr(i: int) -> str:  # 0-based byte of the sha256 hex digest h
        c1 = hexv.format(c=f"substr(h, {2 * i + 1}, 1)")
        c2 = hexv.format(c=f"substr(h, {2 * i + 2}, 1)")
        return f"({c1} * 16 + {c2})"

    feats = [
        f"CAST(CAST({byte_expr(i)} / 255.0 AS FLOAT) AS DOUBLE)" for i in range(2, 10)
    ]
    sq = "0.0"
    for i in range(8):  # same fold order as functions/vectors.l2_norm_expr
        sq = f"({sq} + f{i} * f{i})"
    norm = f"sqrt({sq})"
    return f"""
    WITH hashes AS (
      SELECT doc_id, lower(sha256(text)) AS h FROM documents
    ), feats AS (
      SELECT doc_id,
             1 + {byte_expr(0)} % 64 AS width,
             1 + {byte_expr(1)} % 64 AS height,
             {", ".join(f"{e} AS f{i}" for i, e in enumerate(feats))}
      FROM hashes
    )
    SELECT doc_id,
           CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS n_channels,
           {", ".join(f"CASE WHEN {norm} > 0 THEN f{i} / {norm} ELSE f{i} END AS feat_{i}" for i in range(4))}
    FROM feats
    """


@query("x4_decode_features", _x4_oracle_sql())
def x4_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 decode path end-to-end: binary payloads → Arrow-batched
    mapInPandas decode (deterministic fake decoder — the container ships no
    media libs; the real decoder drops into the same batch loop) → native
    feature normalization. The one sanctioned mapInPandas surface, exposed
    as a catalog entry so its plan shape is part of the gate.

    Full DuckDB oracle (not rows-only): the fake decoder is sha256-derived,
    which DuckDB can mirror bit-exactly — see _x4_oracle_sql.

    Scale: decode cost is per-byte, so batches are bounded by
    maxRecordsPerBatch and the stage parallelizes per input split; feature
    post-processing stays JVM-side (normalize is a native array expr).
    """
    from .multimodal.decode import decode_image_batch, extract_image_features

    d = load_table(spark, sf_dir, "documents")
    payloads = d.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    decoded = decode_image_batch(payloads, use_fake_decoder=True)
    # Flatten the feature vector to scalar columns: rows-only checks still
    # canonicalize the frame, and list cells are unhashable in pandas (the
    # round-1 p6 lesson) — scalars keep every value in the check.
    feats = extract_image_features(decoded)
    return feats.select(
        "doc_id",
        F.col("width").cast("long"),
        F.col("height").cast("long"),
        F.col("n_channels").cast("long"),
        *[
            F.element_at("features", i + 1).alias(f"feat_{i}")
            for i in range(4)
        ],
    )


@query(
    "f14_date_arithmetic",
    """
    WITH m AS (
      SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE) AS m
      FROM orders
    )
    SELECT CAST(m AS VARCHAR) AS month_start,
           CAST(CAST(m + INTERVAL 1 MONTH AS DATE) AS VARCHAR) AS next_month,
           CAST(CAST(m - INTERVAL 7 DAY AS DATE) AS VARCHAR) AS week_before,
           CAST(last_day(m) AS VARCHAR) AS month_end,
           CAST(date_diff('day', DATE '1995-01-01', m) AS BIGINT) AS days_since_anchor
    FROM m
    """,
)
def f14_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-family completion: add_months / date_sub / last_day / datediff (days since the
    1995-01-01 corpus anchor) over month-start anchors (month starts sidestep end-of-month clamping
    differences that don't arise in the reference's MM/yyyy grain)."""
    o = load_table(spark, sf_dir, "orders")
    m = o.select(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("m")
    ).distinct()
    return m.select(
        F.col("m").cast("string").alias("month_start"),
        F.add_months("m", 1).cast("string").alias("next_month"),
        F.date_sub("m", 7).cast("string").alias("week_before"),
        F.last_day("m").cast("string").alias("month_end"),
        F.datediff("m", F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_anchor"),
    )


@query(
    "ev3_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    )
    SELECT event_type, next_type, COUNT(*) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def ev3_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV3: event-transition (Markov) matrix — per-user event sequences via
    a lead window, then pair counts. The event_id tiebreak makes same-
    timestamp ordering deterministic across engines.

    Scale: one shuffle on user_id for the window; the transition aggregate
    is |event_types|² rows regardless of event volume.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    return seq.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "s5_except_all",
    """
    SELECT c_nationkey AS k FROM customer
    EXCEPT ALL
    SELECT s_nationkey AS k FROM supplier
    """,
)
def s5_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op with multiplicity: EXCEPT ALL keeps (count_left - count_right)
    copies per value — bag semantics, unlike s2's set-based EXCEPT. Spark
    plans it as a counted aggregate + generate, not an anti-join."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.exceptAll(s)


@query(
    "w6_first_last_value",
    """
    SELECT o_orderkey, o_custkey,
           CAST(FIRST_VALUE(o_totalprice) OVER w AS DOUBLE) AS first_price,
           CAST(LAST_VALUE(o_totalprice) OVER w AS DOUBLE) AS last_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def w6_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last_value over an explicit full frame (the default frame ends
    at CURRENT ROW, which silently makes last_value == current row — the
    classic window-frame trap, made explicit here). o_orderkey tiebreak
    keeps same-date ordering deterministic across engines."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_totalprice").over(w).cast("double").alias("first_price"),
        F.last("o_totalprice").over(w).cast("double").alias("last_price"),
    )


@query(
    "g6_multi_count_distinct",
    """
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_custs,
           COUNT(DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE)) AS n_months,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def g6_multi_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple COUNT(DISTINCT ...) over different columns in one aggregate
    — Spark plans this with an Expand (row replication per distinct column)
    feeding a two-level aggregate; a plan shape none of the other aggregate
    queries exercise."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").alias("n_custs"),
        F.count_distinct(
            F.date_trunc("month", F.col("o_orderdate")).cast("date")
        ).alias("n_months"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# =====================================================================
# X4 real-codec decode — oracle-checked end-to-end
# =====================================================================
#
# The payloads are synthesized from pure integer formulas (codecs.make_bmp
# / make_wav), then parsed back by the REAL decoders (struct-parsed BMP,
# stdlib-wave PCM16). Because the pixel/sample values follow closed-form
# arithmetic, DuckDB recomputes the expected decoded statistics without
# ever seeing the bytes — any padding / byte-order / channel-swizzle bug
# in encoder or parser breaks the hash match. All outputs are exact
# integers (no float accumulation).

@query(
    "x4_bmp_decode",
    """
    WITH dims AS (
      SELECT doc_id, CAST(3 + doc_id % 6 AS BIGINT) AS width,
             CAST(2 + doc_id % 5 AS BIGINT) AS height
      FROM documents
    ), px AS (
      SELECT doc_id, width, height, unnest(range(0, width * height)) AS p
      FROM dims
    )
    SELECT doc_id, width, height, CAST(3 AS BIGINT) AS n_channels,
           CAST(SUM((doc_id * 7 + p * 3 + 0) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((doc_id * 7 + p * 3 + 1) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((doc_id * 7 + p * 3 + 2) % 256) AS BIGINT) AS sum_b,
           CAST(54 + height * (width * 3 + (4 - (width * 3) % 4) % 4) AS BIGINT)
             AS n_bytes
    FROM px
    GROUP BY doc_id, width, height
    """,
)
def x4_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 real image decode: synthesize a valid 24-bit BMP per document,
    parse it back with the dependency-free real parser, emit exact decoded
    statistics. The generate→encode→parse round-trip runs inside one Arrow
    mapInPandas pass (the sanctioned Python path for media); at scale the
    generator stage is replaced by reading payload bytes from the table —
    the decode side of the plan is identical.
    """
    import pandas as pd

    from .multimodal.codecs import decode_bmp, make_bmp

    # spread(): the doc_id spine is a ~1-file scan, but the decode below
    # is CPU-bound Python — widen to cluster parallelism (no-op when
    # the scan is already wide; see operators/partitioning.py)
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id"))

    def gen_decode(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                payload = make_bmp(int(i))
                w, h, c, img = decode_bmp(payload)
                s = img.reshape(-1, 3).astype("int64").sum(axis=0)
                rows.append(
                    {
                        "doc_id": int(i), "width": w, "height": h,
                        "n_channels": c, "sum_r": int(s[0]), "sum_g": int(s[1]),
                        "sum_b": int(s[2]), "n_bytes": len(payload),
                    }
                )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        gen_decode,
        "doc_id long, width long, height long, n_channels long, "
        "sum_r long, sum_g long, sum_b long, n_bytes long",
    )


@query(
    "x4_wav_decode",
    """
    WITH dims AS (
      SELECT doc_id, CAST(doc_id % 50 + 20 AS BIGINT) AS n_samples
      FROM documents
    ), s AS (
      SELECT doc_id, n_samples, unnest(range(0, n_samples)) AS i
      FROM dims
    )
    SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
           CAST(1 AS BIGINT) AS n_channels, n_samples,
           CAST(SUM(ABS((doc_id * 31 + i * 17) % 65536 - 32768)) AS BIGINT)
             AS sum_abs,
           CAST(MAX((doc_id * 31 + i * 17) % 65536 - 32768) AS BIGINT) AS max_amp
    FROM s
    GROUP BY doc_id, n_samples
    """,
)
def x4_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 real audio decode: synthesize a valid PCM16 mono WAV per
    document, parse it back with the stdlib-wave real parser, emit exact
    integer sample statistics (sum of |amplitude|, max amplitude — no
    float accumulation, so the SQL twin matches bit-for-bit)."""
    import pandas as pd

    from .multimodal.codecs import decode_wav, make_wav

    # spread(): the doc_id spine is a ~1-file scan, but the decode below
    # is CPU-bound Python — widen to cluster parallelism (no-op when
    # the scan is already wide; see operators/partitioning.py)
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id"))

    def gen_decode(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                payload = make_wav(int(i))
                rate, nch, samples = decode_wav(payload)
                a = samples.astype("int64")
                rows.append(
                    {
                        "doc_id": int(i), "sample_rate": rate, "n_channels": nch,
                        "n_samples": len(samples),
                        "sum_abs": int(abs(a).sum()), "max_amp": int(a.max()),
                    }
                )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        gen_decode,
        "doc_id long, sample_rate long, n_channels long, n_samples long, "
        "sum_abs long, max_amp long",
    )


# Data-derived centroid count for SemDeDup: max(16, ceil(sqrt(n))).
# sqrt is correctly-rounded IEEE double in both libm (DuckDB) and Python's
# math.sqrt, and ceil of a double is exact, so the two derivations agree
# bit-for-bit for any corpus size.
_SEMDEDUP_NC_SQL = (
    "GREATEST(16, CAST(ceil(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))"
)


def _semdedup_n_centroids(n: int) -> int:
    """Python twin of _SEMDEDUP_NC_SQL (same IEEE sqrt + ceil)."""
    import math

    return max(16, math.ceil(math.sqrt(float(n))))


# Corpus-derived re-rank shortlist for the lossy-ordering ANN family
# (PQ / IVF-PQ / BQ): the scalar-subquery twin of
# operators.similarity.derived_shortlist — max(1000, ceil(n/200)) in pure
# BIGINT arithmetic ((COUNT(*) + 199) // 200 is exact ceil-div), computed
# over the SAME `corp` CTE every X2 oracle builds from `embeddings`, so
# the two derivations agree at every sf. Same mirroring pattern as the
# SemDeDup sqrt-centroid rule above.
_DERIVED_SHORTLIST_SQL = (
    "(SELECT GREATEST(1000, (COUNT(*) + 199) // 200) FROM corp)"
)


def _qkmeans_sql_prefix(
    n_centroids: int = 16,
    n_iter: int = 3,
    scale: int = 10**6,
    dim: int = 64,
    nc_sql: str | None = None,
    corpus_where: str = "",
) -> str:
    """Shared WITH-prefix for the fixed-point-k-means oracles: corp/corpq
    (double + scaled-int64 views of embeddings), one CTE layer per Lloyd
    iteration (aggregates cannot sit in a recursive CTE\'s recursive term,
    so a FIXED iteration count unrolls — same construction as
    gr1_pagerank), and `af`, the final cell assignment. All arithmetic is
    int64: squared-diff distances, packed argmin tie-breaks, truncating
    integer means (the CASE reproduces Spark\'s toward-zero `div` for
    negative sums).

    ``nc_sql``: optional SQL expression for a DATA-DERIVED centroid count
    (e.g. ``GREATEST(16, CAST(ceil(sqrt(COUNT(*))) AS BIGINT))`` over the
    corpus) — emitted as a one-row ``params`` CTE and referenced via a
    scalar subquery wherever the static path inlines the literal; the
    Spark side derives the identical value from the same count, so the
    twin stays bit-exact while the centroid count scales with the corpus
    (the SemDeDup quadratic-prune fix)."""
    where = f" WHERE {corpus_where}" if corpus_where else ""
    if nc_sql is None:
        nc = str(n_centroids)
        params = ""
    else:
        nc = "(SELECT nc FROM params)"
        params = (
            f"params AS (SELECT {nc_sql} AS nc FROM embeddings{where}),\n    "
        )
    q8 = f"list_transform(vd, x -> CAST(round(x * {float(scale)!r}) AS BIGINT))"
    sqdist = (
        "list_sum(list_transform(range({d}), j -> "
        "({a}[j + 1] - {b}[j + 1]) * ({a}[j + 1] - {b}[j + 1])))"
    )
    layers = [
        # init = smallest-md5(id) rows: the engine's deterministic
        # uniform corpus-wide draw (operators/similarity.py:
        # quantized_kmeans_cells), mirrored bit-exactly
        f"""c0 AS (
      SELECT CAST(rn - 1 AS BIGINT) AS cell, qv AS cvec
      FROM (SELECT qv,
                   ROW_NUMBER() OVER (
                     ORDER BY md5(CAST(c_id AS VARCHAR)), c_id) AS rn
            FROM corpq)
      WHERE rn <= {nc}
    )"""
    ]
    for i in range(1, n_iter + 1):
        d = sqdist.format(d=dim, a="q.qv", b="c.cvec")
        layers.append(
            f"""a{i} AS (
      SELECT c_id, CAST(mp % {nc} AS BIGINT) AS cell FROM (
        SELECT q.c_id, MIN({d} * {nc} + c.cell) AS mp
        FROM corpq q CROSS JOIN c{i - 1} c GROUP BY q.c_id
      )
    ), m{i} AS (
      SELECT a.cell, r.j,
             CASE WHEN SUM(q.qv[r.j + 1]) >= 0
                  THEN CAST(SUM(q.qv[r.j + 1]) // COUNT(*) AS BIGINT)
                  ELSE -CAST((-SUM(q.qv[r.j + 1])) // COUNT(*) AS BIGINT)
             END AS m
      FROM a{i} a JOIN corpq q USING (c_id) CROSS JOIN range({dim}) AS r(j)
      GROUP BY a.cell, r.j
    ), c{i} AS (
      SELECT p.cell, COALESCE(n.cvec, p.cvec) AS cvec
      FROM c{i - 1} p LEFT JOIN (
        SELECT cell, list(m ORDER BY j) AS cvec FROM m{i} GROUP BY cell
      ) n USING (cell)
    )"""
        )
    df = sqdist.format(d=dim, a="q.qv", b="c.cvec")
    return f"""
    WITH {params}corp AS (
      SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS vd
      FROM embeddings{where}
    ),
    corpq AS (SELECT c_id, {q8} AS qv FROM corp),
    {", ".join(layers)},
    af AS (
      SELECT c_id, CAST(mp % {nc} AS BIGINT) AS cell FROM (
        SELECT q.c_id, MIN({df} * {nc} + c.cell) AS mp
        FROM corpq q CROSS JOIN c{n_iter} c GROUP BY q.c_id
      )
    )"""


def _ivfq_oracle_sql(
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    n_iter: int = 3,
    shortlist: int = 50,
    scale: int = 10**6,
    dim: int = 64,
) -> str:
    """DuckDB twin of ivf_topk_quantized: the shared fixed-point-k-means
    prefix (_qkmeans_sql_prefix) + quantized-query probing + the IVFFlat
    two-stage search — exact-int64 squared-distance shortlist over the
    probed cells' QUANTIZED vectors (round 5; one integer expression, so
    still bit-exact), then the proven fold-exact double-cosine re-rank on
    the shortlist only."""
    q8 = f"list_transform(vd, x -> CAST(round(x * {float(scale)!r}) AS BIGINT))"
    sqdist = (
        "list_sum(list_transform(range({d}), j -> "
        "({a}[j + 1] - {b}[j + 1]) * ({a}[j + 1] - {b}[j + 1])))"
    )
    cos = (
        "list_dot_product(qs.vd, corp.vd) / "
        "(sqrt(list_dot_product(qs.vd, qs.vd)) * sqrt(list_dot_product(corp.vd, corp.vd)))"
    )
    return f"""{_qkmeans_sql_prefix(n_centroids, n_iter, scale, dim)},
    qs AS (
      SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS vd
      FROM embeddings WHERE vec_id < 5
    ),
    qq AS (SELECT q_id, {q8} AS qv FROM qs),
    probes AS (
      SELECT q_id, cell FROM (
        SELECT q.q_id, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.q_id
                 ORDER BY {sqdist.format(d=dim, a='q.qv', b='c.cvec')}, c.cell
               ) AS rn
        FROM qq q CROSS JOIN c{n_iter} c
      ) WHERE rn <= {nprobe}
    ),
    cand AS (
      SELECT p.q_id, af.c_id FROM probes p JOIN af USING (cell)
    ),
    short AS (
      SELECT q_id, c_id FROM (
        SELECT cand.q_id, cand.c_id,
               ROW_NUMBER() OVER (
                 PARTITION BY cand.q_id
                 ORDER BY {sqdist.format(d=dim, a='q.qv', b='cq.qv')}, cand.c_id
               ) AS sr
        FROM cand JOIN qq q ON cand.q_id = q.q_id
                  JOIN corpq cq ON cand.c_id = cq.c_id
      ) WHERE sr <= {max(k, shortlist)}
    ),
    approx AS (
      SELECT q_id, c_id, sim,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank
      FROM (
        SELECT short.q_id, short.c_id, {cos} AS sim
        FROM short JOIN qs ON short.q_id = qs.q_id JOIN corp ON short.c_id = corp.c_id
      )
    ),
    exact AS (
      SELECT q_id, c_id, rank AS exact_rank FROM (
        SELECT qs.q_id, corp.c_id,
               ROW_NUMBER() OVER (PARTITION BY qs.q_id ORDER BY {cos} DESC, corp.c_id)
                 AS rank
        FROM qs, corp
      ) WHERE rank <= {k}
    )
    SELECT a.q_id, a.c_id, a.sim, CAST(a.rank AS BIGINT) AS rank,
           CAST(e.exact_rank AS BIGINT) AS exact_rank
    FROM approx a LEFT JOIN exact e ON a.q_id = e.q_id AND a.c_id = e.c_id
    WHERE a.rank <= {k}
    """


@query("x2_topk_ivf", _ivfq_oracle_sql())
def x2_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 scale path #2: IVF over a DISTRIBUTED fixed-point k-means coarse
    quantizer — fully oracle-checked. Quantizing vectors to scaled int64
    makes the full Lloyd recurrence exact integer arithmetic, so index
    build + probing + re-rank all verify bit-exactly against the
    unrolled-CTE DuckDB twin (operators/similarity.py: ivf_topk_quantized)
    — iterative float k-means can never be oracle-checked, quantized
    k-means can. x2_topk_ivf_float (driver-trained float Lloyd on a
    bounded sample, Arrow assignment kernel) remains the throughput
    variant; this one additionally demonstrates the index TRAINS
    distributed: per iteration one kernel assignment pass + one
    hash-aggregated array of per-cell sums, no corpus collect anywhere.
    """
    from .operators.similarity import ivf_topk_quantized

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    approx = ivf_topk_quantized(
        queries, corpus, k=10, n_centroids=16, nprobe=4, n_iter=3
    ).withColumn("rank", F.col("rank").cast("long"))
    return _with_exact_rank(approx, queries, corpus)


def _semdedup_q_oracle_sql(
    threshold: float = 0.3,
    n_centroids: int = 16,
    n_iter: int = 3,
    scale: int = 10**6,
    dim: int = 64,
) -> str:
    """DuckDB twin of semantic_dedup_quantized: the shared fixed-point
    k-means prefix + within-cell fold-exact cosine prune + min-dominator
    audit — every column bit-identical. The centroid count is DATA-DERIVED
    (``_SEMDEDUP_NC_SQL`` ~ sqrt(corpus)), mirroring the Spark side's
    identical integer derivation, so the twin scales with the corpus
    instead of pinning the within-cell quadratic."""
    cos = (
        "list_dot_product(x.vd, y.vd) / "
        "(sqrt(list_dot_product(x.vd, x.vd)) * sqrt(list_dot_product(y.vd, y.vd)))"
    )
    return f"""{_qkmeans_sql_prefix(n_centroids, n_iter, scale, dim, nc_sql=_SEMDEDUP_NC_SQL)},
    dom AS (
      SELECT b.c_id AS id_b, MIN(a.c_id) AS pruned_by
      FROM af a JOIN af b ON a.cell = b.cell AND a.c_id < b.c_id
      JOIN corp x ON a.c_id = x.c_id
      JOIN corp y ON b.c_id = y.c_id
      WHERE {cos} >= {threshold}
      GROUP BY b.c_id
    )
    SELECT af.c_id AS vec_id, af.cell,
           (d.id_b IS NULL) AS is_kept,
           CAST(d.pruned_by AS BIGINT) AS pruned_by
    FROM af LEFT JOIN dom d ON af.c_id = d.id_b
    """


@query("x1_semantic_dedup_q", _semdedup_q_oracle_sql())
def x1_semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 SemDeDup over the DISTRIBUTED fixed-point k-means cells — the
    fully oracle-checked sibling of x1_semantic_dedup: quantized-integer
    Lloyd makes the cell structure bit-reproducible in SQL, and the
    within-cell prune is the fold-exact double cosine, so cell /
    is_kept / pruned_by all hash-match the DuckDB twin
    (operators/similarity.py: semantic_dedup_quantized). Threshold 0.3
    for the same i.i.d.-embeddings reason as x1_semantic_dedup.

    n_centroids is DERIVED from the corpus (max(16, ceil(sqrt(n))) — the
    balance point where assignment cost n·nc and within-cell prune cost
    n²/nc meet at n^1.5), not pinned: the pinned-16/32 configuration was
    SCALING.md's measured 142×-over-10×-data quadratic. The oracle twin
    computes the identical count from COUNT(*) in SQL, so hash parity
    holds at every sf without per-sf SQL.
    """
    from .operators.similarity import semantic_dedup_quantized

    e = load_table(spark, sf_dir, "embeddings")
    nc = _semdedup_n_centroids(e.count())
    return semantic_dedup_quantized(
        e, "vec_id", "embedding", threshold=0.3, n_centroids=nc, n_iter=3
    )


_INCR_SEM_CORPUS_WHERE = "vec_id % 10 <> 9"
_INCR_SEM_BATCH_WHERE = "vec_id % 10 = 9"


def _incr_semdedup_oracle_sql(
    threshold: float = 0.3,
    n_iter: int = 3,
    scale: int = 10**6,
    dim: int = 64,
) -> str:
    """DuckDB twin of semantic_dedup_incremental_quantized: the shared
    fixed-point k-means prefix restricted to the CORPUS split, the same
    exact-integer argmin assignment applied to the BATCH split, then a
    batch-vs-corpus within-cell fold-exact cosine dominator join."""
    q8 = f"list_transform(vd, x -> CAST(round(x * {float(scale)!r}) AS BIGINT))"
    sqdist = (
        f"list_sum(list_transform(range({dim}), j -> "
        "(q.qv[j + 1] - c.cvec[j + 1]) * (q.qv[j + 1] - c.cvec[j + 1])))"
    )
    cos = (
        "list_dot_product(x.vd, y.vd) / "
        "(sqrt(list_dot_product(x.vd, x.vd)) * sqrt(list_dot_product(y.vd, y.vd)))"
    )
    nc = "(SELECT nc FROM params)"
    return f"""{_qkmeans_sql_prefix(
        n_iter=n_iter, scale=scale, dim=dim,
        nc_sql=_SEMDEDUP_NC_SQL, corpus_where=_INCR_SEM_CORPUS_WHERE,
    )},
    bat AS (
      SELECT vec_id AS b_id, CAST(embedding AS DOUBLE[]) AS vd
      FROM embeddings WHERE {_INCR_SEM_BATCH_WHERE}
    ),
    batq AS (SELECT b_id, {q8} AS qv FROM bat),
    ba AS (
      SELECT b_id, CAST(mp % {nc} AS BIGINT) AS cell FROM (
        SELECT q.b_id, MIN({sqdist} * {nc} + c.cell) AS mp
        FROM batq q CROSS JOIN c{n_iter} c GROUP BY q.b_id
      )
    ),
    dom AS (
      SELECT b.b_id, MIN(a.c_id) AS pruned_by
      FROM ba b JOIN af a ON a.cell = b.cell
      JOIN corp x ON a.c_id = x.c_id
      JOIN bat y ON b.b_id = y.b_id
      WHERE {cos} >= {threshold}
      GROUP BY b.b_id
    )
    SELECT ba.b_id AS vec_id, ba.cell,
           (d.b_id IS NULL) AS is_kept,
           CAST(d.pruned_by AS BIGINT) AS pruned_by
    FROM ba LEFT JOIN dom d ON ba.b_id = d.b_id
    """


@query("x1_incremental_semdedup", _incr_semdedup_oracle_sql())
def x1_incremental_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 INCREMENTAL SemDeDup — the daily-ingest shape of semantic
    dedup, and the embedding-space twin of x1_incremental_neardup: the
    quantized k-means index is built from the EXISTING corpus alone
    (vec_id % 10 != 9 as the deterministic split both engines agree on),
    the NEW batch (vec_id % 10 == 9) is assigned to corpus cells with
    the same exact-integer argmin, and a batch vector is pruned when any
    same-cell corpus vector has cosine >= 0.3 (pruned_by = smallest
    dominating corpus id). Fully oracle-checked end-to-end
    (operators/similarity.py: semantic_dedup_incremental_quantized).

    At 100 TB this is the operating mode that matters: the index builds
    once per corpus version and amortizes across every ingest batch; a
    batch costs one map-only assignment plus a cell-hash join against
    only the touched cells — nothing quadratic in corpus size.
    """
    from .operators.similarity import semantic_dedup_incremental_quantized

    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") % 10 != 9)
    batch = e.filter(F.col("vec_id") % 10 == 9)
    nc = _semdedup_n_centroids(corpus.count())
    return semantic_dedup_incremental_quantized(
        corpus, batch, "vec_id", "embedding",
        threshold=0.3, n_centroids=nc, n_iter=3,
    )


def _ivfpqq_oracle_sql(
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 4,
    n_subspaces: int = 8,
    n_codes: int = 16,
    n_iter: int = 3,
    shortlist: int | None = None,
    scale: int = 10**6,
    dim: int = 64,
) -> str:
    """DuckDB twin of ivfpq_topk_quantized (IVFADC): the shared coarse
    fixed-point k-means prefix, integer residuals against the assigned
    centroid, per-subspace residual codebooks unrolled per Lloyd
    iteration, nprobe cell probing, per-(query, cell) residual ADC
    tables, exact int64 ADC sums over probed cells only, fold-exact
    shortlist re-rank — every stage bit-identical. ``shortlist=None``
    mirrors the Spark side's corpus-derived depth via
    _DERIVED_SHORTLIST_SQL."""
    sl = _DERIVED_SHORTLIST_SQL if shortlist is None else str(shortlist)
    sd = dim // n_subspaces
    ncd = n_codes
    q8 = f"list_transform(vd, x -> CAST(round(x * {float(scale)!r}) AS BIGINT))"
    d8 = (
        f"list_sum(list_transform(range({sd}), j -> "
        "({a}[j + 1] - {b}[j + 1]) * ({a}[j + 1] - {b}[j + 1])))"
    )
    dfull = (
        f"list_sum(list_transform(range({dim}), j -> "
        "(q.qv[j + 1] - c.cvec[j + 1]) * (q.qv[j + 1] - c.cvec[j + 1])))"
    )
    players = [
        f"""p0 AS (
      SELECT sub, CAST(ROW_NUMBER() OVER (PARTITION BY sub ORDER BY c_id) - 1
               AS BIGINT) AS cell, sv AS cv
      FROM subs
      WHERE c_id IN (SELECT c_id FROM corpq ORDER BY c_id LIMIT {ncd})
    )"""
    ]
    for i in range(1, n_iter + 1):
        d = d8.format(a="s.sv", b="c.cv")
        players.append(
            f"""pa{i} AS (
      SELECT c_id, sub, CAST(mp % {ncd} AS BIGINT) AS cell FROM (
        SELECT s.c_id, s.sub, MIN({d} * {ncd} + c.cell) AS mp
        FROM subs s JOIN p{i - 1} c ON s.sub = c.sub GROUP BY s.c_id, s.sub
      )
    ), pm{i} AS (
      SELECT a.sub, a.cell, r.j,
             CASE WHEN SUM(s.sv[r.j + 1]) >= 0
                  THEN CAST(SUM(s.sv[r.j + 1]) // COUNT(*) AS BIGINT)
                  ELSE -CAST((-SUM(s.sv[r.j + 1])) // COUNT(*) AS BIGINT)
             END AS m
      FROM pa{i} a JOIN subs s ON a.c_id = s.c_id AND a.sub = s.sub
      CROSS JOIN range({sd}) AS r(j)
      GROUP BY a.sub, a.cell, r.j
    ), p{i} AS (
      SELECT p.sub, p.cell, COALESCE(n.cv, p.cv) AS cv
      FROM p{i - 1} p LEFT JOIN (
        SELECT sub, cell, list(m ORDER BY j) AS cv FROM pm{i} GROUP BY sub, cell
      ) n ON p.sub = n.sub AND p.cell = n.cell
    )"""
        )
    dcode = d8.format(a="s.sv", b="c.cv")
    dq = d8.format(a="q.sv", b="c.cv")
    cos = (
        "list_dot_product(qs.vd, corp.vd) / "
        "(sqrt(list_dot_product(qs.vd, qs.vd)) * sqrt(list_dot_product(corp.vd, corp.vd)))"
    )
    return f"""{_qkmeans_sql_prefix(n_centroids, n_iter, scale, dim)},
    res AS (
      SELECT af.c_id, af.cell,
             list_transform(range({dim}), j -> corpq.qv[j + 1] - c.cvec[j + 1])
               AS rv
      FROM af JOIN corpq USING (c_id) JOIN c{n_iter} c ON af.cell = c.cell
    ),
    subs AS (
      SELECT c_id, r.sub,
             list_transform(range({sd}), j -> rv[r.sub * {sd} + j + 1]) AS sv
      FROM res CROSS JOIN range({n_subspaces}) AS r(sub)
    ),
    {", ".join(players)},
    codes AS (
      SELECT c_id, sub, CAST(mp % {ncd} AS BIGINT) AS code FROM (
        SELECT s.c_id, s.sub, MIN({dcode} * {ncd} + c.cell) AS mp
        FROM subs s JOIN p{n_iter} c ON s.sub = c.sub GROUP BY s.c_id, s.sub
      )
    ),
    qs AS (
      SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS vd
      FROM embeddings WHERE vec_id < 5
    ),
    qq AS (SELECT q_id, {q8} AS qv FROM qs),
    probes AS (
      SELECT q_id, cell FROM (
        SELECT q.q_id, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.q_id ORDER BY {dfull}, c.cell
               ) AS rn
        FROM qq q CROSS JOIN c{n_iter} c
      ) WHERE rn <= {nprobe}
    ),
    qres AS (
      SELECT p.q_id, p.cell,
             list_transform(range({dim}), j -> qq.qv[j + 1] - c.cvec[j + 1])
               AS rv
      FROM probes p JOIN qq USING (q_id) JOIN c{n_iter} c USING (cell)
    ),
    qsubs AS (
      SELECT q_id, cell, r.sub,
             list_transform(range({sd}), j -> rv[r.sub * {sd} + j + 1]) AS sv
      FROM qres CROSS JOIN range({n_subspaces}) AS r(sub)
    ),
    adc AS (
      SELECT q.q_id, q.cell, c.sub, c.cell AS code, {dq} AS d
      FROM qsubs q JOIN p{n_iter} c ON q.sub = c.sub
    ),
    approxd AS (
      SELECT a.q_id, f.c_id, SUM(a.d) AS ad
      FROM codes f JOIN af ON f.c_id = af.c_id
      JOIN adc a ON af.cell = a.cell AND f.sub = a.sub AND f.code = a.code
      GROUP BY a.q_id, f.c_id
    ),
    short AS (
      SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ad, c_id) AS rn
        FROM approxd
      ) WHERE rn <= {sl}
    ),
    approx AS (
      SELECT q_id, c_id, sim,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank
      FROM (
        SELECT short.q_id, short.c_id, {cos} AS sim
        FROM short JOIN qs ON short.q_id = qs.q_id JOIN corp ON short.c_id = corp.c_id
      )
    ),
    exact AS (
      SELECT q_id, c_id, rank AS exact_rank FROM (
        SELECT qs.q_id, corp.c_id,
               ROW_NUMBER() OVER (PARTITION BY qs.q_id ORDER BY {cos} DESC, corp.c_id)
                 AS rank
        FROM qs, corp
      ) WHERE rank <= {k}
    )
    SELECT a.q_id, a.c_id, a.sim, CAST(a.rank AS BIGINT) AS rank,
           CAST(e.exact_rank AS BIGINT) AS exact_rank
    FROM approx a LEFT JOIN exact e ON a.q_id = e.q_id AND a.c_id = e.c_id
    WHERE a.rank <= {k}
    """


@query("x2_topk_ivfpq", _ivfpqq_oracle_sql())
def x2_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 scale path #4: IVF-PQ / IVFADC (Jégou et al. 2011) — the
    canonical billion-vector architecture, fully oracle-checked: coarse
    fixed-point k-means cells, per-subspace integer codebooks trained on
    the RESIDUALS against each vector's centroid (codebook resolution
    spent on the locally-varying part — why IVFADC beats flat PQ at
    equal code size), nprobe cell probing with per-(query, cell)
    residual ADC tables, exact int64 ADC over probed cells' 8-byte codes
    only, fold-exact shortlist re-rank. Completes the ANN family
    (brute force, LSH, IVF, PQ, IVF-PQ) with every member either fully
    hash-verified or recall-gated. ``exact_rank`` embeds the per-row
    quality gate as in the sibling queries.
    """
    from .operators.similarity import ivfpq_topk_quantized

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    approx = ivfpq_topk_quantized(
        queries, corpus, k=10, n_centroids=8, nprobe=4,
        n_subspaces=8, n_codes=16, n_iter=3,
        shortlist=None,  # corpus-derived depth; oracle mirrors it
    ).withColumn("rank", F.col("rank").cast("long"))
    return _with_exact_rank(approx, queries, corpus)


def _pqq_oracle_sql(
    k: int = 10,
    n_subspaces: int = 8,
    n_codes: int = 16,
    n_iter: int = 3,
    shortlist: int | None = None,
    scale: int = 10**6,
    dim: int = 64,
) -> str:
    """DuckDB twin of pq_topk_quantized: per-subspace fixed-point Lloyd
    unrolled one CTE layer per iteration (subspace rides as an extra group
    key through the same construction as _qkmeans_sql_prefix), integer
    argmin encoding, exact int64 ADC sums, fold-exact cosine re-rank.
    ``shortlist=None`` mirrors the corpus-derived depth."""
    sl = _DERIVED_SHORTLIST_SQL if shortlist is None else str(shortlist)
    sd = dim // n_subspaces
    nc = n_codes
    q8 = f"list_transform(vd, x -> CAST(round(x * {float(scale)!r}) AS BIGINT))"
    d8 = (
        f"list_sum(list_transform(range({sd}), j -> "
        "({a}[j + 1] - {b}[j + 1]) * ({a}[j + 1] - {b}[j + 1])))"
    )
    layers = [
        f"""p0 AS (
      SELECT sub, CAST(ROW_NUMBER() OVER (PARTITION BY sub ORDER BY c_id) - 1
               AS BIGINT) AS cell, sv AS cv
      FROM subs
      WHERE c_id IN (SELECT c_id FROM corpq ORDER BY c_id LIMIT {nc})
    )"""
    ]
    for i in range(1, n_iter + 1):
        d = d8.format(a="s.sv", b="c.cv")
        layers.append(
            f"""pa{i} AS (
      SELECT c_id, sub, CAST(mp % {nc} AS BIGINT) AS cell FROM (
        SELECT s.c_id, s.sub, MIN({d} * {nc} + c.cell) AS mp
        FROM subs s JOIN p{i - 1} c ON s.sub = c.sub GROUP BY s.c_id, s.sub
      )
    ), pm{i} AS (
      SELECT a.sub, a.cell, r.j,
             CASE WHEN SUM(s.sv[r.j + 1]) >= 0
                  THEN CAST(SUM(s.sv[r.j + 1]) // COUNT(*) AS BIGINT)
                  ELSE -CAST((-SUM(s.sv[r.j + 1])) // COUNT(*) AS BIGINT)
             END AS m
      FROM pa{i} a JOIN subs s ON a.c_id = s.c_id AND a.sub = s.sub
      CROSS JOIN range({sd}) AS r(j)
      GROUP BY a.sub, a.cell, r.j
    ), p{i} AS (
      SELECT p.sub, p.cell, COALESCE(n.cv, p.cv) AS cv
      FROM p{i - 1} p LEFT JOIN (
        SELECT sub, cell, list(m ORDER BY j) AS cv FROM pm{i} GROUP BY sub, cell
      ) n ON p.sub = n.sub AND p.cell = n.cell
    )"""
        )
    df = d8.format(a="s.sv", b="c.cv")
    dq = d8.format(a="q.sv", b="c.cv")
    cos = (
        "list_dot_product(qs.vd, corp.vd) / "
        "(sqrt(list_dot_product(qs.vd, qs.vd)) * sqrt(list_dot_product(corp.vd, corp.vd)))"
    )
    return f"""
    WITH corp AS (
      SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS vd FROM embeddings
    ),
    corpq AS (SELECT c_id, {q8} AS qv FROM corp),
    subs AS (
      SELECT c_id, r.sub,
             list_transform(range({sd}), j -> qv[r.sub * {sd} + j + 1]) AS sv
      FROM corpq CROSS JOIN range({n_subspaces}) AS r(sub)
    ),
    {", ".join(layers)},
    codes AS (
      SELECT c_id, sub, CAST(mp % {nc} AS BIGINT) AS cell FROM (
        SELECT s.c_id, s.sub, MIN({df} * {nc} + c.cell) AS mp
        FROM subs s JOIN p{n_iter} c ON s.sub = c.sub GROUP BY s.c_id, s.sub
      )
    ),
    qs AS (
      SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS vd
      FROM embeddings WHERE vec_id < 5
    ),
    qq AS (SELECT q_id, {q8} AS qv FROM qs),
    qsubs AS (
      SELECT q_id, r.sub,
             list_transform(range({sd}), j -> qv[r.sub * {sd} + j + 1]) AS sv
      FROM qq CROSS JOIN range({n_subspaces}) AS r(sub)
    ),
    adc AS (
      SELECT q.q_id, c.sub, c.cell, {dq} AS d
      FROM qsubs q JOIN p{n_iter} c ON q.sub = c.sub
    ),
    approxd AS (
      SELECT a.q_id, f.c_id, SUM(a.d) AS ad
      FROM codes f JOIN adc a ON f.sub = a.sub AND f.cell = a.cell
      GROUP BY a.q_id, f.c_id
    ),
    short AS (
      SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ad, c_id) AS rn
        FROM approxd
      ) WHERE rn <= {sl}
    ),
    approx AS (
      SELECT q_id, c_id, sim,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank
      FROM (
        SELECT short.q_id, short.c_id, {cos} AS sim
        FROM short JOIN qs ON short.q_id = qs.q_id JOIN corp ON short.c_id = corp.c_id
      )
    ),
    exact AS (
      SELECT q_id, c_id, rank AS exact_rank FROM (
        SELECT qs.q_id, corp.c_id,
               ROW_NUMBER() OVER (PARTITION BY qs.q_id ORDER BY {cos} DESC, corp.c_id)
                 AS rank
        FROM qs, corp
      ) WHERE rank <= {k}
    )
    SELECT a.q_id, a.c_id, a.sim, CAST(a.rank AS BIGINT) AS rank,
           CAST(e.exact_rank AS BIGINT) AS exact_rank
    FROM approx a LEFT JOIN exact e ON a.q_id = e.q_id AND a.c_id = e.c_id
    WHERE a.rank <= {k}
    """


@query("x2_topk_pq", _pqq_oracle_sql())
def x2_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 scale path #3: PQ/ADC over DISTRIBUTED fixed-point per-subspace
    codebooks — fully oracle-checked. Quantized integer Lloyd per subspace
    makes codebooks, codes, and ADC distances bit-reproducible in SQL
    (operators/similarity.py: pq_topk_quantized); the shortlist re-rank is
    the proven fold-exact double cosine. With x2_topk_ivf and
    x1_semantic_dedup_q, every approximate family (LSH, IVF, PQ, SemDeDup)
    has a fully hash-verified driver-visible member; the float-codebook
    production forms (x2_topk_pq_float / x2_topk_ivf_float) remain
    rows-only and are quality-gated by x2_recall_report.
    """
    from .operators.similarity import pq_topk_quantized

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    approx = pq_topk_quantized(
        queries, corpus, k=10, n_subspaces=8, n_codes=16, n_iter=3,
        shortlist=None,  # corpus-derived depth; oracle mirrors it
    ).withColumn("rank", F.col("rank").cast("long"))
    return _with_exact_rank(approx, queries, corpus)


def _bq_oracle_sql(
    k: int = 10, dim: int = 64, shortlist: int | None = None,
    word_bits: int = 32,
) -> str:
    """DuckDB twin of operators/similarity.bq_topk: identical sign-bit
    packing (CASE + BIGINT shift per coordinate — integer addition, exact),
    identical XOR/POPCNT Hamming ordering, then the proven fold-exact
    double-cosine re-rank + exact-rank join used by every X2 oracle.
    ``shortlist=None`` mirrors the corpus-derived depth (floor 1000 ≥ k,
    so the GREATEST(k, ·) guard is subsumed)."""
    sl = (
        _DERIVED_SHORTLIST_SQL if shortlist is None
        else str(max(k, shortlist))
    )
    n_words = (dim + word_bits - 1) // word_bits

    def word(w: int) -> str:
        return (
            f"list_sum(list_transform(range({word_bits}), j -> "
            f"CASE WHEN vd[{w * word_bits} + j + 1] >= 0 "
            f"THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END))"
        )

    words = ", ".join(word(w) for w in range(n_words))
    ham = " + ".join(
        f"bit_count(xor(q.w[{i + 1}], c.w[{i + 1}]))" for i in range(n_words)
    )
    cos = (
        "list_dot_product(qs.vd, corp.vd) / "
        "(sqrt(list_dot_product(qs.vd, qs.vd)) * sqrt(list_dot_product(corp.vd, corp.vd)))"
    )
    return f"""
    WITH qs AS (
      SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS vd
      FROM embeddings WHERE vec_id < 5
    ),
    corp AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS vd FROM embeddings),
    qw AS (SELECT q_id, [{words}] AS w FROM qs),
    cw AS (SELECT c_id, [{words}] AS w FROM corp),
    short AS (
      SELECT q_id, c_id FROM (
        SELECT q.q_id, c.c_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.q_id ORDER BY {ham}, c.c_id
               ) AS sr
        FROM qw q CROSS JOIN cw c
      ) WHERE sr <= {sl}
    ),
    approx AS (
      SELECT q_id, c_id, sim,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank
      FROM (
        SELECT short.q_id, short.c_id, {cos} AS sim
        FROM short JOIN qs ON short.q_id = qs.q_id JOIN corp ON short.c_id = corp.c_id
      )
    ),
    exact AS (
      SELECT q_id, c_id, rank AS exact_rank FROM (
        SELECT qs.q_id, corp.c_id,
               ROW_NUMBER() OVER (PARTITION BY qs.q_id ORDER BY {cos} DESC, corp.c_id)
                 AS rank
        FROM qs, corp
      ) WHERE rank <= {k}
    )
    SELECT a.q_id, a.c_id, a.sim, CAST(a.rank AS BIGINT) AS rank,
           CAST(e.exact_rank AS BIGINT) AS exact_rank
    FROM approx a LEFT JOIN exact e ON a.q_id = e.q_id AND a.c_id = e.c_id
    WHERE a.rank <= {k}
    """


@query("x2_topk_bq", _bq_oracle_sql())
def x2_topk_bq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 scale path #5: binary quantization — 1-bit sign codes (32x
    compression), XOR/POPCNT Hamming shortlist, fold-exact cosine re-rank
    (operators/similarity.py: bq_topk). The only index whose ENTIRE
    pipeline — encode, scan, rank — is native JVM whole-stage codegen
    (zero Python, zero training), and every stage is integer-exact, so the
    full search is hash-verified against the DuckDB twin. Completes the
    quantization family: LSH (random projection), IVF (coarse cells), PQ
    (subspace codebooks), IVF-PQ (residual ADC), BQ (sign codes).
    """
    from .operators.similarity import bq_topk

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    approx = bq_topk(queries, corpus, k=10, dim=64, shortlist=None).withColumn(
        "rank", F.col("rank").cast("long")
    )
    return _with_exact_rank(approx, queries, corpus)


def _ivfbq_oracle_sql(
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 4,
    n_iter: int = 3,
    dim: int = 64,
    shortlist: int | None = None,
    word_bits: int = 32,
    scale: int = 10**6,
) -> str:
    """DuckDB twin of ivfbq_topk: the shared fixed-point k-means prefix
    (_qkmeans_sql_prefix: corp/corpq/af/c{n_iter} CTEs), quantized-query
    cell probing, sign-bit word packing + XOR/POPCNT Hamming over the
    probed cells only, corpus-derived shortlist, fold-exact double-cosine
    re-rank + exact-rank join — every stage bit-identical."""
    sl = _DERIVED_SHORTLIST_SQL if shortlist is None else str(max(k, shortlist))
    n_words = (dim + word_bits - 1) // word_bits

    def word(w: int) -> str:
        return (
            f"list_sum(list_transform(range({word_bits}), j -> "
            f"CASE WHEN vd[{w * word_bits} + j + 1] >= 0 "
            f"THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END))"
        )

    words = ", ".join(word(w) for w in range(n_words))
    ham = " + ".join(
        f"bit_count(xor(q.w[{i + 1}], c.w[{i + 1}]))" for i in range(n_words)
    )
    q8 = f"list_transform(vd, x -> CAST(round(x * {float(scale)!r}) AS BIGINT))"
    sqdist = (
        f"list_sum(list_transform(range({dim}), j -> "
        "(q.qv[j + 1] - c.cvec[j + 1]) * (q.qv[j + 1] - c.cvec[j + 1])))"
    )
    cos = (
        "list_dot_product(qs.vd, corp.vd) / "
        "(sqrt(list_dot_product(qs.vd, qs.vd)) * sqrt(list_dot_product(corp.vd, corp.vd)))"
    )
    return f"""{_qkmeans_sql_prefix(n_centroids, n_iter, scale, dim)},
    qs AS (
      SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS vd
      FROM embeddings WHERE vec_id < 5
    ),
    qq AS (SELECT q_id, {q8} AS qv FROM qs),
    probes AS (
      SELECT q_id, cell FROM (
        SELECT q.q_id, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.q_id ORDER BY {sqdist}, c.cell
               ) AS rn
        FROM qq q CROSS JOIN c{n_iter} c
      ) WHERE rn <= {nprobe}
    ),
    qw AS (SELECT q_id, [{words}] AS w FROM qs),
    cw AS (SELECT c_id, [{words}] AS w FROM corp),
    cand AS (
      SELECT p.q_id, af.c_id FROM probes p JOIN af USING (cell)
    ),
    short AS (
      SELECT q_id, c_id FROM (
        SELECT cand.q_id, cand.c_id,
               ROW_NUMBER() OVER (
                 PARTITION BY cand.q_id ORDER BY {ham}, cand.c_id
               ) AS sr
        FROM cand JOIN qw q ON cand.q_id = q.q_id
                  JOIN cw c ON cand.c_id = c.c_id
      ) WHERE sr <= {sl}
    ),
    approx AS (
      SELECT q_id, c_id, sim,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank
      FROM (
        SELECT short.q_id, short.c_id, {cos} AS sim
        FROM short JOIN qs ON short.q_id = qs.q_id JOIN corp ON short.c_id = corp.c_id
      )
    ),
    exact AS (
      SELECT q_id, c_id, rank AS exact_rank FROM (
        SELECT qs.q_id, corp.c_id,
               ROW_NUMBER() OVER (PARTITION BY qs.q_id ORDER BY {cos} DESC, corp.c_id)
                 AS rank
        FROM qs, corp
      ) WHERE rank <= {k}
    )
    SELECT a.q_id, a.c_id, a.sim, CAST(a.rank AS BIGINT) AS rank,
           CAST(e.exact_rank AS BIGINT) AS exact_rank
    FROM approx a LEFT JOIN exact e ON a.q_id = e.q_id AND a.c_id = e.c_id
    WHERE a.rank <= {k}
    """


@query("x2_topk_ivfbq", _ivfbq_oracle_sql())
def x2_topk_ivfbq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 scale path #6: IVF + binary quantization — the two-index
    composition production binary-embedding systems run (coarse cells
    prune the scan to nprobe/n_centroids of the corpus; inside the
    probed cells the candidate filter is the 1-bit XOR/POPCNT Hamming
    code, 32x smaller than the vectors), with the corpus-derived
    shortlist and the fold-exact double-cosine re-rank. Every stage is
    integer-exact, so the composed pipeline is FULLY hash-verified —
    the family now spans single indexes (LSH/IVF/PQ/BQ), the residual
    composition (IVF-PQ), and the code-scan composition (IVF-BQ).
    ``exact_rank`` embeds the per-row quality gate as in the siblings.
    """
    from .operators.similarity import ivfbq_topk

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    approx = ivfbq_topk(
        queries, corpus, k=10, n_centroids=8, nprobe=4, dim=64, shortlist=None
    ).withColumn("rank", F.col("rank").cast("long"))
    return _with_exact_rank(approx, queries, corpus)


@query("x2_served_topk", _ivfbq_oracle_sql())
def x2_served_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 build-once/serve-many round-trip, gate-visible: build the
    IVF-BQ index, SAVE it to parquet, LOAD it back, and serve one query
    batch against the loaded artifacts — the deployment shape the
    one-shot x2_topk_ivfbq composes inline. Exact composition: serving
    a loaded index is bit-identical to the one-shot pipeline (pinned in
    tests/test_operators.py), so this reuses x2_topk_ivfbq's FULL
    DuckDB oracle, and a hash mismatch here isolates the persistence
    layer (save_ann_index/load_ann_index, including the round-7 meta
    artifact: stored corpus count for the derived shortlist + build-
    param validation) rather than the search math.

    Scale: the save is a plain partitioned parquet sink (the artifacts
    are the cell-tagged code table + n_centroids centroid rows + one
    meta row); the serve path reads nprobe/n_centroids of the code
    table per batch and never re-touches training.
    """
    import shutil

    from .operators.similarity import (
        build_ivfbq_index,
        load_ann_index,
        save_ann_index,
        search_ivfbq_index,
    )
    from .queries_catalog import _scratch_dir

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    path = _scratch_dir("served_ivfbq")
    shutil.rmtree(path, ignore_errors=True)
    save_ann_index(
        build_ivfbq_index(corpus, n_centroids=8, dim=64), path
    )
    served = load_ann_index(spark, path)
    approx = search_ivfbq_index(
        queries, corpus, served, k=10, nprobe=4, dim=64, shortlist=None
    ).withColumn("rank", F.col("rank").cast("long"))
    return _with_exact_rank(approx, queries, corpus)
