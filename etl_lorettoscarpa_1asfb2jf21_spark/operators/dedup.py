"""Deduplication operators for training-data pipelines (SURVEY.md §2 X1).

Five strategies, expressed as native DataFrame plans so they scale to
10^9+ documents:

* exact_dedup          - content-hash groupBy; keeps the lowest-id row
* minhash_lsh_dedup    - one-permutation minhash signature (int64-hashed
                         shingles) → banded buckets → bucket_pairs
                         enumeration → exact-Jaccard verify
* simhash_signature    - 64-bit SimHash over tokens (native bit math)
* ngram_jaccard_pairs  - exact pairwise Jaccard over character n-grams,
                         blocked to avoid the full cross product;
                         ngram_jaccard_clusters groups the same pairs into
                         duplicate clusters, per bounded block in one
                         grouped numpy pass (the one Python kernel here,
                         with emit_anchored_dedup's sequential walk)
* embedding_neardup_pairs - cosine > threshold pairs via random-hyperplane
                         bucketing (see operators.similarity for the ANN core)

Scale notes: every strategy is shuffle-bound on a hash key (doc id, band
bucket, block key) — no global sorts, no driver collects. MinHash bands and
SimHash chunks are classic pigeonhole LSH: candidate generation is linear in
corpus size, verification quadratic only within a bucket — and the minhash
path bounds even that: band buckets beyond DEFAULT_MAX_BUCKET members fall
back to linear star-topology candidates (see bucket_pairs), so boilerplate
mega-buckets cannot blow up enumeration or the verify stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long60
from ..functions.text import char_ngrams_expr, normalized_text_expr
from .partitioning import spread


def _gram_hash(g, portable: bool):
    """Per-gram hash: xxhash64 (fast, engine-specific) or the md5-derived
    60-bit portable hash (exactly mirrorable in the DuckDB oracle)."""
    return md5_long60(g) if portable else F.xxhash64(g)


def _hashed_ngrams_expr(text_col: str, n: int, distinct: bool = True):
    """Character n-grams as xxhash64 longs (distinct by default).

    Set-intersection cost is dominated by element comparisons; hashing each
    gram to int64 makes those long-vs-long instead of UTF8-string-vs-string
    (~5-10x per pair) while leaving set sizes — and hence Jaccard values —
    unchanged (64-bit collisions are negligible at any realistic corpus
    vocabulary). Pass ``distinct=False`` when the consumer is
    multiset-invariant (e.g. a min-aggregation) — skips a per-document
    hash-set pass.
    """
    grams = char_ngrams_expr(text_col, n)
    if distinct:
        grams = F.array_distinct(grams)
    return F.transform(grams, lambda g: F.xxhash64(g))


def _spread_normalized(df: DataFrame, text_col: str, keep: list, factor: int = 1):
    """``keep`` columns + pre-normalized text as ``_norm``, spread wide.

    The substring lambda in char_ngrams_expr re-evaluates whatever
    expression it slices once PER GRAM; normalizing (lower+trim+regex)
    inline there costs ~300 regex passes per document. Materializing the
    normalized text as its OWN projection makes the lambda slice a plain
    column instead — measured 2.7x on gram generation at sf0.1.
    CollapseProject leaves the projection alone (regexp_replace is not
    'cheap' and _norm has multiple consumers — verified in the physical
    plan: exactly one regexp_replace), so no exchange barrier is needed
    to protect it.

    The normalize sits ABOVE the spread() exchange (raw text shuffles,
    similar byte volume): a one-file test-scale scan would otherwise run
    the whole regex pass in a single task — measured as the ~6 s
    single-task floor under every sf0.1 gram query (round-12). At 100 TB
    the scan is already thousands of tasks and the placement is moot.
    """
    raw = spread(df.select(*[F.col(c) for c in keep], F.col(text_col)), factor=factor)
    return raw.select(
        *[F.col(c) for c in keep], normalized_text_expr(text_col).alias("_norm")
    )


def _hashed_ngrams_from_norm(n: int, distinct: bool = True, portable: bool = False):
    """_hashed_ngrams_expr over the pre-materialized ``_norm`` column."""
    grams = char_ngrams_expr("_norm", n, pre_normalized=True)
    if distinct:
        grams = F.array_distinct(grams)
    return F.transform(grams, lambda g: _gram_hash(g, portable))


# Default oversized-bucket guard for minhash_lsh_pairs: full pair
# enumeration is quadratic in bucket size, so a cap² = ~0.5M-pair ceiling
# per bucket bounds the candidate volume while leaving every sanely-sized
# LSH bucket on the exact path. Catalog oracles import this so the SQL
# twins can't drift from the engine rule.
DEFAULT_MAX_BUCKET = 1024


def bucket_pairs(
    buckets: DataFrame,
    id_col: str,
    bucket_cols: list[str],
    max_bucket: int | None = None,
    strategy: str = "collect",
    distinct_pairs: bool = True,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing any bucket.

    ``distinct_pairs=False`` skips the final cross-band ``.distinct()`` and
    returns RAW pair occurrences (one per shared bucket). Callers whose
    verify value is a deterministic function of the pair alone can verify
    the raw occurrences and dedup the (far smaller) threshold survivors
    instead: at the ~sf1 replica the 53M-row pre-verify distinct was 23 s
    of exchange+hash-agg to remove a 12% duplicate rate, versus ~1 s to
    dedup the 765k post-filter survivors — the verify does 12% more dots,
    the plan drops its widest shuffle.

    Two strategies with IDENTICAL output — the choice is a cost model:

    * ``collect`` (default): groupBy-collect + per-bucket pair
      enumeration — one pass over the (expensive) bucket input rather
      than two plan branches recomputing it, and one shuffle on the
      bucket key instead of a join + distinct. Right when the bucket
      input is costly to produce (minhash signatures) and buckets stay
      small by LSH design. Wrong when buckets are LARGE relative to
      their count: the enumeration materializes each bucket's full pair
      array in one interpreted higher-order expression on one row —
      measured 68.5 s for 47M candidates from 64 x ~1,250-member
      hyperplane-band buckets at the 10x replica.
    * ``selfjoin``: equi-join the bucket table against itself on the
      bucket key with ``id_a < id_b`` — Spark streams large join groups
      through the shuffle without per-group array materialization
      (measured 11.4 s vs 63.2 s on the same 47M-candidate workload, 5.5x), at the
      cost of computing the bucket input on both join branches. Right
      when the bucket input is cheap (a projection + sign bits) and
      buckets are big (2^bits possible buckets ≪ corpus rows). The
      ``max_bucket`` star rule is applied via a per-bucket stats join —
      the same bsz/cand shape the DuckDB oracle twins use.

    ``max_bucket`` guards the pathological mega-bucket (crawl boilerplate:
    thousands-to-millions of near-identical documents landing in ONE band
    bucket — the norm at 100 TB, not an edge case). Full enumeration of an
    m-sized bucket materializes an m²/2-element struct array in a single
    row before the explode — at m = 10⁶ that is an executor OOM plus
    5·10¹¹ downstream verify rows. With a cap, buckets of at most
    ``max_bucket`` members keep the exact enumeration and larger buckets
    fall back to a STAR topology: every member pairs with the bucket's
    minimum id only (m−1 pairs, linear). For a true duplicate set — which
    is what a mega-bucket is — the verified star edges produce connected
    components identical to full enumeration's; the approximation only
    loses x~y edges where neither x nor y resembles the bucket minimum,
    and such mixed buckets at mega size indicate too few bands, not a
    pair-enumeration problem. The CASE branches evaluate lazily per row,
    so small buckets never build the star array and oversized ones never
    build the quadratic one. Residual bound: the collect_set buffer and
    the star array are m-sized (8·m bytes of ids) — linear, spill-less;
    corpora where one band bucket exceeds ~10⁷ ids should exact-hash
    pre-collapse identical documents before LSH (exact_dedup upstream,
    as the curation funnel does).
    """
    if strategy == "selfjoin":
        l = buckets.select(*bucket_cols, F.col(id_col).alias("id_a"))
        r = buckets.select(*bucket_cols, F.col(id_col).alias("id_b"))
        out = l.join(r, bucket_cols).filter(F.col("id_a") < F.col("id_b"))
        if max_bucket is not None:
            stats = buckets.groupBy(*bucket_cols).agg(
                F.count(F.lit(1)).alias("_m"), F.min(id_col).alias("_mn")
            )
            out = out.join(stats, bucket_cols).filter(
                (F.col("_m") <= F.lit(int(max_bucket)))
                | (F.col("id_a") == F.col("_mn"))
            )
        out = out.select("id_a", "id_b")
        return out.distinct() if distinct_pairs else out
    if strategy != "collect":
        raise ValueError(f"unknown bucket_pairs strategy: {strategy!r}")
    grouped = (
        buckets.groupBy(*bucket_cols)
        .agg(F.sort_array(F.collect_set(F.col(id_col))).alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    all_pairs = F.expr(
        "flatten(transform(_ids, (x, i) -> "
        "transform(slice(_ids, i + 2, size(_ids) - i - 1), "
        "y -> struct(x AS id_a, y AS id_b))))"
    )
    if max_bucket is None:
        pairs = all_pairs
    else:
        star_pairs = F.expr(
            "transform(slice(_ids, 2, size(_ids) - 1), "
            "y -> struct(element_at(_ids, 1) AS id_a, y AS id_b))"
        )
        pairs = F.when(F.size("_ids") <= F.lit(int(max_bucket)), all_pairs).otherwise(
            star_pairs
        )
    exploded = grouped.select(F.explode(pairs).alias("p")).select(
        "p.id_a", "p.id_b"
    )
    return exploded.distinct() if distinct_pairs else exploded


# ---------------------------------------------------------------- exact

def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row (lowest id) per exact normalized-text fingerprint."""
    fp = F.md5(normalized_text_expr(text_col))
    with_fp = df.withColumn("_fp", fp)
    keeper = with_fp.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return (
        with_fp.join(keeper, on=["_fp", id_col], how="inner")
        .drop("_fp")
    )


# ---------------------------------------------------------------- minhash

def minhash_signature(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    shingle_size: int = 6,
    portable: bool = False,
) -> DataFrame:
    """(id, sig array<long>) — one-permutation minhash over char shingles.

    One-permutation hashing (Li, Owen, Zhang 2012): instead of k salted
    hash passes with k aggregation buffers per row, each shingle's single
    xxhash64 is routed to bin = pmod(h, k) and the signature element is the
    min within the bin. The wide aggregate becomes min over ONE buffer
    keyed by (id, bin) — ~k× less aggregation work per shingle row — plus a
    tiny per-doc pivot. Empty bins (short docs) get a per-bin sentinel:
    identical docs still collide on every band; two different short docs
    sharing only sentinel bins are weeded out by the exact-Jaccard verify.
    """
    shingles = _spread_normalized(df, text_col, keep=[id_col]).select(
        F.col(id_col),
        F.explode(
            _hashed_ngrams_from_norm(shingle_size, distinct=False, portable=portable)
        ).alias("_sh"),
    )
    bin_mins = shingles.groupBy(
        id_col, F.pmod(F.col("_sh"), F.lit(num_hashes)).alias("_bin")
    ).agg(F.min("_sh").alias("_h"))
    pivoted = bin_mins.groupBy(id_col).agg(
        F.map_from_entries(F.collect_list(F.struct("_bin", "_h"))).alias("_m")
    )
    sentinel = (1 << 62) - 1
    sig = F.array(
        *[
            F.coalesce(F.col("_m")[F.lit(i)], F.lit(sentinel - i))
            for i in range(num_hashes)
        ]
    )
    return pivoted.select(id_col, sig.alias("sig"))


def _lsh_band_buckets(
    sig: DataFrame, id_col: str, bands: int, rows_per_band: int, portable: bool
) -> DataFrame:
    """(_id, band, bucket) — one row per (doc, band): the banded-LSH index
    entries. Portable mode hashes the '-'-joined band slice with md5 so the
    bucket keys are engine-reproducible."""

    def band_bucket(b: int):
        elems = [F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
        if portable:
            return F.md5(F.concat_ws("-", *[e.cast("string") for e in elems]))
        return F.xxhash64(*elems)

    band_cols = [
        F.struct(F.lit(b).alias("band"), band_bucket(b).alias("bucket"))
        for b in range(bands)
    ]
    return sig.select(
        F.col(id_col).alias("_id"), F.explode(F.array(*band_cols)).alias("bb")
    ).select("_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    # 6-char shingles: long enough that unrelated same-language documents
    # rarely collide in a band (4-char background Jaccard ~0.2-0.35 floods
    # the verify stage with false candidates), short enough that moderate
    # edits keep true near-dups above threshold
    shingle_size: int = 6,
    jaccard_threshold: float = 0.7,
    portable: bool = False,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) with exact Jaccard verify.

    Pipeline: signature → split into ``bands`` bands → hash each band →
    explode (id, band_idx, band_hash) → collect ids per bucket → enumerate
    pairs (bucket_pairs: single signature pass, no self-join) → verify with
    exact shingle-set Jaccard.
    Returns columns: id_a, id_b, jaccard.

    ``max_bucket`` (default :data:`DEFAULT_MAX_BUCKET`) bounds per-bucket
    pair enumeration: band buckets larger than the cap — boilerplate-heavy
    crawl corpora produce them routinely — emit star-topology candidates
    (member ↔ bucket-min, m−1 pairs) instead of the quadratic m²/2 set;
    see :func:`bucket_pairs`. Verified star edges yield the same connected
    components for true duplicate sets, so cluster-resolving consumers are
    unaffected; pass ``None`` to restore unconditional full enumeration.

    ``portable=True`` swaps every engine-specific hash (xxhash64 shingles,
    xxhash64 band buckets) for md5-derived forms DuckDB reproduces exactly,
    making the WHOLE pipeline — candidate generation included — oracle-
    checkable. Buckets become md5 hex strings of the '-'-joined band slice;
    signature values are non-negative, so both engines render identical
    decimal strings into the bucket key.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signature(df, text_col, id_col, num_hashes, shingle_size, portable)
    buckets = _lsh_band_buckets(sig, id_col, bands, rows_per_band, portable)

    cand = bucket_pairs(buckets, "_id", ["band", "bucket"], max_bucket=max_bucket)

    shingles = _spread_normalized(df, text_col, keep=[id_col]).select(
        F.col(id_col).alias("_sid"),
        _hashed_ngrams_from_norm(shingle_size, portable=portable).alias("_shs"),
    )
    verified = (
        cand.join(shingles.withColumnRenamed("_sid", "id_a").withColumnRenamed("_shs", "_shs_a"), "id_a")
        .join(shingles.withColumnRenamed("_sid", "id_b").withColumnRenamed("_shs", "_shs_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("_shs_a", "_shs_b")).cast("double")
            / F.size(F.array_union("_shs_a", "_shs_b")).cast("double"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def minhash_lsh_dedup(
    df: DataFrame, text_col: str, id_col: str, **kwargs
) -> DataFrame:
    """Drop near-duplicates: for every verified pair, the higher id loses.

    (Connected-component clustering would drop transitive duplicates too;
    pair-loser removal is the standard single-pass approximation and is what
    large corpus pipelines ship.)
    """
    pairs = minhash_lsh_pairs(df, text_col, id_col, **kwargs)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


def incremental_neardup(
    index_df: DataFrame,
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 6,
    jaccard_threshold: float = 0.7,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs of a NEW batch against an EXISTING corpus index — the
    incremental-crawl shape: every ingest round checks arriving documents
    against everything already accepted, without re-pairing the corpus
    against itself.

    Asymmetric LSH probe: bucket both sides with the same banded minhash,
    equi-join new-side buckets against index-side buckets on (band,
    bucket), then exact-Jaccard-verify the candidates. Returns
    (new_id, index_id, jaccard) — callers drop or link the matched rows.

    Scale: the index bucket table is the persisted artifact (in production
    it's written once and appended per round — a parquet table partitioned
    by band); the probe is an equi join AGAINST it keyed on (band, bucket)
    — the new batch (≪ index) broadcasts, so a round's cost is one scan of
    the batch plus a bucket lookup, never O(index) pairing, and never a
    within-index or within-batch pair. Candidate volume is bounded by
    bucket collisions, exactly as in the self-dedup path.
    """
    rows_per_band = num_hashes // bands
    idx_sig = minhash_signature(
        index_df, text_col, id_col, num_hashes, shingle_size, portable
    )
    new_sig = minhash_signature(
        new_df, text_col, id_col, num_hashes, shingle_size, portable
    )
    idx_b = _lsh_band_buckets(idx_sig, id_col, bands, rows_per_band, portable)
    new_b = _lsh_band_buckets(new_sig, id_col, bands, rows_per_band, portable)
    cand = (
        idx_b.join(
            F.broadcast(
                new_b.select(
                    F.col("_id").alias("new_id"), "band", "bucket"
                )
            ),
            ["band", "bucket"],
        )
        .select(F.col("_id").alias("index_id"), "new_id")
        .distinct()
    )

    def shingle_sets(df: DataFrame, out_id: str, out_shs: str) -> DataFrame:
        return _spread_normalized(df, text_col, keep=[id_col]).select(
            F.col(id_col).alias(out_id),
            _hashed_ngrams_from_norm(shingle_size, portable=portable).alias(out_shs),
        )

    return (
        cand.join(F.broadcast(shingle_sets(new_df, "new_id", "_shs_n")), "new_id")
        .join(shingle_sets(index_df, "index_id", "_shs_i"), "index_id")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("_shs_n", "_shs_i")).cast("double")
            / F.size(F.array_union("_shs_n", "_shs_i")).cast("double"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("new_id", "index_id", "jaccard")
    )


# ---------------------------------------------------------------- simhash

def simhash_signature(
    df: DataFrame, text_col: str, id_col: str, portable: bool = False
) -> DataFrame:
    """(id, simhash long) — 64-bit SimHash over whitespace tokens.

    Per token: xxhash64 → 64 bits → ±1 contributions; per document: sign of
    the per-bit sum. All native bit arithmetic (shiftright/bitwise-and),
    one explode + one groupBy.

    ``portable=True`` uses the md5-derived 60-bit token hash instead of
    xxhash64 (fingerprint is then 60 bits, always non-negative), so the
    signature — bit votes and all — is reproducible in the DuckDB oracle.
    """
    nbits = 60 if portable else 64
    toks = spread(df).select(
        F.col(id_col),
        F.explode(F.split(normalized_text_expr(text_col), r"\s+")).alias("_t"),
    ).filter(F.length("_t") > 0)
    h = _gram_hash(F.col("_t"), portable)
    bit_cols = [
        F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1).alias(f"_b{i}")
        for i in range(nbits)
    ]
    per_tok = toks.select(id_col, *bit_cols)
    sums = per_tok.groupBy(id_col).agg(
        *[F.sum(f"_b{i}").alias(f"_s{i}") for i in range(nbits)]
    )
    fingerprint = None
    for i in range(nbits):
        bit = F.when(F.col(f"_s{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << i).cast("long") if i < 63 else F.when(
            F.col(f"_s{i}") > 0, F.lit(-(1 << 63)).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fingerprint = term if fingerprint is None else fingerprint + term
    return sums.select(F.col(id_col), fingerprint.alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Pairs with Hamming(simhash_a, simhash_b) <= max_hamming.

    Pigeonhole blocking: split 64 bits into 4 16-bit chunks; any pair within
    Hamming<=3 must agree exactly on >=1 chunk → join per chunk, then verify
    with bit_count(xor). Returns id_a, id_b, hamming.
    """
    sig = simhash_signature(df, text_col, id_col)
    chunk_cols = [
        F.struct(
            F.lit(k).alias("chunk"),
            F.shiftright(F.col("simhash"), 16 * k).bitwiseAND(F.lit(0xFFFF)).alias("ck"),
        )
        for k in range(4)
    ]
    # pack (id, simhash) as the pair identity: struct ordering sorts by id
    # first, so bucket_pairs keeps id_a < id_b semantics while the signature
    # rides along — no re-join against the (expensive) signature plan
    blocks = sig.select(
        F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("sh")).alias("_id"),
        F.explode(F.array(*chunk_cols)).alias("cc"),
    ).select("_id", F.col("cc.chunk").alias("chunk"), F.col("cc.ck").alias("ck"))
    cand = bucket_pairs(blocks, "_id", ["chunk", "ck"])
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("id_a.sh").bitwiseXOR(F.col("id_b.sh"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("id_a.id").alias("id_a"), F.col("id_b.id").alias("id_b"), "hamming"
        )
    )


# ---------------------------------------------------------------- n-gram jaccard

# Largest block the quadratic plans take: ngram_jaccard_pairs' all-pairs
# join and ngram_jaccard_clusters' grouped kernel both cost cap² pair
# tests per block. A larger block takes the prefix index instead.
AUTO_BLOCK_CAP = 1024


def _gram_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    n: int,
    checkpoint: bool = True,
) -> DataFrame:
    """(_id, _blk, _g, _sz): each document's distinct hashed character
    n-grams and their count, as a double."""
    g = _spread_normalized(df, text_col, keep=[id_col, block_col], factor=4).select(
        F.col(id_col).alias("_id"),
        F.col(block_col).alias("_blk"),
        _hashed_ngrams_from_norm(n).alias("_g"),
    )
    g = g.withColumn("_sz", F.size("_g").cast("double"))
    # The gram pipeline (normalize regex + n-gram + hash) feeds several
    # consumers (the block stats, both index sides, both verify sides); a
    # lazy localCheckpoint computes it once and truncates the lineage
    # instead of re-running the string pipeline per branch. The barrier
    # hides the spread() exchange from downstream formatted plans, so the
    # spread audit in tests/test_plans.py inspects a checkpoint=False build.
    if checkpoint:
        g = g.localCheckpoint(eager=False)
    return g


def _blocks_bounded(g: DataFrame, cap: int) -> bool:
    """The ``auto`` rule: one scalar aggregate reads the largest block of
    the gram table; True when it holds at most ``cap`` documents. The
    stats pass is a count-by-block, negligible next to either plan, and
    its job fills the gram table's lazy checkpoint."""
    row = g.groupBy("_blk").count().agg(F.max("count").alias("m")).collect()
    return (row[0]["m"] or 0) <= cap


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    n: int = 3,
    threshold: float = 0.5,
    strategy: str = "auto",
    auto_block_cap: int = AUTO_BLOCK_CAP,
    checkpoint: bool = True,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard within a blocking key (e.g. lang).

    Deterministic and oracle-checkable (unlike the hash-based strategies).
    Returns id_a, id_b, jaccard (pairs meeting the threshold). All
    strategies produce IDENTICAL output — they differ only in how
    candidate pairs are enumerated:

    * ``auto`` (default): the rule :func:`ngram_jaccard_clusters` shares
      (``_blocks_bounded``): one stats collect reads the largest block
      size; blocks bounded by ``auto_block_cap`` take the all-pairs plan
      (its quadratic term is capped at cap² per block and it is
      floor-cheaper: one self-join vs index+dedup+2 join-backs), larger
      blocks take the prefix index.

    * ``prefix`` (the scale path): prefix filtering (Bayardo et
      al. 2007, "Scaling Up All Pairs Similarity Search"). Under any fixed
      global token order, J(A,B) >= t implies |A∩B| >= ceil(t·|A|); if the
      smallest common gram were outside A's first |A| - ceil(t·|A|) + 1
      grams, ALL common grams would sit in A's tail of ceil(t·|A|) - 1 —
      contradiction. So every qualifying pair shares a gram inside both
      prefixes, and an inverted-index equi-join on prefix grams finds a
      candidate superset. Cost is index-join-shaped (∝ matching gram
      postings), NOT block-quadratic: measured on the 10x replica
      (tools/make_sfx.py), the all-pairs form went 6.9 s → 221 s
      (quadratic) while this form stays near-linear. The global order is
      document frequency ASCENDING (Bayardo's rare-first order) — see
      :func:`_prefix_pairs` for why hash order is a scale-killer at low
      thresholds (SF10_WITNESS.json).
    * ``allpairs``: block-equi-join enumerating every in-block id pair.
      Simpler plan (one self-join), fine when blocks are bounded (e.g.
      the block IS an LSH bucket), quadratic when they are not.

    Shared pruning: a size bound (J <= min/max sizes) filters candidates
    before any per-pair set work, and |A∪B| = |A|+|B|-|A∩B| makes the
    exact verify one intersection per pair.
    """
    g = _gram_table(df, text_col, id_col, block_col, n, checkpoint)
    if strategy == "auto":
        strategy = "allpairs" if _blocks_bounded(g, auto_block_cap) else "prefix"
    if strategy == "allpairs":
        return _allpairs(g, threshold)
    return _prefix_pairs(g, threshold)


def _allpairs(g: DataFrame, threshold: float) -> DataFrame:
    """Verified pairs from one in-block self-join of the gram table."""
    l, r = g.alias("l"), g.alias("r")
    size_bound = (F.col("l._sz") >= F.lit(threshold) * F.col("r._sz")) & (
        F.col("r._sz") >= F.lit(threshold) * F.col("l._sz")
    )
    inter = F.size(F.array_intersect(F.col("l._g"), F.col("r._g"))).cast("double")
    return (
        l.join(
            r,
            (F.col("l._blk") == F.col("r._blk"))
            & (F.col("l._id") < F.col("r._id"))
            & size_bound,
        )
        # try_divide: two gram-less texts (0/0) do not pair, ANSI on or off
        .withColumn(
            "jaccard", F.try_divide(inter, F.col("l._sz") + F.col("r._sz") - inter)
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.col("jaccard"),
        )
    )


def _prefix_pairs(g: DataFrame, threshold: float) -> DataFrame:
    """Verified pairs from the rare-first prefix index of the gram table."""

    def _verify(pairs_ab: DataFrame) -> DataFrame:
        a = g.select(
            F.col("_id").alias("id_a"),
            F.col("_g").alias("_ga"),
            F.col("_sz").alias("_sza"),
        )
        b = g.select(
            F.col("_id").alias("id_b"),
            F.col("_g").alias("_gb"),
            F.col("_sz").alias("_szb"),
        )
        inter = F.size(F.array_intersect(F.col("_ga"), F.col("_gb"))).cast("double")
        return (
            pairs_ab.join(a, "id_a")
            .join(b, "id_b")
            # |A∪B| = |A|+|B|-|A∩B| — one set pass per pair instead of two;
            # try_divide: two gram-less texts (0/0) do not pair, ANSI on or off
            .withColumn(
                "jaccard", F.try_divide(inter, F.col("_sza") + F.col("_szb") - inter)
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    # prefix filtering: explode each doc's prefix grams into an inverted
    # index, equi-join on (block, gram), dedup the candidate pair ids.
    # GLOBAL ORDER = document frequency ASCENDING (Bayardo's rare-first
    # order), not gram-hash: the prefix theorem holds under ANY fixed
    # order, but at a low threshold the prefix covers most of each doc
    # (80% at t=0.2), so under hash order every corpus-common gram
    # (stopword shingles, punctuation runs) lands in ~every prefix and
    # its posting list joins the whole block against itself — measured
    # as a block-quadratic candidate blow-up on the 500k-doc sf10
    # witness replica (pairs count DNF >4200 s; SF10_WITNESS.json).
    # Rare-first pushes exactly those grams to the list TAILS, where the
    # threshold excludes them from prefixes; the price is two linear
    # passes (per-gram df aggregate + per-doc re-sort) — linear shuffles
    # in place of a quadratic join. Output is IDENTICAL (verify is
    # exact), so oracles are untouched.
    prefix_len = (
        F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz")) + F.lit(1)
    ).cast("int")
    gram_df = (
        g.select(F.explode("_g").alias("_pg"))
        .groupBy("_pg")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    by_rarity = (
        g.select("_id", "_blk", "_sz", F.explode("_g").alias("_pg"))
        .join(gram_df, "_pg")
        .groupBy("_id", "_blk", "_sz")
        .agg(F.array_sort(F.collect_list(F.struct("_df", "_pg"))).alias("_ps"))
    )
    # the index carries each prefix gram's POSITION in the doc's rarity
    # order (1-based) for the positional filter below
    idx = by_rarity.select(
        "_id",
        "_blk",
        "_sz",
        F.posexplode(
            F.slice(
                F.transform("_ps", lambda s: s["_pg"]), F.lit(1), prefix_len
            )
        ).alias("_pp", "_pg"),
    ).withColumn("_pp", F.col("_pp") + 1)
    l, r = idx.alias("l"), idx.alias("r")
    size_bound = (F.col("l._sz") >= F.lit(threshold) * F.col("r._sz")) & (
        F.col("r._sz") >= F.lit(threshold) * F.col("l._sz")
    )
    # POSITIONAL filter (Xiao et al. 2008, PPJoin): J(A,B) >= t needs
    # |A∩B| >= ceil(t/(1+t)·(|A|+|B|)) = α, and a match on gram g at
    # rarity-positions (i, j) bounds the overlap by 1 + min(|A|-i,
    # |B|-j) (every other shared gram sits after g in BOTH orders at the
    # first shared gram). Exact: for a true pair, the occurrence at the
    # FIRST shared gram satisfies the bound, so keeping pairs with ANY
    # surviving occurrence is a superset — verify stays the gate. Why it
    # matters at 100x: prefix filtering alone is blind to WHERE in the
    # prefix the collision happens, so a corpus-scaling mid-rarity gram
    # (numbers, dates, boilerplate code) joins its whole posting list
    # even though the late position proves the pair can't reach t —
    # measured on the sf10 witness replica as 4.21B candidates for
    # ~608M true pairs (67x sf1's 62.5M for a 10x corpus) before this
    # filter. The α slack (1e-9) only ever RELAXES the bound, so float
    # rounding can drop junk less aggressively, never a true pair.
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("l._sz") + F.col("r._sz"))
        - F.lit(1e-9)
    )
    positional = (
        F.lit(1)
        + F.least(
            F.col("l._sz") - F.col("l._pp"), F.col("r._sz") - F.col("r._pp")
        )
    ) >= alpha
    cand = (
        l.join(
            r,
            (F.col("l._blk") == F.col("r._blk"))
            & (F.col("l._pg") == F.col("r._pg"))
            & (F.col("l._id") < F.col("r._id"))
            & size_bound
            & positional,
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )
    return _verify(cand)


def ngram_jaccard_clusters(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate groups: the connected components of
    :func:`ngram_jaccard_pairs`' pairs, canonical = min id. Returns
    (id_col, cluster_id, is_canonical), the shape of
    ``duplicate_clusters``; every input row appears once (ids are
    unique), singletons as their own cluster.

    The path follows the ``auto`` rule of ngram_jaccard_pairs, on the
    same gram table and with the same one stats collect:

    * bounded blocks (the largest block <= ``AUTO_BLOCK_CAP``): every
      pair lies within a block, so every component does too, and one
      ``groupBy(block).applyInPandas`` computes the whole result, with no
      pair self-join and no star rounds. Per block, the kernel builds a
      0/1 doc x gram incidence matrix over the grams two or more of the
      block's documents share (a gram of one document adds to no
      intersection), tiled on the gram axis, and takes every pairwise
      intersection as a float64 matmul: the counts are integers, so the
      result is exact in any summation order. It then applies the pair
      plans' size bound and ``inter / (sza + szb - inter) >= t`` in
      float64, the same operations in the same order, so the pair set is
      identical, and labels the block's components by a path-halving
      union-find whose roots are the minimum ids. Per group the state is
      a few cap x cap arrays (8 MB each as doubles) plus one gram tile.
    * larger blocks: the prefix pairs of ngram_jaccard_pairs, closed by
      ``connected_components_star``.

    A NULL block or NULL id never pairs (the pair plans' equi-join and
    ``<`` are NULL), and neither does a NULL text or one shorter than
    ``n``: its 0/0 Jaccard is NaN here and fails the test, as Spark's
    NULL does with ANSI off (with ANSI on, the pair plans raise
    DIVIDE_BY_ZERO on two such texts in one block). Such rows are
    singletons.
    """
    from pyspark.sql.types import BooleanType, StructField, StructType

    from .graph import duplicate_clusters

    g = _gram_table(df, text_col, id_col, block_col, n)
    if not _blocks_bounded(g, AUTO_BLOCK_CAP):
        return duplicate_clusters(df, _prefix_pairs(g, threshold), id_col)

    t = float(threshold)
    id_type = df.schema[id_col].dataType
    schema = StructType(
        [
            StructField(id_col, id_type),
            StructField("cluster_id", id_type),
            StructField("is_canonical", BooleanType()),
        ]
    )

    def intersections(grams, m: int):
        """(m, m) float64 counts of the grams each pair of docs shares."""
        import numpy as np

        tile = 2048  # gram columns per matmul: m x tile doubles, <= 16 MB

        lens = np.array([0 if x is None else len(x) for x in grams], dtype=np.int64)
        inter = np.zeros((m, m))
        if lens.sum() == 0:
            return inter
        gram = np.concatenate([x for x in grams if x is not None])
        doc = np.repeat(np.arange(m), lens)
        # distinct (gram, doc) cells, sorted by gram: array_intersect
        # counts distinct elements
        o = np.lexsort((doc, gram))
        gram, doc = gram[o], doc[o]
        new = np.ones(len(gram), dtype=bool)
        new[1:] = (gram[1:] != gram[:-1]) | (doc[1:] != doc[:-1])
        gram, doc = gram[new], doc[new]
        _, col, df_ = np.unique(gram, return_inverse=True, return_counts=True)
        shared = df_[col] > 1
        col, doc = col[shared], doc[shared]
        col = np.unique(col, return_inverse=True)[1]  # dense, still sorted
        n_cols = int(col[-1]) + 1 if len(col) else 0
        for c0 in range(0, n_cols, tile):
            lo, hi = np.searchsorted(col, [c0, c0 + tile])
            x = np.zeros((m, min(tile, n_cols - c0)))
            x[doc[lo:hi], col[lo:hi] - c0] = 1.0
            inter += x @ x.T
        return inter

    def cluster_block(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("_id", kind="mergesort")
        ids = pdf["_id"].to_numpy()
        m = len(ids)
        parent = list(range(m))
        if m > 1 and not pd.isna(pdf["_blk"].iat[0]):
            sz = pdf["_sz"].to_numpy(dtype=np.float64)
            inter = intersections(pdf["_g"].to_numpy(), m)
            sa, sb = sz[:, None], sz[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                jac = inter / (sa + sb - inter)
            keep = (
                (ids[:, None] < ids[None, :])
                & (sa >= t * sb)
                & (sb >= t * sa)
                & (jac >= t)
            )

            def find(x: int) -> int:
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in zip(*(v.tolist() for v in np.nonzero(keep))):
                ra, rb = find(a), find(b)
                if ra != rb:
                    # the smaller index wins, so each root is its
                    # component's minimum id
                    parent[max(ra, rb)] = min(ra, rb)
            for x in range(m):
                parent[x] = find(x)
        root = np.array(parent, dtype=np.int64)
        return pd.DataFrame(
            {
                id_col: ids,
                "cluster_id": ids[root],
                "is_canonical": root == np.arange(m),
            }
        )

    clusters = (
        g.filter(F.col("_id").isNotNull())
        .select("_id", "_blk", "_g", "_sz")
        .groupBy("_blk")
        .applyInPandas(cluster_block, schema)
    )
    # a NULL id keeps NULL labels, as duplicate_clusters gives it
    null_ids = g.filter(F.col("_id").isNull()).select(
        F.col("_id").alias(id_col),
        F.col("_id").alias("cluster_id"),
        (F.col("_id") == F.col("_id")).alias("is_canonical"),
    )
    return clusters.union(null_ids)


def emit_anchored_dedup(
    df: DataFrame,
    key_cols: list[str],
    ts_micros_col: str,
    order_cols: list[str],
    horizon_us: int,
    n_buckets: int | None = None,
) -> DataFrame:
    """EMIT-ANCHORED duplicate suppression: within each key, keep an
    event iff its timestamp is more than ``horizon_us`` after the last
    KEPT event — the exact ``dropDuplicatesWithinWatermark`` contract
    (horizon measured from the last emission, so a continuous retry
    chain re-emits once per horizon), as opposed to st4's sliding-gap
    form (horizon restarts at every arrival, chains suppressed
    indefinitely).

    The keep decision depends on the previous keep decision, so the scan
    is inherently sequential PER KEY — this is the legitimate
    ``applyInPandas`` case. Grouping is by a HASH BUCKET of the key, not
    the key itself: one Arrow invocation then walks MANY keys (sorted
    key-major, anchor reset at key boundaries), so the per-group Python
    overhead is paid ``n_buckets`` times instead of once per key —
    measured ~7x at sf0.1 (8.2 s → 1.2 s) where the (user, type) keyspace is ~10³ —
    while results are identical.

    ``n_buckets`` defaults to ``max(64, 4 × defaultParallelism)`` so the
    per-task pandas frame is bounded by the BUCKET, not the key:
    ~``n_rows / n_buckets`` rows per task, shrinking as the cluster
    grows. Pass it explicitly to pin task count. A pathological
    single-key firehose (one key ≫ a bucket) would need horizon
    bucketing + overlap stitching first — out of contract here.

    The walk itself is numpy-vectorized: when timestamps are
    nondecreasing in walk order (the normal case — callers lead
    ``order_cols`` with the timestamp), any row whose gap from its
    PREDECESSOR already exceeds the horizon is kept regardless of where
    the anchor sits (anchor ≤ predecessor ts), so those rows plus key
    starts split the bucket into residual chains and the Python
    recurrence runs one ``searchsorted`` jump per KEPT row instead of
    one branch per input row. Non-monotone inputs fall back to a per-row
    scan over precomputed boundary masks.

    Returns the KEPT rows (all input columns). Deterministic: keys are
    walked in (``order_cols``) order, which callers make unique (e.g.
    ts + event_id).
    """
    import numpy as np
    import pandas as pd

    cols = list(df.columns)
    if n_buckets is None:
        n_buckets = max(64, 4 * df.sparkSession.sparkContext.defaultParallelism)

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(key_cols + order_cols, kind="mergesort").reset_index(
            drop=True
        )
        n = len(pdf)
        if n == 0:
            return pdf.loc[[], cols]
        us = pdf[ts_micros_col].to_numpy(dtype=np.int64)
        # key-boundary mask, one vectorized compare per key column
        new_key = np.zeros(n, dtype=bool)
        new_key[0] = True
        for k in key_cols:
            kv = pdf[k].to_numpy()
            new_key[1:] |= kv[1:] != kv[:-1]
        gap = np.empty(n, dtype=np.int64)
        gap[0] = 0
        gap[1:] = us[1:] - us[:-1]
        keep = np.ones(n, dtype=bool)
        if n > 1 and not np.all(gap[~new_key] >= 0):
            # non-monotone ts in walk order: general per-row recurrence
            anchor = us[0]
            for i in range(1, n):
                if new_key[i] or us[i] - anchor > horizon_us:
                    anchor = us[i]
                else:
                    keep[i] = False
            return pdf.loc[keep, cols]
        # monotone fast path: certain keeps anchor residual chains
        certain = new_key | (gap > horizon_us)
        starts = np.flatnonzero(certain)
        ends = np.append(starts[1:], n)
        # python loop only over chains that actually have follower rows
        real = ends - starts > 1
        for s, e in zip(starts[real].tolist(), ends[real].tolist()):
            a = us[s]
            i = s + 1
            while i < e:
                # first chain row strictly beyond anchor + horizon
                j = i + int(np.searchsorted(us[i:e], a + horizon_us, side="right"))
                keep[i:j] = False
                if j >= e:
                    break
                a = us[j]
                i = j + 1
        return pdf.loc[keep, cols]

    bucket = F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(n_buckets))
    return (
        df.withColumn("_kb", bucket)
        .groupBy("_kb")
        .applyInPandas(walk, df.schema)
    )
