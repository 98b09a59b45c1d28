"""Curation & layout catalog, round 2 continuation: entity resolution
(blocked fuzzy matching of dirty records against a master table),
end-to-end duplicate-cluster RESOLUTION (pairs → components → one survivor
per group by an explicit keep-policy), SemDeDup-style semantic dedup over
embeddings, Z-order multi-dimensional layout clustering, CCNet-style LM
perplexity quality filtering, real PNG decode (closed-form oracle), and
incremental materialized-view maintenance (recompute oracle).

Same contract as queries_catalog: QUERIES[name] = (spark, sf_dir) -> DF,
ORACLE_SQL[name] = the DuckDB twin, column names aligned on both sides.

Cross-engine determinism notes:
  * er1 perturbs titles with pure string functions written identically in
    both dialects, and resolves match ambiguity with an integer
    (dist, id)-packed arg-min — no floats anywhere;
  * x1_dedup_resolve's survivor pick is arg_max over an integer-packed
    (n_chars, -doc_id) key — exact in both engines;
  * opt2's z-values are integer bit-interleaves (div/mod arithmetic only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.text import normalized_text_expr
from .operators.dedup import ngram_jaccard_clusters
from .operators.partitioning import spread
from .sources.tables import load_table

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
# ER1 — entity resolution: blocked fuzzy join (dirty → master)
# =====================================================================

@query(
    "er1_blocked_fuzzy_join",
    f"""
    WITH m AS (
      SELECT doc_id, substr(t, 1, 40) AS t
      FROM (SELECT doc_id, {_NORM_SQL.format(c='text')} AS t FROM documents)
      WHERE length(t) >= 40
    ),
    dirty AS (
      SELECT doc_id AS dirty_id,
             concat(substr(t, 1, 4 + (doc_id % 30)), 'x',
                    substr(t, 6 + (doc_id % 30))) AS td
      FROM m WHERE doc_id % 3 = 0
    ),
    candh AS (
      SELECT d.dirty_id, d.td, m.doc_id AS master_id, m.t
      FROM dirty d JOIN m ON substr(d.td, 1, 20) = substr(m.t, 1, 20)
      UNION
      SELECT d.dirty_id, d.td, m.doc_id AS master_id, m.t
      FROM dirty d JOIN m ON substr(d.td, 21, 20) = substr(m.t, 21, 20)
    ),
    cand AS (
      SELECT dirty_id, master_id, levenshtein(td, t) AS dist
      FROM candh WHERE levenshtein(td, t) <= 1
    )
    SELECT dirty_id,
           arg_min(master_id, dist * 1000000 + master_id) AS matched_id,
           CAST(min(dist) AS BIGINT) AS best_dist,
           COUNT(*) AS n_candidates
    FROM cand GROUP BY dirty_id
    """,
)
def er1_blocked_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ER1: entity resolution via a BLOCKED fuzzy join — the record-linkage
    pattern (Fellegi-Sunter style blocking + edit-distance comparison) that
    matches dirty incoming records to a master table without the O(n·m)
    cross product.

    The dirty side is constructed IN-QUERY (the synthetic corpus has no
    noisy twin): every third document's 40-char normalized title gets one
    deterministic character substitution at position 5+(doc_id%30). Both
    engines build the identical perturbation, so the whole pipeline —
    blocking, bounded edit distance, best-match arg-min resolution — is
    exactly oracle-checked. Ambiguous matches (duplicated titles) resolve
    by (distance, master_id) integer-packed arg-min.

    Blocking is the two-half pigeonhole, and it is COMPLETE, not
    heuristic: titles are exactly 40 chars on both sides, so edit distance
    <= 1 forces equal length, i.e. at most one SUBSTITUTED position —
    which cannot touch both halves, so every true match agrees on chars
    1-20 or on chars 21-40. Two equi-joins (one per half) + union find
    every candidate. Half-keys are 20 chars → blocks are
    identical-half-title groups, orders of magnitude smaller than the
    previous 4-char-prefix blocks: on the 10x replica this query went
    354 s (4-char blocks, unbounded DP) → near-linear, since surviving
    candidates are almost all true matches. The per-pair compare is the
    BANDED levenshtein (bound 1): O(k·len) instead of O(len²).

    Scale: two hash joins + a distinct — no block-quadratic term; the
    residual hazard is duplicated titles (identical halves), which is
    true-match mass the OUTPUT itself carries, not false-candidate work.
    """
    d = load_table(spark, sf_dir, "documents")
    norm = d.select("doc_id", normalized_text_expr("text").alias("t"))
    m = norm.filter(F.length("t") >= 40).select(
        "doc_id", F.expr("substring(t, 1, 40)").alias("t")
    )
    dirty = (
        m.filter(F.col("doc_id") % 3 == 0)
        .select(
            F.col("doc_id").alias("dirty_id"),
            F.expr(
                "concat(substring(t, 1, 4 + cast(doc_id % 30 as int)), 'x', "
                "substring(t, 6 + cast(doc_id % 30 as int)))"
            ).alias("td"),
        )
    )
    h1 = dirty.join(
        m, F.expr("substring(td, 1, 20)") == F.expr("substring(t, 1, 20)")
    )
    h2 = dirty.join(
        m, F.expr("substring(td, 21, 20)") == F.expr("substring(t, 21, 20)")
    )
    cand = (
        h1.unionByName(h2)
        .distinct()
        .withColumn("dist", F.levenshtein("td", "t", 1))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= 1))
    )
    return cand.groupBy("dirty_id").agg(
        F.min_by(
            "doc_id", F.col("dist").cast("long") * 1000000 + F.col("doc_id")
        ).alias("matched_id"),
        F.min("dist").cast("long").alias("best_dist"),
        F.count(F.lit(1)).alias("n_candidates"),
    )


# =====================================================================
# X1 — duplicate-cluster RESOLUTION (pairs → groups → one survivor)
# =====================================================================

# Near-dup pair set of x1_ngram_jaccard, restricted to 4 of the 20 sources:
# full semantics at 1/5 of the docs — the recursive-CTE oracle's transitive
# closure is quadratic-ish in DuckDB, and x1_dup_clusters already pays the
# full-corpus price; this query verifies the RESOLUTION policy, not the
# pair generation, so the restriction keeps the paired bench honest
# without weakening the check.
_SRCS = "('src0', 'src1', 'src2', 'src3')"

_RESOLVE_SQL = f"""
    WITH RECURSIVE docs AS (
      SELECT doc_id, text, source, n_chars FROM documents
      WHERE source IN {_SRCS}
    ),
    g AS (
      SELECT doc_id, source,
             list_distinct([substr(t, i, 3) FOR i IN range(1, len(t) - 1)]) AS gr
      FROM (SELECT doc_id, source, {_NORM_SQL.format(c='text')} AS t FROM docs)
      WHERE len(t) >= 3
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE)
               / len(list_distinct(list_concat(a.gr, b.gr))) >= 0.2
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL
      SELECT id_b AS a, id_a AS b FROM pairs
    ),
    reach(id, root) AS (
      SELECT doc_id, doc_id FROM docs
      UNION
      SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.id
    ),
    comp AS (
      SELECT id AS doc_id, min(root) AS cluster_id FROM reach GROUP BY id
    )
    SELECT c.cluster_id,
           COUNT(*) AS n_members,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
           arg_max(d.doc_id, d.n_chars * 1000000 - d.doc_id) AS survivor_id,
           CAST(MAX(d.n_chars) AS BIGINT) AS survivor_chars
    FROM comp c JOIN docs d USING (doc_id)
    GROUP BY c.cluster_id
"""


@query("x1_dedup_resolve", _RESOLVE_SQL)
def x1_dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 resolution: the step AFTER clustering — pick one survivor per
    duplicate group by an explicit keep-policy (keep the LONGEST document,
    ties to the lowest doc_id; the policy corpus dedup pipelines actually
    use, vs. x1_dup_clusters' positional min-id canonical). Output is the
    per-cluster manifest: survivor + member/char counts — what a curation
    job writes back as its dedup report.

    Survivor pick is one integer-packed ``max_by`` inside the same
    aggregation that counts members — no second shuffle, no window sort.
    The clusters come from ``ngram_jaccard_clusters``, the operator
    x1_dup_clusters and tp18 share: one grouped exact kernel per source
    block. The DuckDB oracle replays the identical pipeline (grams →
    Jaccard pairs → recursive-CTE components → arg_max).
    """
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1", "src2", "src3")
    )
    clusters = ngram_jaccard_clusters(d, "text", "doc_id", "source", n=3, threshold=0.2)
    return (
        clusters.join(d.select("doc_id", "n_chars"), "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.max_by(
                "doc_id", F.col("n_chars") * F.lit(1000000) - F.col("doc_id")
            ).alias("survivor_id"),
            F.max("n_chars").cast("long").alias("survivor_chars"),
        )
    )


# =====================================================================
# OPT2 — Z-order (Morton) multi-dimensional layout clustering
# =====================================================================

_ZBITS = 10


def _z_interleave_sql(x: str, y: str, intdiv: str) -> str:
    """Bit-interleave two {_ZBITS}-bit ints with div/mod arithmetic only —
    the same text works in any dialect given its integer-division operator
    (`div` for Spark SQL, `//` for DuckDB)."""
    terms = []
    for i in range(_ZBITS):
        terms.append(f"((({x}) {intdiv} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((({y}) {intdiv} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


_Z_SPARK = _z_interleave_sql("xk", "yd", "div")
_Z_DUCK = _z_interleave_sql("xk", "yd", "//")


@query(
    "opt2_zorder_cluster",
    f"""
    WITH o AS (
      SELECT o_orderkey,
             o_custkey % 1024 AS xk,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 1024 AS yd
      FROM orders
    )
    SELECT o_orderkey, CAST(xk AS BIGINT) AS xk, CAST(yd AS BIGINT) AS yd,
           CAST({_Z_DUCK} AS BIGINT) AS zval,
           CAST({_Z_DUCK} // 16384 AS BIGINT) AS zcell
    FROM o
    """,
)
def opt2_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPT2: Z-order (Morton) clustering key over (customer, order-day) —
    the multi-dimensional data-layout primitive behind Delta/Iceberg
    OPTIMIZE ZORDER. Sorting/range-partitioning by ``zval`` co-locates rows
    that are close in BOTH dimensions, so min/max file statistics prune
    scans for predicates on EITHER column — a single-column sort can only
    serve one.

    The z-value is a pure integer bit-interleave (div/mod arithmetic, no
    UDF, codegen-resident); ``zcell`` is the coarse cell (top bits) a
    layout job would range-partition on. The layout effect itself —
    per-file min/max tightness after repartitionByRange(zval) — is
    asserted in tests/test_extras.py; this query oracle-checks the key
    computation exactly.

    Scale: computing z is map-only; clustering by it is ONE range
    repartition (sampled boundaries) — the same shuffle a plain sort
    costs, amortized over every subsequent pruned scan of the table.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 1024).cast("long").alias("xk"),
        (
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
            % 1024
        ).cast("long").alias("yd"),
    )
    return o.select(
        "o_orderkey",
        "xk",
        "yd",
        F.expr(_Z_SPARK).cast("long").alias("zval"),
        F.expr(f"{_Z_SPARK} div 16384").cast("long").alias("zcell"),
    )


# =====================================================================
# X1 — SemDeDup: semantic (embedding-space) deduplication
# =====================================================================

@query("x1_semantic_dedup")  # k-means cells are float-sign-dependent — rows-only
def x1_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 semantic dedup (SemDeDup, Abbas et al. 2023): k-means-cluster the
    embedding space, prune high-cosine near-duplicates WITHIN each cell —
    the curation step that removes *semantic* (not just lexical) redundancy
    before LLM training. Threshold 0.3 for the same reason as
    x1_embedding_neardup: the synthetic vectors are i.i.d., so a
    production 0.95 bar would never fire.

    No SQL twin CAN exist (cell assignment hinges on float k-means
    centroids), so the quality gate rides in the output:
    ``sample_dom_recall`` = of the sample vectors (vec_id<200) that are
    ground-truth dominated (some lower-id sample vector has cosine >=
    threshold, no cell restriction), the fraction the cell-confined pass
    also pruned — the paper's cross-cluster-miss rate, measured
    continuously; ``n_sample_dominated`` sizes that ground truth.
    Precision is 1.0 by construction (every prune is exact-cosine
    verified within its cell).

    n_centroids is DERIVED from the corpus (max(16, ceil(sqrt(n))), same
    rule as the oracle-checked x1_semantic_dedup_q) — a pinned count makes
    the within-cell prune quadratic in the corpus (SCALING.md measured
    142× over 10× data with the old pinned-16 config).
    """
    from .functions.vectors import cosine_similarity_expr
    from .operators.similarity import semantic_dedup
    from .queries_catalog_ext import _semdedup_n_centroids

    e = load_table(spark, sf_dir, "embeddings")
    nc = _semdedup_n_centroids(e.count())
    res = semantic_dedup(
        e, "vec_id", "embedding", threshold=0.3, n_centroids=nc
    ).localCheckpoint(eager=False)  # reused by output AND recall branch

    s = e.filter(F.col("vec_id") < 200)
    a = s.select(F.col("vec_id").alias("_ia"), F.col("embedding").alias("_va"))
    b = s.select(F.col("vec_id").alias("_ib"), F.col("embedding").alias("_vb"))
    exact_dom = (
        a.join(b, F.col("_ia") < F.col("_ib"))
        .withColumn("_sim", cosine_similarity_expr("_va", "_vb"))
        .filter(F.col("_sim") >= 0.3)
        .select("_ib")
        .distinct()
    )
    pruned_sample = res.filter((F.col("vec_id") < 200) & ~F.col("is_kept"))
    found = exact_dom.join(
        pruned_sample, exact_dom["_ib"] == pruned_sample["vec_id"], "left_semi"
    )
    quality = (
        exact_dom.agg(F.count(F.lit(1)).alias("n_sample_dominated"))
        .crossJoin(found.agg(F.count(F.lit(1)).alias("_n_found")))
        .select(
            "n_sample_dominated",
            F.when(
                F.col("n_sample_dominated") > 0,
                F.col("_n_found").cast("double") / F.col("n_sample_dominated"),
            )
            .otherwise(F.lit(1.0))
            .alias("sample_dom_recall"),
        )
    )
    return res.crossJoin(F.broadcast(quality))


# =====================================================================
# X3 — language-model perplexity quality filter (CCNet-style)
# =====================================================================

@query(
    "x3_perplexity",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(t, ' ')) AS token
      FROM (SELECT doc_id, {_NORM_SQL.format(c='text')} AS t FROM documents)
      WHERE len(t) > 0
    ),
    vocab AS (
      SELECT token, COUNT(*) AS tf FROM tok GROUP BY 1
    ),
    total AS (SELECT COUNT(*) AS t_total FROM tok),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_tokens, SUM(ln(tf)) AS s_lntf
      FROM tok JOIN vocab USING (token) GROUP BY 1
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(ln(t_total) - s_lntf / n_tokens, 4) AS cross_entropy,
           ROUND(exp(ln(t_total) - s_lntf / n_tokens), 3) AS ppl,
           (ROUND(ln(t_total) - s_lntf / n_tokens, 4) <= 7.0) AS is_kept
    FROM per_doc, total
    """,
)
def x3_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: unigram language-model perplexity scoring + keep gate — the
    CCNet quality filter (Wenzek et al. 2020; KenLM stand-in = the
    corpus's own unigram MLE). Per document: cross-entropy
    H = ln(T) − mean(ln tf(token)), perplexity = e^H; documents whose
    tokens are corpus-common score low (kept), rare-token noise scores
    high (dropped at the fixed H <= 7 bar).

    Scale: identical shape to x3_unigram_rarity — one Zipf-bounded vocab
    aggregation BROADCAST back over the token stream (the token stream is
    never shuffled for the join), one per-doc combine; the global token
    total is a 1-row broadcast. Double-precision ln-sums are
    order-sensitive at the 1e-13 level, so outputs are ROUND()ed (4dp on
    H, 3dp on ppl) per the catalog's dtype policy; the keep gate compares
    the ROUNDED H so both engines gate identically.
    """
    from .functions.text import normalized_text_expr as _norm

    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", _norm("text").alias("_t"))
        .filter(F.length("_t") > 0)
        .select("doc_id", F.explode(F.split("_t", " ")).alias("token"))
    )
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    total = tok.agg(F.count(F.lit(1)).alias("t_total"))
    per_doc = (
        tok.join(F.broadcast(vocab), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.log("tf")).alias("s_lntf"),
        )
    )
    h = F.log("t_total") - F.col("s_lntf") / F.col("n_tokens")
    return per_doc.crossJoin(F.broadcast(total)).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(h, 4).alias("cross_entropy"),
        F.round(F.exp(h), 3).alias("ppl"),
        (F.round(h, 4) <= 7.0).alias("is_kept"),
    )


@query(
    "x3_bigram_perplexity",
    f"""
    WITH norm AS (
      SELECT doc_id, {_NORM_SQL.format(c='text')} AS t FROM documents
    ), tok AS (
      SELECT doc_id, unnest(string_split(t, ' ')) AS w,
             unnest(range(1, len(string_split(t, ' ')) + 1)) AS pos
      FROM norm WHERE len(t) > 0
    ), uni AS (
      SELECT w, COUNT(*) AS c FROM tok GROUP BY 1
    ), total AS (SELECT COUNT(*) AS n FROM tok),
    big AS (
      SELECT a.doc_id, a.w AS v, b.w AS wn
      FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ), bc AS (
      SELECT v, wn, COUNT(*) AS cvw FROM big GROUP BY 1, 2
    ), scored AS (
      SELECT g.doc_id,
             ln(0.9 * bc.cvw / uv.c + 0.1 * uw.c / total.n) AS lnp
      FROM big g
      JOIN bc ON g.v = bc.v AND g.wn = bc.wn
      JOIN uni uv ON g.v = uv.w
      JOIN uni uw ON g.wn = uw.w
      CROSS JOIN total
    ), per_doc AS (
      SELECT doc_id, COUNT(*) AS n_bigrams, SUM(lnp) AS s
      FROM scored GROUP BY 1
    )
    SELECT doc_id,
           CAST(n_bigrams AS BIGINT) AS n_bigrams,
           ROUND(-s / n_bigrams, 4) AS cross_entropy,
           ROUND(exp(-s / n_bigrams), 3) AS ppl,
           (ROUND(-s / n_bigrams, 4) <= 8.0) AS is_kept
    FROM per_doc
    """,
)
def x3_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: BIGRAM-interpolated LM perplexity — one order closer to the
    5-gram KenLM CCNet actually runs than x3_perplexity's unigram MLE.
    Per adjacent token pair the probability is the Jelinek-Mercer
    interpolation p(w|v) = 0.9·c(vw)/c(v) + 0.1·c(w)/N (trained on the
    corpus itself, so every doc bigram has c(vw) >= 1 — no zero-prob
    backoff case); per doc H = -mean(ln p), ppl = e^H, keep gate at the
    fixed H <= 8 bar. Repetitive/templated docs (high c(vw)/c(v)) score
    low; incoherent token soup scores high even when its unigrams are
    common — the failure mode the unigram filter cannot see.

    Scale: the bigram stream is the map-only zip of each doc's shifted
    token arrays (no positional self-join on the Spark side — the
    oracle's join is the SQL mirror only); unigram counts broadcast
    (Zipf-bounded). The bigram count table grows with corpus CONTENT
    (faster than the vocabulary), so its join is left unhinted: AQE
    broadcasts it only while its measured size stays under the
    threshold and falls back to a plain (v, w)-keyed hash join beyond
    — no 8 GB broadcast cliff at scale, one shuffle of the bigram
    stream when big. Arithmetic order is pinned left-associative on both engines;
    ln-sums are order-sensitive at the 1e-13 level, so outputs are
    ROUND()ed (4dp H, 3dp ppl) and the keep gate compares the ROUNDED H,
    per the catalog dtype policy.
    """
    from .functions.text import normalized_text_expr as _norm
    from .operators.partitioning import spread

    d = load_table(spark, sf_dir, "documents")
    # spread the raw text first: the checkpoint below would otherwise
    # inherit the one-file test-scale scan's single partition and run the
    # whole normalize+split in one task (round-12 span-family fix)
    base = spread(d.select("doc_id", "text")).select(
        "doc_id", _norm("text").alias("_t")
    ).filter(F.length("_t") > 0)
    # the normalize+split pipeline feeds four consumers (unigram counts,
    # total, bigram stream, and the scored join's probe side); a lazy
    # localCheckpoint computes it once instead of re-running the regex
    # pipeline per branch (same pattern as ngram_jaccard's gram barrier)
    toks = base.select(
        "doc_id", F.split("_t", " ").alias("_toks")
    ).localCheckpoint(eager=False)
    tok = toks.select("doc_id", F.explode("_toks").alias("w"))
    uni = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = tok.agg(F.count(F.lit(1)).alias("n"))
    # shifted-slice zip, not transform(sequence(...)): sequence(1, 0)
    # DESCENDS to [1, 0] for single-token docs, minting two spurious
    # (token, NULL)/(NULL, token) bigrams that only vanish because
    # non-ANSI out-of-range indexing yields NULL and NULL keys drop in
    # the inner joins — zip_with of the two shifts is empty-safe (and
    # ANSI-safe) by construction
    n1 = F.greatest(F.size("_toks") - 1, F.lit(0))
    big = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("_toks", 1, n1),
                F.slice("_toks", 2, n1),
                lambda a, b: F.struct(a.alias("v"), b.alias("wn")),
            )
        ).alias("_b"),
    ).select("doc_id", F.col("_b.v").alias("v"), F.col("_b.wn").alias("wn"))
    bc = big.groupBy("v", "wn").agg(F.count(F.lit(1)).alias("cvw"))
    uv = uni.select(F.col("w").alias("v"), F.col("c").alias("cv"))
    uw = uni.select(F.col("w").alias("wn"), F.col("c").alias("cw"))
    lnp = F.log(
        F.lit(0.9) * F.col("cvw") / F.col("cv")
        + F.lit(0.1) * F.col("cw") / F.col("n")
    )
    # bc is UNHINTED (content-sized — see docstring); uv/uw/total stay
    # broadcast hints (vocabulary-bounded / scalar)
    scored = (
        big.join(bc, ["v", "wn"])
        .join(F.broadcast(uv), "v")
        .join(F.broadcast(uw), "wn")
        .crossJoin(F.broadcast(total))
        .select("doc_id", lnp.alias("lnp"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"), F.sum("lnp").alias("s")
    )
    h = -F.col("s") / F.col("n_bigrams")
    return per_doc.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.round(h, 4).alias("cross_entropy"),
        F.round(F.exp(h), 3).alias("ppl"),
        (F.round(h, 4) <= 8.0).alias("is_kept"),
    )


# =====================================================================
# X4 — real PNG decode (zlib inflate + filter reconstruction)
# =====================================================================

@query(
    "x4_png_decode",
    """
    WITH dims AS (
      SELECT doc_id, CAST(2 + doc_id % 7 AS BIGINT) AS width,
             CAST(2 + doc_id % 4 AS BIGINT) AS height
      FROM documents
    ), px AS (
      SELECT doc_id, width, height, unnest(range(0, width * height)) AS p
      FROM dims
    )
    SELECT doc_id, width, height, CAST(3 AS BIGINT) AS n_channels,
           CAST(SUM((doc_id * 11 + p * 3 + 0) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((doc_id * 11 + p * 3 + 1) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((doc_id * 11 + p * 3 + 2) % 256) AS BIGINT) AS sum_b
    FROM px
    GROUP BY doc_id, width, height
    """,
)
def x4_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 real COMPRESSED-image decode: synthesize a valid 8-bit RGB PNG
    per document (per-row filter type rotates None/Sub/Up), parse it back
    with the dependency-free real decoder (chunk CRC walk, zlib inflate,
    full five-filter reconstruction — multimodal/codecs.py), and emit
    exact decoded channel sums. The DuckDB twin recomputes the expected
    statistics in closed form from the pixel formula without ever seeing
    the bytes: any framing/CRC/inflate/unfilter bug breaks the hash.
    Same Arrow mapInPandas shape as x4_bmp_decode — at scale the
    generator stage is replaced by payload bytes read from the table."""
    import pandas as pd

    from .multimodal.codecs import decode_png, make_png

    # spread(): the doc_id spine is a ~1-file scan, but the decode below
    # is CPU-bound Python — widen to cluster parallelism (no-op when
    # the scan is already wide; see operators/partitioning.py)
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id"))

    def gen_decode(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                w, h, c, img = decode_png(make_png(int(i)))
                s = img.reshape(-1, 3).astype("int64").sum(axis=0)
                rows.append(
                    {
                        "doc_id": int(i), "width": w, "height": h,
                        "n_channels": c, "sum_r": int(s[0]),
                        "sum_g": int(s[1]), "sum_b": int(s[2]),
                    }
                )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        gen_decode,
        "doc_id long, width long, height long, n_channels long, "
        "sum_r long, sum_g long, sum_b long",
    )


# The per-column cosine weights of a dequantized unit AC(0,1) coefficient,
# embedded as repr() literals so DuckDB parses the exact doubles the
# decoder's IDCT produces (plan-time-constant trick; the nearest rounding
# tie is 0.0377 away — pinned by tests/test_multimodal.py — so the two
# engines' ROUND calls cannot disagree). Shared by the grayscale and
# 4:2:0 JPEG oracles.
def _jpeg_basis_sql() -> str:
    from .multimodal.codecs import jpeg_ac_basis

    return ", ".join(repr(v) for v in jpeg_ac_basis())


_JPEG_BASIS = _jpeg_basis_sql()


# =====================================================================
# X4 — real 4:2:0 color JPEG decode (MCU interleave + chroma upsample)
# =====================================================================

@query(
    "x4_jpeg420_decode",
    f"""
    WITH dims AS (
      SELECT doc_id, CAST(1 + doc_id % 3 AS BIGINT) AS mw,
             CAST(1 + doc_id % 2 AS BIGINT) AS mh
      FROM documents
    ), blk AS (
      SELECT doc_id, mw, mh, unnest(range(0, 4 * mw * mh)) AS b
      FROM dims
    ), px AS (
      SELECT doc_id, mw, mh, b,
             28 + (doc_id * 13 + b * 29) % 201 AS g,
             (doc_id * 7 + b * 11) % 15 - 7 AS a,
             ((b // (2 * mw)) // 2) * mw + ((b % (2 * mw)) // 2) AS m,
             unnest(range(0, 8)) AS x
      FROM blk
    ), vals AS (
      SELECT doc_id, mw, mh,
             CAST(ROUND(g + a * list_extract(
               LIST_VALUE({_JPEG_BASIS}), x + 1)) AS BIGINT) AS yv,
             (64 + (doc_id * 17 + m * 37) % 128) - 128 AS kb,
             (64 + (doc_id * 23 + m * 41) % 128) - 128 AS kr
      FROM px
    )
    SELECT doc_id, CAST(16 * mw AS BIGINT) AS width,
           CAST(16 * mh AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS n_channels,
           CAST(8 * SUM(LEAST(255, GREATEST(0,
             yv + ((91881 * kr + 32768) >> 16)))) AS BIGINT) AS sum_r,
           CAST(8 * SUM(LEAST(255, GREATEST(0,
             yv + ((-22554 * kb - 46802 * kr + 32768) >> 16)))) AS BIGINT) AS sum_g,
           CAST(8 * SUM(LEAST(255, GREATEST(0,
             yv + ((116130 * kb + 32768) >> 16)))) AS BIGINT) AS sum_b
    FROM vals
    GROUP BY doc_id, mw, mh
    """,
)
def x4_jpeg420_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 real SUBSAMPLED COLOR JPEG decode: synthesize a valid YCbCr
    4:2:0 baseline JPEG per document (textured Y blocks — the proven
    exactly-invertible DC+AC(0,1) class — and MCU-flat chroma, so 2x2
    box subsampling / flat-block DCT / replication upsampling are all
    exact), parse it back with the real decoder (multimodal/codecs.py:
    MCU-interleaved scan, 4 Y + Cb + Cr blocks per MCU, per-component
    predictors and quant tables, libjpeg fixed-point YCbCr→RGB), and
    emit decoded RGB channel sums. The DuckDB twin recomputes them in
    closed form — the color conversion is EXACT integer arithmetic
    (FIX·65536, +32768, arithmetic >>16), deliberately chosen over a
    float ITU conversion whose two G coefficients differ by exactly
    0.37 and therefore generate genuine round-half ties. Closes the
    'subsampled JPEG' descope: only progressive JPEG and video remain
    out of profile."""
    import pandas as pd

    from .multimodal.codecs import decode_jpeg, make_jpeg420

    # spread(): the doc_id spine is a ~1-file scan, but the decode below
    # is CPU-bound Python — widen to cluster parallelism (no-op when
    # the scan is already wide; see operators/partitioning.py)
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id"))

    def gen_decode(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                w, h, c, img = decode_jpeg(make_jpeg420(int(i)))
                s = img.reshape(-1, 3).astype("int64").sum(axis=0)
                rows.append(
                    {
                        "doc_id": int(i), "width": w, "height": h,
                        "n_channels": c, "sum_r": int(s[0]),
                        "sum_g": int(s[1]), "sum_b": int(s[2]),
                    }
                )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        gen_decode,
        "doc_id long, width long, height long, n_channels long, "
        "sum_r long, sum_g long, sum_b long",
    )


# =====================================================================
# X4 — real 4:2:2 color JPEG decode (16x8 MCU, horizontal-only chroma)
# =====================================================================

@query(
    "x4_jpeg422_decode",
    f"""
    WITH dims AS (
      SELECT doc_id, CAST(1 + doc_id % 3 AS BIGINT) AS mw,
             CAST(1 + doc_id % 2 AS BIGINT) AS mh
      FROM documents
    ), blk AS (
      SELECT doc_id, mw, mh, unnest(range(0, 2 * mw * mh)) AS b
      FROM dims
    ), px AS (
      SELECT doc_id, mw, mh, b,
             28 + (doc_id * 13 + b * 29) % 201 AS g,
             (doc_id * 7 + b * 11) % 15 - 7 AS a,
             (b // (2 * mw)) * mw + (b % (2 * mw)) // 2 AS m,
             unnest(range(0, 8)) AS x
      FROM blk
    ), vals AS (
      SELECT doc_id, mw, mh,
             CAST(ROUND(g + a * list_extract(
               LIST_VALUE({_JPEG_BASIS}), x + 1)) AS BIGINT) AS yv,
             (64 + (doc_id * 17 + m * 37) % 128) - 128 AS kb,
             (64 + (doc_id * 23 + m * 41) % 128) - 128 AS kr
      FROM px
    )
    SELECT doc_id, CAST(16 * mw AS BIGINT) AS width,
           CAST(8 * mh AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS n_channels,
           CAST(8 * SUM(LEAST(255, GREATEST(0,
             yv + ((91881 * kr + 32768) >> 16)))) AS BIGINT) AS sum_r,
           CAST(8 * SUM(LEAST(255, GREATEST(0,
             yv + ((-22554 * kb - 46802 * kr + 32768) >> 16)))) AS BIGINT) AS sum_g,
           CAST(8 * SUM(LEAST(255, GREATEST(0,
             yv + ((116130 * kb + 32768) >> 16)))) AS BIGINT) AS sum_b
    FROM vals
    GROUP BY doc_id, mw, mh
    """,
)
def x4_jpeg422_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 real 4:2:2 COLOR JPEG decode — the LAST JPEG sampling layout
    with real crawl frequency (16x8 MCU: 2 Y + Cb + Cr blocks,
    horizontal-only chroma subsampling): synthesize a valid 4:2:2
    baseline JPEG per document (textured Y blocks, MCU-flat chroma — the
    exactly-invertible class make_jpeg420 proved, restriped for 2x1),
    parse it back with the same real decoder (the MCU walk was already
    sampling-generic; 4:2:2 only had to be allowed at the SOF gate), and
    emit decoded RGB channel sums against the closed-form DuckDB twin.
    Block index b maps to MCU m = (b div 2mw)·mw + (b mod 2mw) div 2;
    each block's 8 rows are identical, hence the 8·SUM. With this, the
    remaining JPEG descopes are the patent-legacy rare ones (arithmetic
    coding, 12-bit) plus WebP — ranked out in COVERAGE.md."""
    import pandas as pd

    from .multimodal.codecs import decode_jpeg, make_jpeg422

    d = spread(load_table(spark, sf_dir, "documents").select("doc_id"))

    def gen_decode(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                w, h, c, img = decode_jpeg(make_jpeg422(int(i)))
                s = img.reshape(-1, 3).astype("int64").sum(axis=0)
                rows.append(
                    {
                        "doc_id": int(i), "width": w, "height": h,
                        "n_channels": c, "sum_r": int(s[0]),
                        "sum_g": int(s[1]), "sum_b": int(s[2]),
                    }
                )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        gen_decode,
        "doc_id long, width long, height long, n_channels long, "
        "sum_r long, sum_g long, sum_b long",
    )


# =====================================================================
# X4 — G.711 mu-law / A-law WAV decode (telephony audio)
# =====================================================================

@query(
    "x4_wav_g711_decode",
    """
    WITH smp AS (
      SELECT doc_id,
             (doc_id % 2 = 0) AS is_mu,
             unnest(range(0, doc_id % 40 + 25)) AS i
      FROM documents
    ), byt AS (
      SELECT doc_id, is_mu, (doc_id * 31 + i * 17) % 256 AS bv FROM smp
    ), mu AS (
      SELECT doc_id, is_mu,
             xor(bv, 255) AS u
      FROM byt WHERE is_mu
    ), mu_lin AS (
      SELECT doc_id, is_mu,
             CASE WHEN (u & 128) != 0 THEN -t ELSE t END AS lin
      FROM (
        SELECT doc_id, is_mu, u,
               ((((u & 15) << 3) + 132) << ((u >> 4) & 7)) - 132 AS t
        FROM mu
      )
    ), al AS (
      SELECT doc_id, is_mu, xor(bv, 85) AS a FROM byt WHERE NOT is_mu
    ), al_lin AS (
      SELECT doc_id, is_mu,
             CASE WHEN (a & 128) != 0 THEN t ELSE -t END AS lin
      FROM (
        SELECT doc_id, is_mu, a,
               CASE WHEN ((a >> 4) & 7) = 0 THEN ((a & 15) << 4) + 8
                    ELSE (((a & 15) << 4) + 264) << (((a >> 4) & 7) - 1)
               END AS t
        FROM al
      )
    ), lin AS (
      SELECT * FROM mu_lin UNION ALL SELECT * FROM al_lin
    )
    SELECT doc_id,
           CASE WHEN is_mu THEN 'mulaw' ELSE 'alaw' END AS codec,
           COUNT(*) AS n_samples,
           CAST(SUM(lin) AS BIGINT) AS sum_lin,
           CAST(MIN(lin) AS BIGINT) AS min_lin,
           CAST(MAX(lin) AS BIGINT) AS max_lin
    FROM lin GROUP BY doc_id, is_mu
    """,
)
def x4_wav_g711_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 telephony-audio decode: synthesize a valid G.711 WAV per
    document (mu-law format tag 7 for even ids, A-law tag 6 for odd),
    parse it back with the real hand-rolled RIFF chunk walker + ITU-T
    G.711 integer expansion (multimodal/codecs.py: decode_wav_g711 —
    stdlib `wave` refuses non-PCM, so the chunk walk is real), and emit
    linear-sample statistics. Expansion is pure integer arithmetic
    (shifts/masks/xor), mirrored literally in the DuckDB twin, and the
    implementation pins the canonical ITU values (mu-law max 32124) in
    tests/test_codecs.py."""
    import pandas as pd

    from .multimodal.codecs import decode_wav_g711, make_wav_g711

    # spread(): the doc_id spine is a ~1-file scan, but the decode below
    # is CPU-bound Python — widen to cluster parallelism (no-op when
    # the scan is already wide; see operators/partitioning.py)
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id"))

    def gen_decode(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                _rate, codec, smp = decode_wav_g711(make_wav_g711(int(i)))
                rows.append(
                    {
                        "doc_id": int(i), "codec": codec,
                        "n_samples": int(len(smp)),
                        "sum_lin": int(smp.sum()),
                        "min_lin": int(smp.min()), "max_lin": int(smp.max()),
                    }
                )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        gen_decode,
        "doc_id long, codec string, n_samples long, "
        "sum_lin long, min_lin long, max_lin long",
    )


# =====================================================================
# X4 — real PROGRESSIVE JPEG decode (SOF2 spectral selection)
# =====================================================================

@query(
    "x4_jpeg_prog_decode",
    f"""
    WITH dims AS (
      SELECT doc_id, CAST(1 + doc_id % 4 AS BIGINT) AS bw,
             CAST(1 + doc_id % 3 AS BIGINT) AS bh
      FROM documents
    ), blk AS (
      SELECT doc_id, bw, bh, unnest(range(0, bw * bh)) AS b
      FROM dims
    ), px AS (
      SELECT doc_id, bw, bh,
             28 + (doc_id * 13 + b * 29) % 201 AS g,
             (doc_id * 7 + b * 11) % 15 - 7 AS a,
             unnest(range(0, 8)) AS x
      FROM blk
    ), vals AS (
      SELECT doc_id, bw, bh,
             CAST(ROUND(g + a * list_extract(
               LIST_VALUE({{basis}}), x + 1)) AS BIGINT) AS p
      FROM px
    )
    SELECT doc_id, CAST(bw * 8 AS BIGINT) AS width,
           CAST(bh * 8 AS BIGINT) AS height,
           CAST(1 AS BIGINT) AS n_channels,
           CAST(SUM(p) * 8 AS BIGINT) AS sum_px,
           CAST(MIN(p) AS BIGINT) AS min_px,
           CAST(MAX(p) AS BIGINT) AS max_px
    FROM vals
    GROUP BY doc_id, bw, bh
    """.replace("{basis}", _JPEG_BASIS),
)
def x4_jpeg_prog_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 real PROGRESSIVE JPEG decode (SOF2, spectral-selection mode):
    the same exactly-invertible textured payloads as x4_jpeg_decode,
    written as a DC scan + two AC band scans and decoded through the
    multi-scan coefficient store — progressive run machinery (per-band
    run/size, ZRL-in-band, image-wide EOBRUN batching with EOBn extra
    bits) all on the hash-checked path, since every block's (6,63) band
    is empty by construction. The oracle is the identical closed form as
    the baseline query: same pixels, different entropy layout — which is
    precisely the claim progressive JPEG makes. Successive approximation
    and progressive color are covered by x4_jpeg_prog_sa_decode and
    x4_jpeg_prog_color_decode (round 8)."""
    import pandas as pd

    from .multimodal.codecs import decode_jpeg, make_jpeg_progressive

    # spread(): the doc_id spine is a ~1-file scan, but the decode below
    # is CPU-bound Python — widen to cluster parallelism (no-op when
    # the scan is already wide; see operators/partitioning.py)
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id"))

    def gen_decode(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                w, h, c, img = decode_jpeg(make_jpeg_progressive(int(i)))
                flat = img.reshape(-1).astype("int64")
                rows.append(
                    {
                        "doc_id": int(i), "width": w, "height": h,
                        "n_channels": c, "sum_px": int(flat.sum()),
                        "min_px": int(flat.min()), "max_px": int(flat.max()),
                    }
                )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        gen_decode,
        "doc_id long, width long, height long, n_channels long, "
        "sum_px long, min_px long, max_px long",
    )


# =====================================================================
# X4 — real FULL-progressive JPEG decode (successive approximation)
# =====================================================================

@query(
    "x4_jpeg_prog_sa_decode",
    f"""
    WITH dims AS (
      SELECT doc_id, CAST(1 + doc_id % 4 AS BIGINT) AS bw,
             CAST(1 + doc_id % 3 AS BIGINT) AS bh
      FROM documents
    ), blk AS (
      SELECT doc_id, bw, bh, unnest(range(0, bw * bh)) AS b
      FROM dims
    ), px AS (
      SELECT doc_id, bw, bh,
             28 + (doc_id * 13 + b * 29) % 201 AS g,
             (doc_id * 7 + b * 11) % 15 - 7 AS a,
             unnest(range(0, 8)) AS x
      FROM blk
    ), vals AS (
      SELECT doc_id, bw, bh,
             CAST(ROUND(g + a * list_extract(
               LIST_VALUE({{basis}}), x + 1)) AS BIGINT) AS p
      FROM px
    )
    SELECT doc_id, CAST(bw * 8 AS BIGINT) AS width,
           CAST(bh * 8 AS BIGINT) AS height,
           CAST(1 AS BIGINT) AS n_channels,
           CAST(SUM(p) * 8 AS BIGINT) AS sum_px,
           CAST(MIN(p) AS BIGINT) AS min_px,
           CAST(MAX(p) AS BIGINT) AS max_px
    FROM vals
    GROUP BY doc_id, bw, bh
    """.replace("{basis}", _JPEG_BASIS),
)
def x4_jpeg_prog_sa_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 real FULL-progressive JPEG decode (round 8): the same
    exactly-invertible textured payloads, written with SPECTRAL
    SELECTION **and** SUCCESSIVE APPROXIMATION — the complete T.81
    Annex G Huffman progressive feature set. The scan script sends
    coefficient bit-planes coarse-to-fine (DC first at Al=1 + raw-bit
    refinement; AC band first scans at Al=2 + two refinement plane
    scans each), so every SA decode path is on the hash-checked route:
    newly-significant ±1 coding, buffered correction bits (emitted
    after the next symbol, riding EOBn runs across blocks), ZRL inside
    refinement scans, and the two's-complement DC bit OR. All planes
    down to Al=0 are sent, so the reconstructed coefficients — and the
    oracle — are IDENTICAL to the baseline/spectral-selection queries:
    same closed form, third entropy layout. Progressive COLOR is covered
    by x4_jpeg_prog_color_decode."""
    import pandas as pd

    from .multimodal.codecs import decode_jpeg, make_jpeg_prog_sa

    # spread(): the doc_id spine is a ~1-file scan, but the decode below
    # is CPU-bound Python — widen to cluster parallelism (no-op when
    # the scan is already wide; see operators/partitioning.py)
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id"))

    def gen_decode(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                w, h, c, img = decode_jpeg(make_jpeg_prog_sa(int(i)))
                flat = img.reshape(-1).astype("int64")
                rows.append(
                    {
                        "doc_id": int(i), "width": w, "height": h,
                        "n_channels": c, "sum_px": int(flat.sum()),
                        "min_px": int(flat.min()), "max_px": int(flat.max()),
                    }
                )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        gen_decode,
        "doc_id long, width long, height long, n_channels long, "
        "sum_px long, min_px long, max_px long",
    )


# =====================================================================
# X4 — real progressive COLOR JPEG decode (4:4:4 + SA, round 8)
# =====================================================================

@query(
    "x4_jpeg_prog_color_decode",
    f"""
    WITH dims AS (
      SELECT doc_id, CAST(1 + doc_id % 4 AS BIGINT) AS bw,
             CAST(1 + doc_id % 3 AS BIGINT) AS bh
      FROM documents
    ), blk AS (
      SELECT doc_id, bw, bh, unnest(range(0, bw * bh)) AS b
      FROM dims
    ), px AS (
      SELECT doc_id, bw, bh,
             28 + (doc_id * 13 + b * 29) % 201 AS g,
             (doc_id * 7 + b * 11) % 15 - 7 AS a,
             (64 + (doc_id * 17 + b * 37) % 128) - 128 AS kb,
             (64 + (doc_id * 23 + b * 41) % 128) - 128 AS kr,
             unnest(range(0, 8)) AS x
      FROM blk
    ), vals AS (
      SELECT doc_id, bw, bh, kb, kr,
             CAST(ROUND(g + a * list_extract(
               LIST_VALUE({{basis}}), x + 1)) AS BIGINT) AS yv
      FROM px
    )
    SELECT doc_id, CAST(bw * 8 AS BIGINT) AS width,
           CAST(bh * 8 AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS n_channels,
           CAST(8 * SUM(LEAST(255, GREATEST(0,
             yv + ((91881 * kr + 32768) >> 16)))) AS BIGINT) AS sum_r,
           CAST(8 * SUM(LEAST(255, GREATEST(0,
             yv + ((-22554 * kb - 46802 * kr + 32768) >> 16)))) AS BIGINT) AS sum_g,
           CAST(8 * SUM(LEAST(255, GREATEST(0,
             yv + ((116130 * kb + 32768) >> 16)))) AS BIGINT) AS sum_b
    FROM vals
    GROUP BY doc_id, bw, bh
    """.replace("{basis}", _JPEG_BASIS),
)
def x4_jpeg_prog_color_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 real progressive COLOR JPEG decode (round 8 — the final JPEG
    profile): 4:4:4 YCbCr SOF2 streams with successive approximation —
    INTERLEAVED multi-component DC scans (per-component predictors, the
    one interleave T.81 progressive allows) + single-component AC band
    scans with full SA refinement, reconstructed per component and
    converted with the same fixed-point YCbCr→RGB as the baseline color
    path. Payloads stay in the exactly-invertible class: textured Y
    (the proven DC+AC(0,1) construction) and per-block FLAT chroma
    (flat-block DCT = pure DC at quant step 8 — exact), so the DuckDB
    twin recomputes the decoded RGB sums in closed form (the jpeg420
    oracle's conversion with per-block chroma and no subsampling).
    With this, every JPEG entropy layout the engine claims — baseline
    gray/4:4:4/4:2:0, restarts, spectral selection, SA gray, SA color —
    is hash-checked; remaining JPEG descopes are sampling layouts other
    than 1x1/2x2, arithmetic coding, and 12-bit precision."""
    import pandas as pd

    from .multimodal.codecs import decode_jpeg, make_jpeg_prog_color

    # spread(): the doc_id spine is a ~1-file scan, but the decode below
    # is CPU-bound Python — widen to cluster parallelism (no-op when
    # the scan is already wide; see operators/partitioning.py)
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id"))

    def gen_decode(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                w, h, c, img = decode_jpeg(make_jpeg_prog_color(int(i)))
                s = img.reshape(-1, 3).astype("int64").sum(axis=0)
                rows.append(
                    {
                        "doc_id": int(i), "width": w, "height": h,
                        "n_channels": c, "sum_r": int(s[0]),
                        "sum_g": int(s[1]), "sum_b": int(s[2]),
                    }
                )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        gen_decode,
        "doc_id long, width long, height long, n_channels long, "
        "sum_r long, sum_g long, sum_b long",
    )


# =====================================================================
# X4 — real GIF decode (palette + variable-width LZW)
# =====================================================================

@query(
    "x4_gif_decode",
    """
    WITH dims AS (
      SELECT doc_id, CAST(6 + doc_id % 9 AS BIGINT) AS width,
             CAST(4 + doc_id % 7 AS BIGINT) AS height,
             (CAST(1 AS BIGINT) << (2 + doc_id % 7)) AS psize
      FROM documents
    ), px AS (
      SELECT doc_id, width, height, psize,
             unnest(range(0, width * height)) AS p
      FROM dims
    ), idx AS (
      SELECT doc_id, width, height, (doc_id * 11 + p * 5) % psize AS i
      FROM px
    )
    SELECT doc_id, width, height, CAST(3 AS BIGINT) AS n_channels,
           CAST(SUM((i * 7 + doc_id) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((i * 11 + doc_id * 3) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((i * 15 + doc_id * 5) % 256) AS BIGINT) AS sum_b
    FROM idx
    GROUP BY doc_id, width, height
    """,
)
def x4_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 real LZW-image decode: synthesize a valid GIF89a per document
    (4..256-color palette, graphic-control extension, sub-block framing,
    variable-width LZW image data) and parse it back with the
    dependency-free real decoder (multimodal/codecs.py: decode_gif —
    extension skip, sub-block reassembly, spec LZW with width growth and
    the KwKwK case). The DuckDB twin recomputes the decoded palette-RGB
    channel sums in closed form from the palette/index formulas without
    seeing the bytes, so any bit-packing, dictionary, or palette-lookup
    bug breaks the hash. The encoder's code widths follow a simulated
    DECODER dictionary counter (the spec off-by-one), pinned externally
    by the canonical published 1x1 GIF byte stream in
    tests/test_codecs.py. Same Arrow mapInPandas shape as x4_png_decode.
    """
    import pandas as pd

    from .multimodal.codecs import decode_gif, make_gif

    # spread(): the doc_id spine is a ~1-file scan, but the decode below
    # is CPU-bound Python — widen to cluster parallelism (no-op when
    # the scan is already wide; see operators/partitioning.py)
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id"))

    def gen_decode(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                w, h, c, img = decode_gif(make_gif(int(i)))
                s = img.reshape(-1, 3).astype("int64").sum(axis=0)
                rows.append(
                    {
                        "doc_id": int(i), "width": w, "height": h,
                        "n_channels": c, "sum_r": int(s[0]),
                        "sum_g": int(s[1]), "sum_b": int(s[2]),
                    }
                )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        gen_decode,
        "doc_id long, width long, height long, n_channels long, "
        "sum_r long, sum_g long, sum_b long",
    )


# =====================================================================
# X4 — real JPEG decode (canonical Huffman + dequant + IDCT)
# =====================================================================

@query(
    "x4_jpeg_decode",
    f"""
    WITH dims AS (
      SELECT doc_id, CAST(1 + doc_id % 4 AS BIGINT) AS bw,
             CAST(1 + doc_id % 3 AS BIGINT) AS bh
      FROM documents
    ), blk AS (
      SELECT doc_id, bw, bh, unnest(range(0, bw * bh)) AS b
      FROM dims
    ), px AS (
      SELECT doc_id, bw, bh,
             28 + (doc_id * 13 + b * 29) % 201 AS g,
             (doc_id * 7 + b * 11) % 15 - 7 AS a,
             unnest(range(0, 8)) AS x
      FROM blk
    ), vals AS (
      SELECT doc_id, bw, bh,
             CAST(ROUND(g + a * list_extract(
               LIST_VALUE({_JPEG_BASIS}), x + 1)) AS BIGINT) AS p
      FROM px
    )
    SELECT doc_id, CAST(bw * 8 AS BIGINT) AS width,
           CAST(bh * 8 AS BIGINT) AS height,
           CAST(1 AS BIGINT) AS n_channels,
           CAST(SUM(p) * 8 AS BIGINT) AS sum_px,
           CAST(MIN(p) AS BIGINT) AS min_px,
           CAST(MAX(p) AS BIGINT) AS max_px
    FROM vals
    GROUP BY doc_id, bw, bh
    """,
)
def x4_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 real ENTROPY-CODED image decode: synthesize a valid baseline
    sequential grayscale JPEG per document and parse it back with the
    dependency-free real decoder (multimodal/codecs.py: canonical-Huffman
    entropy decode with 0xFF00 unstuffing, DC prediction + EXTEND,
    inverse zigzag, dequantization, full 2-D IDCT, level shift) — the
    format class BMP/PNG could not cover. Each generated 8x8 block is a
    base gray g PLUS a horizontal cosine of amplitude a: exactly the
    (DC, AC(0,1)) coefficient pair, both provably exact through
    FDCT+quantize for every (g, a) in range (see the invertibility proof
    at codecs.py's JPEG section), so the oracle exercises the REAL AC
    decode path — run/size Huffman symbols, EXTEND on AC magnitudes, AC
    dequantization and the cosine terms of the IDCT — and the DuckDB
    twin recomputes the decoded pixel statistics in closed form (the 8
    cosine weights embedded as repr() double literals) without ever
    seeing the bytes: any Huffman/stuffing/zigzag/dequant/IDCT bug
    breaks the hash. Longer runs/ZRL/EOB interplay is exercised by the
    textured lossy round-trip test in tests/test_multimodal.py. Same
    Arrow mapInPandas shape as x4_bmp_decode/x4_png_decode."""
    import pandas as pd

    from .multimodal.codecs import decode_jpeg, make_jpeg

    # spread(): the doc_id spine is a ~1-file scan, but the decode below
    # is CPU-bound Python — widen to cluster parallelism (no-op when
    # the scan is already wide; see operators/partitioning.py)
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id"))

    def gen_decode(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                w, h, c, img = decode_jpeg(make_jpeg(int(i)))
                px = img.reshape(-1).astype("int64")
                rows.append(
                    {
                        "doc_id": int(i), "width": w, "height": h,
                        "n_channels": c, "sum_px": int(px.sum()),
                        "min_px": int(px.min()), "max_px": int(px.max()),
                    }
                )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        gen_decode,
        "doc_id long, width long, height long, n_channels long, "
        "sum_px long, min_px long, max_px long",
    )


# =====================================================================
# X4 — real VIDEO decode: MJPEG-in-AVI frame sampling
# =====================================================================

@query(
    "x4_video_frames",
    f"""
    WITH dims AS (
      SELECT doc_id, CAST(1 + doc_id % 4 AS BIGINT) AS bw,
             CAST(1 + doc_id % 3 AS BIGINT) AS bh,
             CAST(3 + doc_id % 6 AS BIGINT) AS nf
      FROM documents
    ), frm AS (
      SELECT doc_id, bw, bh, nf, unnest(range(0, nf, 2)) AS f
      FROM dims
    ), blk AS (
      SELECT doc_id, bw, bh, nf, f, unnest(range(0, bw * bh)) AS b
      FROM frm
    ), px AS (
      SELECT doc_id, bw, bh, nf, f,
             28 + (doc_id * 13 + (b + 1000 * f) * 29) % 201 AS g,
             (doc_id * 7 + (b + 1000 * f) * 11) % 15 - 7 AS a,
             unnest(range(0, 8)) AS x
      FROM blk
    ), vals AS (
      SELECT doc_id, bw, bh, nf, f,
             CAST(ROUND(g + a * list_extract(
               LIST_VALUE({_JPEG_BASIS}), x + 1)) AS BIGINT) AS p
      FROM px
    )
    SELECT doc_id, f AS frame_idx, nf AS n_frames,
           CAST(bw * 8 AS BIGINT) AS width,
           CAST(bh * 8 AS BIGINT) AS height,
           CAST(100000 AS BIGINT) AS us_per_frame,
           CAST(SUM(p) * 8 AS BIGINT) AS sum_px,
           CAST(MIN(p) AS BIGINT) AS min_px,
           CAST(MAX(p) AS BIGINT) AS max_px
    FROM vals
    GROUP BY doc_id, f, nf, bw, bh
    """,
)
def x4_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 REAL VIDEO decode — closes the video-container descope.
    Synthesize a valid AVI/MJPG clip per document (RIFF form: avih +
    strl stream headers, word-aligned '00dc' movi chunks — JPEG frames
    are routinely odd-length so the pad path is live — and a full idx1
    index), then run the real sampling pipeline
    (multimodal/decode.py:decode_video_frames): container walk with
    nested-LIST recursion and idx1 cross-validation via
    codecs.decode_avi_mjpeg, sample every 2nd frame, decode each sampled
    frame with the real baseline-JPEG decoder, emit one row per sampled
    frame. Frames reuse the proven-invertible (DC, AC(0,1)) texture
    with block index offset 1000*frame, so the DuckDB twin recomputes
    every sampled frame's pixel statistics in closed form without ever
    seeing a byte: any container-offset, alignment, index, frame-order,
    or entropy-decode bug breaks the hash. Sample-THEN-decode inside the
    Arrow batch is the ordering that matters at 100 TB of video — a
    clip never fans out to per-frame shuffled rows before sampling."""
    import pandas as pd

    from .multimodal.codecs import make_avi_mjpeg
    from .multimodal.decode import decode_video_frames

    # spread(): the doc_id spine is a ~1-file scan, but the decode below
    # is CPU-bound Python — widen to cluster parallelism (no-op when
    # the scan is already wide; see operators/partitioning.py)
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id"))

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": [
                        make_avi_mjpeg(int(i)) for i in pdf["doc_id"]
                    ],
                }
            )

    clips = d.mapInPandas(gen, "doc_id long, payload binary")
    return decode_video_frames(clips, every_n=2)


# =====================================================================
# X4 — real INTER-CODED video decode (AVI/MRLE, BI_RLE8 — round 8)
# =====================================================================

@query(
    "x4_video_inter_frames",
    """
    WITH dims AS (
      SELECT doc_id, CAST(6 + doc_id % 9 AS BIGINT) AS w,
             CAST(4 + doc_id % 7 AS BIGINT) AS h,
             CAST(3 + doc_id % 6 AS BIGINT) AS nf
      FROM documents
    ), frm AS (
      SELECT doc_id, w, h, nf, unnest(range(0, nf, 2)) AS f
      FROM dims
    ), rws AS (
      SELECT doc_id, w, h, nf, f, unnest(range(0, h)) AS r
      FROM frm
    ), writer AS (
      -- last frame <= f that painted bottom-up row r: frame j paints
      -- row (j mod h); anything earlier than frame 1 is the keyframe
      SELECT doc_id, w, h, nf, f, r,
             GREATEST(f - ((f - r) % h + h) % h, 0) AS jw
      FROM rws
    ), idx AS (
      SELECT doc_id, w, h, nf, f, r,
             (doc_id * 11 + jw * 29 + r * 17) % 256 AS i
      FROM writer
    )
    SELECT doc_id, f AS frame_idx, nf AS n_frames,
           w AS width, h AS height,
           CAST(100000 AS BIGINT) AS us_per_frame,
           CAST(SUM(w * ((i * 7 + doc_id) % 256)) AS BIGINT) AS sum_r,
           CAST(SUM(w * ((i * 11 + doc_id * 3) % 256)) AS BIGINT) AS sum_g,
           CAST(SUM(w * ((i * 13 + doc_id * 5) % 256)) AS BIGINT) AS sum_b
    FROM idx
    GROUP BY doc_id, f, nf, w, h
    """,
)
def x4_video_inter_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 real INTER-CODED video decode (round 8 — closes the
    temporal-prediction descope): synthesize a valid AVI/MRLE (BI_RLE8)
    clip per document — Microsoft's documented run-length video codec,
    whose delta/EOL escapes SKIP pixels that then keep their values from
    the PREVIOUS frame (real inter coding: decoding frame k requires the
    decoded state of frames 0..k-1, unlike all-intra MJPEG) — then run
    the real pipeline (multimodal/decode.py:decode_inter_video_frames):
    RIFF walk + idx1 cross-check (keyframe flagged AVIIF_KEYFRAME), RLE8
    decode with a persistent canvas (encoded runs, absolute mode with
    word alignment, delta skips), palette mapping, every-2nd-frame
    sampling, per-frame RGB channel sums. Payloads: keyframe paints all
    rows, each inter frame repaints only row (j mod h) — every third
    one in absolute mode — so the DuckDB twin recomputes each sampled
    frame's sums in closed form from the last-writer recurrence without
    seeing a byte: a wrong delta offset, canvas reset, palette order, or
    sampling index breaks the hash."""
    import pandas as pd

    from .multimodal.codecs import make_avi_mrle
    from .multimodal.decode import decode_inter_video_frames

    # spread(): the doc_id spine is a ~1-file scan, but the decode below
    # is CPU-bound Python — widen to cluster parallelism (no-op when
    # the scan is already wide; see operators/partitioning.py)
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id"))

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": [make_avi_mrle(int(i)) for i in pdf["doc_id"]],
                }
            )

    clips = d.mapInPandas(gen, "doc_id long, payload binary")
    return decode_inter_video_frames(clips, every_n=2)


# =====================================================================
# X4 — MOTION-COMPENSATED video decode (AVI/'MC1 ' — round 9)
# =====================================================================

@query(
    "x4_video_mc_decode",
    """
    WITH dims AS (
      SELECT doc_id, CAST(2 + doc_id % 2 AS BIGINT) AS wmb,
             CAST(1 + (doc_id % 4) // 2 AS BIGINT) AS hmb,
             CAST(3 + doc_id % 6 AS BIGINT) AS nf
      FROM documents
    ), frm AS (
      SELECT doc_id, wmb, hmb, nf, unnest(range(0, nf, 2)) AS f
      FROM dims
    ), cols AS (
      SELECT doc_id, wmb, hmb, nf, f, unnest(range(0, wmb * 16)) AS gx
      FROM frm
    ), pix AS (
      SELECT doc_id, wmb, hmb, nf, f, gx, unnest(range(0, hmb * 16)) AS gy
      FROM cols
    ), src AS (
      -- frame f shows the keyframe permuted by ((f+1)//2, f//2) cyclic
      -- macroblock shifts (odd P-frames rotate MB columns, even rotate
      -- rows) — the closed form of the generator's motion vectors
      SELECT doc_id, wmb, hmb, nf, f, gx, gy,
             ((gx // 16 + (f + 1) // 2) % wmb) * 16 + gx % 16 AS gxs,
             ((gy // 16 + f // 2) % hmb) * 16 + gy % 16 AS gys
      FROM pix
    ), val AS (
      SELECT doc_id, wmb, hmb, nf, f, gx, gy,
             CAST(ROUND(
               28 + (doc_id * 13
                     + ((gys // 8) * (wmb * 2) + gxs // 8) * 29) % 201
               + ((doc_id * 7
                   + ((gys // 8) * (wmb * 2) + gxs // 8) * 11) % 15 - 7)
                 * list_extract(LIST_VALUE({basis}), gxs % 8 + 1)
             ) AS BIGINT) AS p
      FROM src
    )
    SELECT doc_id, f AS frame_idx, nf AS n_frames,
           CAST(wmb * 16 AS BIGINT) AS width,
           CAST(hmb * 16 AS BIGINT) AS height,
           CAST(100000 AS BIGINT) AS us_per_frame,
           CAST(SUM(p) AS BIGINT) AS sum_px,
           CAST(SUM(p * (1 + gx)) AS BIGINT) AS col_wsum,
           CAST(SUM(p * (1 + gy)) AS BIGINT) AS row_wsum
    FROM val
    GROUP BY doc_id, f, nf, wmb, hmb
    """.replace("{basis}", _JPEG_BASIS),
)
def x4_video_mc_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 MOTION-COMPENSATED video decode (round 9 — closes the last
    media descope): synthesize an AVI/'MC1 ' clip per document —
    MPEG-1-class P-frames: 16x16 macroblocks, full-pel integer motion
    vectors into the previous RECONSTRUCTED frame, skip/inter macroblock
    modes (intra refresh + DCT residual exist in the codec and are fuzz-
    tested; the catalog class is MV-only so the oracle is closed-form) —
    then run the real pipeline (decode.py:decode_mc_video_frames): RIFF
    walk + idx1 keyframe-flag cross-check, baseline-JPEG I-frame decode,
    per-frame motion-compensated reconstruction, every-2nd-frame
    sampling, per-frame pixel sums PLUS column/row coordinate-weighted
    sums. The generator's MVs cyclically rotate macroblock columns (odd
    frames) and rows (even frames), so sampled frame f shows the proven
    (DC, AC(0,1)) keyframe texture permuted by ((f+1)//2, f//2) — the
    DuckDB twin recomputes all three sums in closed form without seeing
    a byte; plain sums are permutation-invariant, so the WEIGHTED sums
    are what a wrong MV sign, offset, reference frame, or sampling index
    breaks."""
    import pandas as pd

    from .multimodal.codecs import make_avi_mc
    from .multimodal.decode import decode_mc_video_frames

    # spread(): the doc_id spine is a ~1-file scan, but the decode below
    # is CPU-bound Python — widen to cluster parallelism (no-op when
    # the scan is already wide; see operators/partitioning.py)
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id"))

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": [make_avi_mc(int(i)) for i in pdf["doc_id"]],
                }
            )

    clips = d.mapInPandas(gen, "doc_id long, payload binary")
    return decode_mc_video_frames(clips, every_n=2)


# =====================================================================
# X4 — image perceptual-hash near-dup (dHash + Hamming)
# =====================================================================

@query(
    "x4_image_dhash",
    """
    WITH dims AS (
      SELECT doc_id, CAST(3 + doc_id % 6 AS BIGINT) AS w,
             CAST(2 + doc_id % 5 AS BIGINT) AS h
      FROM documents
    ), grid AS (
      SELECT doc_id, w, h, r, c,
             (r * h) // 9 AS gy,
             (c * w) // 8 AS gx1,
             ((c + 1) * w) // 8 AS gx2
      FROM dims,
           unnest(range(0, 9)) AS t1(r),
           unnest(range(0, 7)) AS t2(c)
    ), px AS (
      SELECT doc_id, r, c,
             (doc_id * 7 + (gy * w + gx1) * 3 + 1) % 256 AS v1o,
             (doc_id * 7 + (gy * w + gx2) * 3 + 1) % 256 AS v2o,
             ((doc_id * 7 + (gy * w + gx1) * 3 + 1) % 256
              + CASE WHEN (gx1 + gy + doc_id) % 11 = 0 THEN 1 ELSE 0 END)
              % 256 AS v1j,
             ((doc_id * 7 + (gy * w + gx2) * 3 + 1) % 256
              + CASE WHEN (gx2 + gy + doc_id) % 11 = 0 THEN 1 ELSE 0 END)
              % 256 AS v2j
      FROM grid
    ), packed AS (
      SELECT doc_id,
             SUM(CASE WHEN v2o > v1o
                 THEN CAST(1 AS BIGINT) << (r * 7 + c) ELSE 0 END) AS ho,
             SUM(CASE WHEN v2j > v1j
                 THEN CAST(1 AS BIGINT) << (r * 7 + c) ELSE 0 END) AS hj
      FROM px GROUP BY doc_id
    )
    SELECT p.doc_id, d.w AS width, d.h AS height,
           CAST(ho AS BIGINT) AS dhash_orig,
           CAST(hj AS BIGINT) AS dhash_jitter,
           CAST(bit_count(xor(ho, hj)) AS BIGINT) AS hamming,
           CAST(CASE WHEN bit_count(xor(ho, hj)) <= 8 THEN 1 ELSE 0 END
                AS BIGINT) AS is_near_dup
    FROM packed p JOIN dims d ON p.doc_id = d.doc_id
    """,
)
def x4_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 IMAGE NEAR-DUP: perceptual difference-hash (dHash) computed
    over REALLY-DECODED pixels. Per document, synthesize the original
    BMP and its near-duplicate twin (+1-mod-256 jitter on a sparse
    position mask — perceptually the same image), parse BOTH with the
    real BMP decoder (struct headers, BGR, padding, bottom-up), compute
    the 63-bit nearest-neighbor-sampled dHash of each
    (codecs.dhash63 — the integer-exact downsample variant, chosen so
    the DuckDB twin can recompute both hashes closed-form from the pixel
    formulas), and emit the Hamming distance + near-dup verdict. This is
    the image-modality version of the SimHash/MinHash text dedup family:
    at 100 TB the hash is a map-only pass and pairing runs on the
    64-bit codes via the same pigeonhole chunk blocking as x1_simhash —
    never on pixels. Measured on this corpus: jitter twins land at
    Hamming 0-2 of their originals (threshold 8), so every variant is
    correctly flagged; structurally distinct (random) images sit near
    the 31.5-bit random mean (tests/test_codecs.py — the formula corpus
    itself can't supply that negative case, since same-dims formula
    images are pure brightness shifts of each other, which dHash is
    invariant to by design)."""
    import pandas as pd

    from .multimodal.codecs import (
        decode_bmp,
        dhash63,
        make_bmp,
        make_bmp_jitter,
    )

    # spread(): the doc_id spine is a ~1-file scan, but the decode below
    # is CPU-bound Python — widen to cluster parallelism (no-op when
    # the scan is already wide; see operators/partitioning.py)
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id"))

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                w, h, _, orig = decode_bmp(make_bmp(i))
                _, _, _, jit = decode_bmp(make_bmp_jitter(i))
                ho, hj = dhash63(orig), dhash63(jit)
                ham = bin(ho ^ hj).count("1")
                rows.append(
                    {
                        "doc_id": i, "width": w, "height": h,
                        "dhash_orig": ho, "dhash_jitter": hj,
                        "hamming": ham,
                        "is_near_dup": 1 if ham <= 8 else 0,
                    }
                )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        gen,
        "doc_id long, width long, height long, dhash_orig long, "
        "dhash_jitter long, hamming long, is_near_dup long",
    )


# =====================================================================
# X4 — audio feature extraction (energy / ZCR / autocorrelation)
# =====================================================================

@query(
    "x4_audio_features",
    """
    WITH smp AS (
      SELECT doc_id, i,
             (doc_id * 31 + i * 17) % 65536 - 32768 AS s
      FROM documents, unnest(range(0, doc_id % 50 + 20)) AS t(i)
    ), lagged AS (
      SELECT doc_id, s,
             LAG(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
      FROM smp
    )
    SELECT doc_id,
           COUNT(*) AS n_samples,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(SUM(s * s) AS BIGINT) AS energy,
           CAST(SUM(CASE WHEN prev IS NOT NULL AND s * prev < 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS zcr,
           CAST(SUM(CASE WHEN prev IS NOT NULL
                    THEN s * prev ELSE 0 END) AS BIGINT) AS ac1
    FROM lagged
    GROUP BY doc_id
    """,
)
def x4_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 AUDIO ANALYSIS beyond decode: per-clip signal features over
    REALLY-DECODED PCM16 samples — energy (sum of squares), zero-crossing
    rate (strict sign-change count, the classic voiced/unvoiced and
    noisiness primitive), and lag-1 autocorrelation (the first tap of the
    pitch/LPC analysis ladder). All three are integer-EXACT in int64
    (|s| <= 32768, squares <= 2^30, clip lengths bounded), so the DuckDB
    twin recomputes them closed-form from the sample formula with a LAG
    window — any decode, endianness, or indexing bug breaks the hash.
    Map-only per clip at scale; the Python surface is the same sanctioned
    Arrow decode batch as the other x4 queries."""
    import numpy as np
    import pandas as pd

    from .multimodal.codecs import decode_wav, make_wav

    # spread(): the doc_id spine is a ~1-file scan, but the decode below
    # is CPU-bound Python — widen to cluster parallelism (no-op when
    # the scan is already wide; see operators/partitioning.py)
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id"))

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                rate, _, smp = decode_wav(make_wav(i))
                s = smp.astype(np.int64)
                rows.append(
                    {
                        "doc_id": i,
                        "n_samples": len(s),
                        "sample_rate": rate,
                        "energy": int((s * s).sum()),
                        "zcr": int(((s[1:] * s[:-1]) < 0).sum()),
                        "ac1": int((s[1:] * s[:-1]).sum()),
                    }
                )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        gen,
        "doc_id long, n_samples long, sample_rate long, energy long, "
        "zcr long, ac1 long",
    )


# =====================================================================
# IVM1 — incremental materialized-view maintenance (delta merge)
# =====================================================================

# The change batch is DERIVED deterministically from the fact table so
# both engines see identical changes: orderkey%7==0 rows get qty+1
# (update), %11==0 (and not updated) rows are deleted, %13==0 (and
# neither) rows are re-inserted with qty+10. Updates/deletes/inserts
# become +/- deltas on (SUM, COUNT) — the textbook self-maintainable
# aggregate view.

@query(
    "ivm1_incremental_rollup",
    """
    WITH l AS (
      SELECT l_orderkey, l_returnflag,
             strftime(date_trunc('month', CAST(l_shipdate AS DATE)), '%Y-%m-%d')
               AS ship_month,
             CAST(l_quantity AS DECIMAL(18,2)) AS qty
      FROM lineitem
    ),
    modified AS (
      SELECT l_returnflag, ship_month,
             CASE WHEN l_orderkey % 7 = 0
                  THEN qty + CAST(1 AS DECIMAL(18,2)) ELSE qty END AS qty
      FROM l
      WHERE NOT (l_orderkey % 11 = 0 AND l_orderkey % 7 <> 0)
      UNION ALL
      SELECT l_returnflag, ship_month, qty + CAST(10 AS DECIMAL(18,2))
      FROM l
      WHERE l_orderkey % 13 = 0 AND l_orderkey % 7 <> 0 AND l_orderkey % 11 <> 0
    )
    SELECT l_returnflag, ship_month,
           CAST(SUM(qty) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_rows
    FROM modified
    GROUP BY l_returnflag, ship_month
    """,
)
def ivm1_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM1: incremental maintenance of a materialized SUM/COUNT rollup —
    apply a CDC batch (updates/deletes/inserts) to the MATERIALIZED
    aggregate by merging per-group deltas, never re-reading the base
    facts. The DuckDB oracle recomputes the final rollup from scratch
    over the modified fact multiset: a hash match PROVES the delta
    algebra (update → +diff, delete → (−qty, −1), insert → (+qty, +1),
    full-outer merge, drop groups at count 0) is exactly equivalent to
    recomputation.

    Scale: this is THE pattern that keeps a 100 TB warehouse's rollups
    fresh — the delta aggregation touches only the change batch (MB, not
    TB), and the merge is a join on the (tiny) group-key space; Spark
    executes it as two small hash aggregations + one full-outer hash
    join, with the base rollup read from its materialization, not from
    the fact table. (Here the base rollup is computed in-query since the
    driver contract is read-only; the merge plan is the deliverable.)
    """
    from pyspark.sql.types import DecimalType

    DEC = DecimalType(18, 2)
    lt = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM-dd").alias(
            "ship_month"
        ),
        F.col("l_quantity").cast(DEC).alias("qty"),
    )
    keys = ["l_returnflag", "ship_month"]
    is_upd = F.col("l_orderkey") % 7 == 0
    is_del = (F.col("l_orderkey") % 11 == 0) & ~is_upd
    is_ins = (F.col("l_orderkey") % 13 == 0) & ~is_upd & ~is_del

    # the materialized view (normally read back from storage)
    base = lt.groupBy(*keys).agg(
        F.sum("qty").alias("_s"), F.count(F.lit(1)).alias("_n")
    )
    # CDC batch → per-group (SUM, COUNT) deltas
    upd = lt.filter(is_upd).select(
        *keys, F.lit(1).cast(DEC).alias("_dq"), F.lit(0).alias("_dn")
    )
    dele = lt.filter(is_del).select(
        *keys, (-F.col("qty")).alias("_dq"), F.lit(-1).alias("_dn")
    )
    ins = lt.filter(is_ins).select(
        *keys, (F.col("qty") + F.lit(10).cast(DEC)).alias("_dq"), F.lit(1).alias("_dn")
    )
    delta = (
        upd.unionByName(dele)
        .unionByName(ins)
        .groupBy(*keys)
        .agg(F.sum("_dq").alias("_dq"), F.sum("_dn").alias("_dn"))
    )
    merged = (
        base.join(delta, keys, "full_outer")
        .select(
            *keys,
            (
                F.coalesce(F.col("_s"), F.lit(0).cast(DEC))
                + F.coalesce(F.col("_dq"), F.lit(0).cast(DEC))
            ).alias("_sum"),
            (F.coalesce(F.col("_n"), F.lit(0)) + F.coalesce(F.col("_dn"), F.lit(0))).alias(
                "n_rows"
            ),
        )
        .filter(F.col("n_rows") > 0)
    )
    return merged.select(
        *keys,
        F.col("_sum").cast("double").alias("sum_qty"),
        F.col("n_rows"),
    )
