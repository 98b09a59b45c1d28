"""Round-9 operators: Bloom semi-join reduction, hashed-ngram classifier,
domain upsampling, MMR diversified top-k (queries_catalog_quality + the
operators/sketches Bloom and operators/similarity.mmr_topk additions)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_lorettoscarpa_1asfb2jf21_spark.operators.sketches import (
    BLOOM_WORDS,
    bloom_build_words,
    bloom_probe,
)
from etl_lorettoscarpa_1asfb2jf21_spark.operators.similarity import mmr_topk


# ------------------------------------------------------------- Bloom


def test_bloom_no_false_negatives_and_bounded_words(spark):
    """Structural Bloom guarantees: every build value passes the probe
    (no false negatives), and the filter artifact is at most
    BLOOM_WORDS rows no matter how many values are inserted."""
    build = spark.range(2_000).select((F.col("id") * 7).alias("k"))
    words = bloom_build_words(build, "k")
    assert words.count() <= BLOOM_WORDS
    probed = bloom_probe(build, "k", words)
    assert probed.filter(~F.col("bloom_pass")).count() == 0


def test_bloom_prunes_most_non_members(spark):
    """A disjoint probe set should mostly fail the filter: with 100
    values in 1024 bits / k=2, the per-key FP rate is ~(1-e^-0.2)^2
    ≈ 3%; assert the prune keeps at least 80% out (loose bound, exact
    determinism makes this stable)."""
    build = spark.range(100).select(F.col("id").alias("k"))
    words = bloom_build_words(build, "k")
    probe = spark.range(10_000, 20_000).select(F.col("id").alias("k"))
    n_pass = bloom_probe(probe, "k", words).filter(F.col("bloom_pass")).count()
    assert n_pass < 2_000, n_pass


def test_bloom_words_merge_by_bit_or(spark):
    """Mergeable-summary property: the filter of a union equals the
    per-shard filters bit_or-merged word by word."""
    a = spark.range(500).select(F.col("id").alias("k"))
    b = spark.range(400, 900).select(F.col("id").alias("k"))
    merged = (
        bloom_build_words(a, "k")
        .unionByName(bloom_build_words(b, "k"))
        .groupBy("_w")
        .agg(F.bit_or("_word").alias("_word"))
    )
    direct = bloom_build_words(a.unionByName(b), "k")
    assert (
        merged.exceptAll(direct).count() == 0
        and direct.exceptAll(merged).count() == 0
    )


# --------------------------------------------------------------- MMR


def _vec_df(spark, rows):
    return spark.createDataFrame(rows, ["c_id", "c_vec"])


def test_mmr_diversifies_away_from_duplicate_cluster(spark):
    """Corpus = 3 near-identical vectors by the query + 1 orthogonal-ish
    one. Plain top-2 would take two duplicates; MMR's second pick must
    be the diverse vector."""
    corpus = _vec_df(
        spark,
        [
            (1, [1.0, 0.1]),
            (2, [0.98, 0.12]),
            (3, [0.97, 0.13]),
            (4, [0.05, 1.0]),
        ],
    )
    queries = spark.createDataFrame([(0, [0.7, 0.7])], ["q_id", "q_vec"])
    out = mmr_topk(queries, corpus, k=2, shortlist=4).orderBy("sel_rank")
    picks = [r["c_id"] for r in out.collect()]
    assert picks == [1, 4], picks


def test_mmr_first_pick_is_exact_top1_and_ranks_complete(spark):
    """Pick 1 must equal the exact argmax of relevance; sel_rank is a
    1..k permutation of distinct corpus ids per query."""
    import random

    rng = random.Random(9)
    corpus = _vec_df(
        spark,
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)],
    )
    queries = spark.createDataFrame(
        [(0, [1.0] * 8), (1, [-1.0] * 8)], ["q_id", "q_vec"]
    )
    out = mmr_topk(queries, corpus, k=4, shortlist=10).collect()
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append(r)
    for q, rows in by_q.items():
        ranks = sorted(r["sel_rank"] for r in rows)
        assert ranks == [1, 2, 3, 4]
        ids = {r["c_id"] for r in rows}
        assert len(ids) == 4
        first = next(r for r in rows if r["sel_rank"] == 1)
        top1 = max(rows, key=lambda r: r["rel"])
        assert first["rel"] == top1["rel"]
        # maxsim is 0 only for the first pick; mmr consistent with the
        # integer formula 7*rel - 3*maxsim
        for r in rows:
            if r["sel_rank"] == 1:
                assert r["maxsim"] == 0 and r["mmr"] == 7 * r["rel"]
            else:
                assert r["mmr"] == 7 * r["rel"] - 3 * r["maxsim"]


# ------------------------------------------------ catalog-level checks


def test_quality_queries_registered_with_oracles():
    from etl_lorettoscarpa_1asfb2jf21_spark import queries_catalog as qc

    for name in (
        "sk9_bloom_semijoin",
        "x3_hashed_classifier",
        "tp15_domain_upsample",
        "x2_mmr_topk",
    ):
        assert name in qc.QUERIES and name in qc.ORACLE_SQL


def test_domain_upsample_mass_and_cap(spark, sf_medium):
    """Output mass per domain = n_in * n_repeat, with n_repeat in
    [1, cap] and the largest domain never upsampled."""
    from etl_lorettoscarpa_1asfb2jf21_spark.queries_catalog_quality import (
        _TP15_CAP,
        tp15_domain_upsample,
    )

    out = tp15_domain_upsample(spark, sf_medium)
    per = out.groupBy("source", "n_repeat").agg(F.count(F.lit(1)).alias("n"))
    rows = per.collect()
    assert all(1 <= r["n_repeat"] <= _TP15_CAP for r in rows)
    n_in = {
        r["source"]: r["n"]
        for r in (
            out.filter(F.col("epoch") == 0)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    }
    for r in rows:
        assert r["n"] == n_in[r["source"]] * r["n_repeat"]
    biggest = max(n_in, key=lambda s: n_in[s])
    assert next(r["n_repeat"] for r in rows if r["source"] == biggest) == 1


def test_hashed_classifier_is_map_only(spark, sf_medium):
    """The scoring pass must not shuffle: no Exchange in the physical
    plan (pure projection over the scan)."""
    from etl_lorettoscarpa_1asfb2jf21_spark.queries_catalog_quality import (
        x3_hashed_classifier,
    )

    plan = x3_hashed_classifier(spark, sf_medium)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan


# ----------------------------------------------------- triangles etc.


def test_triangle_count_matches_bruteforce_on_known_graph(spark, tmp_path):
    """Pin the degree-oriented count against a hand-enumerable graph:
    K4 (4 triangles) plus a pendant edge and an isolated edge."""
    import itertools

    rows = []
    ok = 0
    # encode each undirected edge as one 2-item order (consecutive lines)
    edges = list(itertools.combinations([1, 2, 3, 4], 2)) + [(4, 5), (8, 9)]
    for s, d in edges:
        rows.append((ok, s, 1))
        rows.append((ok, d, 2))
        ok += 1
    li = spark.createDataFrame(rows, ["l_orderkey", "l_partkey", "l_linenumber"])
    d = str(tmp_path / "li")
    li.write.parquet(d + "/lineitem.parquet")
    from etl_lorettoscarpa_1asfb2jf21_spark.queries_catalog_quality import (
        gr2_triangle_count,
    )

    out = gr2_triangle_count(spark, d).collect()[0]
    assert out["n_triangles"] == 4  # K4
    assert out["n_edges"] == 8
    assert out["n_nodes"] == 7
    # wedges: K4 nodes have deg 3 (node 4 has 4), pendant 1, isolated 1s
    # deg: 1,2,3 -> 3; 4 -> 4; 5 -> 1; 8,9 -> 1
    assert out["n_wedges"] == 3 * 3 + 6


# Jobs launched while gr2_triangle_count builds its plan on sf_small.
GR2_BUILD_JOBS = 3


def test_gr2_triangle_count_job_budget(spark, sf_small, jobs_during):
    """Building gr2_triangle_count launches only the jobs of its two lazy
    checkpoints (edges, degrees), which AQE runs at construction, all in
    the caller's job group."""
    from etl_lorettoscarpa_1asfb2jf21_spark.queries_catalog_quality import (
        gr2_triangle_count,
    )
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table

    load_table(spark, sf_small, "lineitem")  # its schema read is a job
    df, build_jobs, grouped = jobs_during(lambda: gr2_triangle_count(spark, sf_small))
    assert build_jobs == grouped
    assert len(build_jobs) <= GR2_BUILD_JOBS, sorted(build_jobs)
    assert df.collect()[0]["n_triangles"] > 0


def test_range_search_contains_self_and_respects_threshold(spark, sf_medium):
    from etl_lorettoscarpa_1asfb2jf21_spark.queries_catalog_quality import (
        x2_range_search,
    )

    rows = x2_range_search(spark, sf_medium).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r)
    for q, rs in by_q.items():
        assert any(r["c_id"] == q for r in rs)  # self sim = 1.0 qualifies
        assert all(r["sim"] >= 0.3 for r in rs)


def test_mmr_trace_matches_python_reference_fuzz(spark):
    """Fuzz the FULL greedy trace (pick order, rel, maxsim, mmr) against
    a plain-Python reference over random corpora — the engine-blind
    pinning the codec family uses — plus the edge shapes: score ties
    (decided by the lower id), a corpus smaller than k, and negative
    similarities. Quantization mirrors quantize_expr (round-half-away
    scaled int64)."""
    import random

    def quant(v):
        return [
            int((x * 10**6) + 0.5) if x >= 0 else -int((-x * 10**6) + 0.5)
            for x in v
        ]

    def ref_mmr(qvecs, cvecs, k, m, lam_num=7, lam_den=10):
        """(trace rows, rounds whose best score was shared)."""
        out, ties = [], 0
        for qid, qv in qvecs.items():
            qq = quant(qv)
            rel = {
                cid: sum(a * b for a, b in zip(qq, quant(cv)))
                for cid, cv in cvecs.items()
            }
            short = sorted(rel, key=lambda c: (-rel[c], c))[:m]
            qc = {c: quant(cvecs[c]) for c in short}
            sel = []
            for r in range(1, min(k, len(short)) + 1):
                cands = []
                for c in short:
                    if c in sel:
                        continue
                    ms = max(
                        (sum(a * b for a, b in zip(qc[c], qc[s])) for s in sel),
                        default=0,
                    )
                    score = lam_num * rel[c] - (lam_den - lam_num) * ms
                    cands.append((-score, c, ms))
                cands.sort()
                ties += len(cands) > 1 and cands[0][0] == cands[1][0]
                neg, c, ms = cands[0]
                sel.append(c)
                out.append((qid, c, r, rel[c], ms, -neg))
        return sorted(out), ties

    def got_mmr(qvecs, cvecs, k, m):
        corpus = spark.createDataFrame(list(cvecs.items()), ["c_id", "c_vec"])
        queries = spark.createDataFrame(list(qvecs.items()), ["q_id", "q_vec"])
        return sorted(
            (r["q_id"], r["c_id"], r["sel_rank"], r["rel"], r["maxsim"], r["mmr"])
            for r in mmr_topk(queries, corpus, k=k, shortlist=m).collect()
        )

    rng = random.Random(77)
    for trial in range(3):
        nc = rng.choice([12, 25, 40])
        dim = rng.choice([4, 8])
        cvecs = {
            i: [rng.uniform(-1, 1) for _ in range(dim)] for i in range(nc)
        }
        qvecs = {100 + j: [rng.uniform(-1, 1) for _ in range(dim)] for j in range(2)}
        want, _ = ref_mmr(qvecs, cvecs, 4, 8)
        assert got_mmr(qvecs, cvecs, 4, 8) == want, (trial, want[:3])

    # small-integer vectors, each repeated three times: equal rel and
    # equal mmr scores, so the lower id decides
    base = [[float(rng.randint(-2, 2)) for _ in range(3)] for _ in range(5)]
    cvecs = {i: base[i % 5] for i in range(15)}
    qvecs = {100: [1.0, 1.0, 0.0], 101: [0.0, -1.0, 2.0]}
    want, ties = ref_mmr(qvecs, cvecs, 5, 10)
    assert ties > 0
    assert got_mmr(qvecs, cvecs, 5, 10) == want

    # a corpus smaller than k: every row is picked, in greedy order
    small = {7: [0.5, 0.5], 3: [0.5, 0.4], 9: [-0.2, 0.1]}
    want, _ = ref_mmr({1: [1.0, 0.0]}, small, 5, 16)
    assert [t[2] for t in want] == [1, 2, 3]
    assert got_mmr({1: [1.0, 0.0]}, small, 5, 16) == want

    # opposite clusters: the later picks' maxsim is negative
    opp = {0: [1.0, 0.1], 1: [-1.0, 0.0], 2: [0.9, 0.2], 3: [-0.8, -0.3]}
    want, _ = ref_mmr({5: [0.6, 0.8]}, opp, 4, 4)
    assert any(t[4] < 0 for t in want)
    assert got_mmr({5: [0.6, 0.8]}, opp, 4, 4) == want


def test_mmr_null_vectors_match_duckdb_twin(spark, tmp_path):
    """With NULL embeddings (one of them a query's), x2_mmr_topk matches
    its DuckDB twin: NULL rel and maxsim propagate, and NULL scores rank
    last. Duplicate vectors add score ties."""
    import random

    import duckdb

    from etl_lorettoscarpa_1asfb2jf21_spark.queries_catalog_quality import (
        _MMR_DIM,
        _mmr_oracle_sql,
        x2_mmr_topk,
    )

    rng = random.Random(5)
    vecs = [[rng.uniform(-1, 1) for _ in range(_MMR_DIM)] for _ in range(30)]
    rows = [
        (i, None if i in (2, 5, 11, 17) else vecs[i % 20], 0) for i in range(30)
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(d + "/embeddings.parquet")

    got = sorted(
        tuple(r) for r in x2_mmr_topk(spark, d).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet/*.parquet'"
    )
    want = sorted(con.execute(_mmr_oracle_sql()).fetchall())
    assert got == want
    assert any(r[3] is None for r in want)  # query 2's rel is NULL
    assert any(r[4] is None for r in want)  # a NULL vector's maxsim


def test_x2_mmr_topk_job_budget(spark, sf_small, jobs_during):
    """Building x2_mmr_topk launches no job, and the collect is a few:
    the relevance top-k, the shortlist join and one grouped greedy pass.
    The k−1 round loop with its four checkpoints launched 74 here."""
    from etl_lorettoscarpa_1asfb2jf21_spark.queries_catalog_quality import (
        x2_mmr_topk,
    )
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.tables import load_table

    load_table(spark, sf_small, "embeddings")  # its schema read is a job
    df, build_jobs, _ = jobs_during(lambda: x2_mmr_topk(spark, sf_small))
    assert build_jobs == set()
    rows, launched, grouped = jobs_during(df.collect)
    assert len(rows) == 20
    assert launched == grouped
    assert len(launched) <= 6, len(launched)


def test_classifier_train_matches_plain_python_reference(spark, sf_small):
    """The distributed batch-perceptron epoch trace must equal a plain
    single-threaded reference running the same integer recurrence (the
    MMR-fuzz discipline applied to training): same features, same label,
    same epoch count -> bit-identical weights."""
    import hashlib
    import re

    import duckdb

    from etl_lorettoscarpa_1asfb2jf21_spark.queries_catalog_quality import (
        _X3C_BUCKETS,
        _X3T_EPOCHS,
        _X3T_HOLDOUT_MOD,
        _x3t_train,
    )

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, coalesce(text, ''), n_chars FROM "
        f"read_parquet('{sf_small}/documents.parquet')"
    ).fetchall()

    def buckets(text):
        nt = re.sub(r"\s+", " ", text.lower()).strip()
        ws = nt.split(" ")
        grams = ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]  # uni + bi
        seen, feats = set(), []
        for g in grams:
            if g not in seen:
                seen.add(g)
                feats.append(g)
        out, bs = set(), []
        for g in feats:
            bkt = int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % _X3C_BUCKETS
            if bkt not in out:
                out.add(bkt)
                bs.append(bkt)
        return bs + [_X3C_BUCKETS]  # bias

    def gopher_label(text):
        ws = re.split(r"\s+", text.strip())
        n_words = len(ws)
        uniq_ratio = len(set(ws)) / n_words
        mean_wlen = len(re.sub(r"\s", "", text)) / n_words
        keep = (
            n_words >= 30
            and uniq_ratio >= 0.40
            and 4.0 <= mean_wlen <= 5.0
        )
        return 1 if keep else -1

    def is_train(doc_id):
        h = int(hashlib.md5(f"split|{doc_id}".encode()).hexdigest()[:15], 16)
        return h % _X3T_HOLDOUT_MOD != 0

    docs = [
        (gopher_label(t), buckets(t)) for i, t, _ in rows if is_train(i)
    ]
    assert docs and len(docs) < len(rows)  # split really holds some out
    W_ref = [0] * (_X3C_BUCKETS + 1)
    A_ref = [0] * (_X3C_BUCKETS + 1)  # averaged-perceptron snapshot sum
    for _ in range(_X3T_EPOCHS):
        mis = [(y, bd) for y, bd in docs if y * sum(W_ref[b] for b in bd) <= 0]
        for y, bd in mis:
            for b in bd:
                W_ref[b] += y
        A_ref = [a + w for a, w in zip(A_ref, W_ref)]

    W_got, _ = _x3t_train(spark, sf_small)
    assert W_got == A_ref


def test_leakage_safe_split_keeps_clusters_together(spark, sf_small):
    """No near-dup cluster may straddle the train/val boundary — the
    property the query exists to guarantee."""
    from etl_lorettoscarpa_1asfb2jf21_spark.queries_catalog_quality import (
        QUERIES,
    )

    rows = QUERIES["tp18_leakage_safe_split"](spark, sf_small).collect()
    assert len(rows) == 500
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    splits = {r["split"] for r in rows}
    assert splits <= {"train", "val"} and "train" in splits


def test_quality_weighted_sample_is_deterministic_and_monotone(spark, sf_small):
    """The keep decision must be a pure function of (doc, score): two
    runs agree row-for-row, every negative-score doc is dropped, and
    every doc with p_num == 1000 whose draw is anything is kept."""
    from etl_lorettoscarpa_1asfb2jf21_spark.queries_catalog_quality import (
        QUERIES,
    )

    a = {r["doc_id"]: r for r in QUERIES["tp17_quality_weighted_sample"](
        spark, sf_small).collect()}
    b = {r["doc_id"]: r for r in QUERIES["tp17_quality_weighted_sample"](
        spark, sf_small).collect()}
    assert len(a) == 500
    for k in a:
        assert a[k] == b[k]
        r = a[k]
        assert r["kept"] == (r["draw"] < r["p_num"])
        if r["score"] <= 0:
            assert not r["kept"]
