from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from etl_lorettoscarpa_1asfb2jf21_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def ansi_spark(spark):
    """A session on the same context with the SQL settings a plain
    ``SparkSession.builder`` session has: ANSI mode on, Arrow transfers
    off."""
    s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "true")
    s.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    return s


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_medium() -> str:
    return SF_MEDIUM


@pytest.fixture(scope="session")
def union_find_components():
    """Sequential oracle for connected components: ``f(node_ids, edges)`` ->
    {node: min id of its component}, for every node and every endpoint of
    a non-self-loop edge."""

    def components(node_ids, edges):
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        labelled = set(node_ids) | {x for a, b in edges if a != b for x in (a, b)}
        comp_min: dict[int, int] = {}
        for x in sorted(labelled):
            comp_min.setdefault(find(x), x)
        return {x: comp_min[find(x)] for x in labelled}

    return components


@pytest.fixture(scope="session")
def ngram_clusters_oracle(union_find_components):
    """Plain-Python oracle for near-duplicate clusters:
    ``f(rows, n, threshold)`` over (id, block, text) rows -> {id: min id of
    its cluster}. Pairs are the ngram_jaccard_pairs pairs: same non-NULL
    block, and the size bound and Jaccard test over the distinct character
    n-grams of the normalized text (lower-cased, whitespace runs collapsed
    to one space, trimmed; NULL is ""), in floats. Texts are ASCII."""
    import re
    from itertools import combinations

    def grams(text, n):
        s = re.sub(r"\s+", " ", (text or "").lower()).strip(" ")
        return {s[i : i + n] for i in range(len(s) - n + 1)}

    def clusters(rows, n, t):
        edges = []
        for (ia, ba, ta), (ib, bb, tb) in combinations(rows, 2):
            if ba is None or ba != bb:
                continue
            a, b = grams(ta, n), grams(tb, n)
            sa, sb, inter = float(len(a)), float(len(b)), float(len(a & b))
            if sa + sb - inter == 0:
                continue  # 0/0 is NULL in Spark and fails the test
            if sa >= t * sb and sb >= t * sa and inter / (sa + sb - inter) >= t:
                edges.append((ia, ib))
        return union_find_components([r[0] for r in rows], edges)

    return clusters


@pytest.fixture(scope="session")
def pagerank_recurrence():
    """Sequential oracle for scaled-integer PageRank:
    ``f(edges, n_iter, damping_pct=85, scale=10**9)`` -> {node: rank} for
    every endpoint, by the same floor-division recurrence, dangling mass
    dropped. Duplicate edges count once per copy, as in the engine."""

    def ranks(edges, n_iter, damping_pct=85, scale=10**9):
        nodes = {x for e in edges for x in e}
        out: dict[int, int] = {}
        for s, _ in edges:
            out[s] = out.get(s, 0) + 1
        rank = dict.fromkeys(nodes, scale)
        base = scale * (100 - damping_pct) // 100
        for _ in range(n_iter):
            s = dict.fromkeys(nodes, 0)
            for u, v in edges:
                s[v] += rank[u] // out[u]
            rank = {v: base + (damping_pct * s[v]) // 100 for v in nodes}
        return rank

    return ranks


@pytest.fixture
def jobs_during(spark):
    """``jobs_during(fn)`` runs ``fn`` under a fresh job group. Returns
    (fn's result, the ids of every job launched while it ran, the ids
    under its group).

    Job ids are sequential, so a marker job before and after bounds the
    window. The status tracker is fed asynchronously, in event order:
    once the closing marker is visible, every earlier job is too."""
    import time
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker() -> int:
        group = f"marker-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        sc.parallelize([0], 1).count()
        while not tracker.getJobIdsForGroup(group):
            time.sleep(0.05)
        return tracker.getJobIdsForGroup(group)[0]

    def run(fn):
        group = f"under-test-{uuid.uuid4().hex}"
        first = marker()
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            last = marker()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, set(range(first + 1, last)), set(tracker.getJobIdsForGroup(group))

    return run
