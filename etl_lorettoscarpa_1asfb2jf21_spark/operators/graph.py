"""Connected components over an edge list — the clustering step that turns
near-duplicate *pairs* (minhash/ngram/embedding dedup output) into duplicate
*groups* with one canonical survivor per group.

Algorithm: alternating large-star/small-star rounds (Kiveris et al. 2014,
"Connected Components in MapReduce and Beyond"), O(log² n) rounds whatever
the diameter. Near-dup graphs are overwhelmingly small cliques and chains;
one round contracts a clique to a star.

Scale design (100 TB corpora → billions of nodes, edges ≪ nodes²):
  * each star step is one shuffle, a grouping of both edge orientations
    into per-node neighbour sets; there is no label table to join;
  * a round is one lazily built plan under one eager localCheckpoint;
  * the stop test is exact and in the plan: an Observation on the
    round's last grouping counts the nodes with more than one parent, and
    the checkpoint's own job fills it — no per-round collect and no
    confirmation round.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# Guards the session-scoped constraintPropagation toggle below: catalog
# pipelines run queries concurrently (ThreadPoolExecutor in per-round
# tooling), and an unguarded save/restore pair can race — one caller
# "saving" the other's temporary false and restoring it permanently.
# Refcounted PER SESSION (keyed by the SparkSession identity): two
# interleaving sessions each get their own depth/saved-value, so the
# second session's first entrant still disables ITS conf and the last
# exiter of each session restores that session's own saved value.
_CP_LOCK = threading.Lock()
_CP_STATE: dict[int, list] = {}  # id(spark) -> [depth, saved_value]


class _constraint_propagation_off:
    """Refcounted, lock-guarded disable of Catalyst constraint propagation
    for the enclosed plan constructions (see connected_components_star for
    the Spark 4.1 Union/localCheckpoint bug this works around). Any frame
    RETURNED from the guarded region must be eagerly checkpointed inside
    it — plans analyzed after exit run under the caller's conf again."""

    def __init__(self, spark):
        self._spark = spark
        self._key = "spark.sql.constraintPropagation.enabled"

    def __enter__(self):
        with _CP_LOCK:
            state = _CP_STATE.get(id(self._spark))
            if state is None:
                saved = self._spark.conf.get(self._key, "true")
                self._spark.conf.set(self._key, "false")
                _CP_STATE[id(self._spark)] = [1, saved]
            else:
                state[0] += 1
        return self

    def __exit__(self, *exc):
        with _CP_LOCK:
            state = _CP_STATE[id(self._spark)]
            state[0] -= 1
            if state[0] == 0:
                del _CP_STATE[id(self._spark)]
                self._spark.conf.set(self._key, state[1] or "true")
        return False


def duplicate_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """Cluster near-duplicate pairs into groups; canonical = min id.

    Returns (id_col, cluster_id, is_canonical). Downstream dedup keeps
    ``is_canonical`` rows — one survivor per duplicate group, singletons
    survive trivially (their cluster is themselves). The components come
    from :func:`connected_components_star`.
    """
    comp = connected_components_star(
        docs.select(id_col), pairs, id_col=id_col, src_col=pair_a, dst_col=pair_b
    )
    return comp.select(
        F.col(id_col),
        F.col("component").alias("cluster_id"),
        (F.col(id_col) == F.col("component")).alias("is_canonical"),
    )


def connected_components_star(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """Label every node with the minimum node id of its connected component,
    by alternating large-star/small-star rounds (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond").

    ``nodes``: one row per node (``id_col``); isolated nodes allowed.
    ``edges``: undirected pairs (``src_col``, ``dst_col``), any orientation;
    self-loops and duplicates allowed. An edge endpoint missing from
    ``nodes`` is labelled too, unless its only edges are self-loops.
    Returns (id_col, component). Property-tested equal to sequential
    union-find.

    Mechanics per Kiveris: the edge list is a set of parent pointers.
    With Γ(u) the undirected neighbours of u and m(u) = min(Γ(u) ∪ {u}),
    large-star links every neighbour v > u to m(u); small-star links every
    neighbour v <= u, and u itself, to m(u). The rounds take O(log² n)
    regardless of diameter and stop at a forest of stars rooted at each
    component's minimum.

    Every step is one shuffle: both orientations of each edge are
    exploded and grouped into (u, collect_set(v)), so no node-to-minimum
    self-join is needed. A round is one lazily built plan under one eager
    ``localCheckpoint``, placed after the grouping of small-star's output
    that the next large-star reads. That grouping also collects each
    node's parents, the targets of its own pointers, and an
    ``Observation`` on it counts the nodes with more than one. The
    checkpoint's job fills it, so the stop test costs no job. It is exact:
    small-star gives u the parent m(u), and gives each smaller neighbour
    of u the same m(u). One parent per node therefore means m is equal
    across every edge, so it is each component's minimum, and the output
    is a star forest with root self-loops, which the next round would
    return unchanged. The loop stops in the first round that reaches the
    fixpoint, with no confirmation round.
    A neighbour set is one array row, so a component's root holds the whole
    component in memory in the closing round.
    """
    # Catalyst's Union constraint rewrite chokes ("key not found: _id#N")
    # when an input plan contains a localCheckpoint barrier whose
    # LogicalRDD carries constraints referencing pre-checkpoint attribute
    # ids (observed on Spark 4.1 when edges come from minhash_lsh_pairs,
    # whose gram pipeline checkpoints lazily). Constraint propagation
    # buys nothing here, so it is off while the rounds and the final
    # union are built; the union is checkpointed eagerly inside the guard.
    with _constraint_propagation_off(nodes.sparkSession):
        return _connected_components_star_loop(
            nodes, edges, id_col, src_col, dst_col, max_iter
        )


def _neighbourhoods(edges: DataFrame, parents: bool = False) -> DataFrame:
    """(_u, _n): each node's undirected neighbour set, in one shuffle. With
    ``parents``, also (_p): the targets of the node's own (_u, _v) edges."""

    def orient(a: str, b: str, up: bool):
        return F.struct(
            F.col(a).alias("_a"), F.col(b).alias("_b"), F.lit(up).alias("_up")
        )

    both = F.explode(F.array(orient("_u", "_v", True), orient("_v", "_u", False)))
    aggs = [F.collect_set("_e._b").alias("_n")]
    if parents:
        aggs.append(F.collect_set(F.when(F.col("_e._up"), F.col("_e._b"))).alias("_p"))
    return (
        edges.select(both.alias("_e"))
        .groupBy(F.col("_e._a").alias("_u"))
        .agg(*aggs)
    )


def _star_step(nbrs: DataFrame, large: bool) -> DataFrame:
    """(_u, _v) = (v, m(u)) for the neighbours v that the step keeps."""
    u = F.col("_u")
    if large:
        keep = F.filter("_n", lambda v: v > u)
    else:
        keep = F.concat(F.filter("_n", lambda v: v < u), F.array(u))
    return nbrs.select(
        F.explode(keep).alias("_u"), F.least(u, F.array_min("_n")).alias("_v")
    )


def _connected_components_star_loop(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str,
    src_col: str,
    dst_col: str,
    max_iter: int,
) -> DataFrame:
    # Round 1 reads the input directly: collect_set symmetrizes and
    # deduplicates it. Self-loops are the roots' representation inside
    # the loop.
    nbrs = _neighbourhoods(
        edges.select(F.col(src_col).alias("_u"), F.col(dst_col).alias("_v"))
    )
    open_nodes = None
    for _ in range(max_iter):
        small = _star_step(
            _neighbourhoods(_star_step(nbrs, large=True)), large=False
        )
        obs = Observation()
        # One eager checkpoint per round: it truncates the lineage and its
        # job fills the observation, so the stop test needs no job.
        nbrs = (
            _neighbourhoods(small, parents=True)
            .observe(obs, F.count_if(F.size("_p") > 1).alias("_open"))
            .localCheckpoint(eager=True)
        )
        open_nodes = obs.get["_open"]
        if open_nodes == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds; "
            f"{open_nodes} nodes were not yet stars (had more than one parent) "
            "after the last round"
        )

    # Fixpoint is a star forest: every node's one parent is its root, and
    # roots are their own parents.
    roots = nbrs.select("_u", F.array_min("_p").alias("_lbl"))
    singles = (
        nodes.select(F.col(id_col).alias("_u"))
        .join(roots.select("_u"), "_u", "left_anti")
        .select("_u", F.col("_u").alias("_lbl"))
    )
    # Eager: optimize the union under the disabled-conf guard, and
    # materialize the two-column labeling every consumer joins anyway.
    return (
        roots.union(singles)
        .select(F.col("_u").alias(id_col), F.col("_lbl").alias("component"))
        .localCheckpoint(eager=True)
    )


def pagerank_scaled(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 5,
    damping_pct: int = 85,
    scale: int = 10**9,
) -> DataFrame:
    """Fixed-iteration PageRank in SCALED INTEGER arithmetic.

    Ranks are int64 multiples of ``1/scale``; the per-edge contribution is
    ``rank div out_degree`` and the update is
    ``(scale·(100-d) + d·Σcontrib) div 100`` — floor division throughout,
    so every engine that runs the same recurrence produces BIT-identical
    ranks (float PageRank is summation-order-dependent and cannot be
    oracle-checked across engines). Dangling-node mass is dropped, the
    standard simplification; ranks therefore sum to slightly under
    ``n·scale``. ``scale`` trades precision headroom for overflow
    headroom: int64 holds n_nodes·scale·damping_pct, so 1e9 is safe
    beyond 1e8 nodes.

    Scale design: the loop-invariant input, the edges with their source's
    out-degree (_src, _dst, _deg), is built once under one lazy
    ``localCheckpoint``; it fills at the caller's action and every step
    reads it from there. Only the rank vector changes: each step is a join
    of the edges with the ranks on _src, a sum of ``rank div _deg`` per
    _dst, and a left join back onto the nodes. All steps compose into one
    lazy plan with no join hints (AQE picks the strategies), so calling
    this launches no job per step and pins no cache. The plan grows
    linearly in ``n_iter``.
    """
    e = edges.select(F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst"))
    ed = e.join(
        e.groupBy("_src").agg(F.count(F.lit(1)).alias("_deg")), "_src"
    ).localCheckpoint(eager=False)
    nodes = (
        ed.select(F.col("_src").alias("node"))
        .union(ed.select(F.col("_dst").alias("node")))
        .distinct()
    )
    base = scale * (100 - damping_pct) // 100
    ranks = nodes.select("node", F.lit(int(scale)).cast("long").alias("rank"))
    for _ in range(n_iter):
        sums = (
            ed.join(ranks.withColumnRenamed("node", "_src"), "_src")
            .groupBy(F.col("_dst").alias("node"))
            .agg(F.sum(F.expr("rank div _deg")).alias("_s"))
        )
        ranks = nodes.join(sums, "node", "left").select(
            "node",
            (
                F.lit(int(base))
                + F.expr(f"({damping_pct} * coalesce(_s, 0L)) div 100")
            ).cast("long").alias("rank"),
        )
    return ranks
