"""Distributed connected components over an edge list.

The dedup pipeline's clustering step (near-dup pairs -> keep/drop groups)
reduced to its graph core. Two interchangeable fixpoint algorithms behind
the same contract (``(node, component)``, component = min reachable id):

- ``connected_components`` — min-label propagation: each round is one equi
  shuffle join of the label table across the edge set plus a
  neighborhood-min aggregate. O(graph diameter) rounds, each
  shuffle-bounded by the EDGE count. The right default for LSH pair graphs
  (tiny diameter, 2-4 rounds).
- ``connected_components_star`` — alternating large-star/small-star
  (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC
  2014): each round rewires every node toward its neighborhood minimum,
  collapsing chains in O(log n) rounds instead of O(n). The scale path for
  pathological diameters (long chains) where propagation would serialize.

Both use a per-round ``localCheckpoint`` lineage barrier (plans stay O(1)
deep), probe convergence with a bounded count — never a driver collect of
data — and release old rounds' checkpointed storage as the loop advances,
so executor storage holds a small constant number of rounds of state at
any time.

Release discipline (r7): convergence probes run WITHOUT ``limit(1)`` and
releases are DEFERRED one extra round. A ``limit`` probe cancels the
job's remaining tasks the moment one row lands; those killed tasks still
post task-end events carrying accumulator updates for the probed RDD, and
if ``_release`` has already unpersisted it (letting the ContextCleaner
unregister its accumulators) the DAGScheduler logs a benign-but-ugly
"attempted to access non-existent accumulator" ERROR (observed in the r6
bench tail during an LSH recall probe). A full count completes only after
every task of the stage has finished, and deferring the unpersist until
one MORE round's eager action has run means any straggler event is drained
long before its accumulators disappear. The probe-side cost is nil: the
"changed" filter feeds a partial-aggregated count (map-side combine, one
long per partition), not a row materialization.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_MAX_ITERS = 20
# Below this many (directed) edges, rounds run on a single partition:
# per-round shuffle scheduling dominates compute for small graphs.
SMALL_GRAPH_EDGES = 500_000


def _release(df: DataFrame) -> None:
    """Free a localCheckpoint'ed DataFrame's executor storage (best-effort).

    ``Dataset.localCheckpoint`` persists an internal RDD that the public
    API exposes no unpersist for; the analyzed plan of the returned frame
    is the ``LogicalRDD`` wrapping it, so unpersist that RDD directly.
    Failure is harmless (storage is then reclaimed at session end).
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # pragma: no cover - py4j / internals drift
        pass


def _warn_unconverged(name: str, max_iters: int) -> None:
    warnings.warn(
        f"{name}: label fixpoint not reached within max_iters={max_iters}; "
        "components may be under-merged (graph diameter exceeds the round "
        "budget). Raise max_iters or use connected_components_star for "
        "high-diameter graphs.",
        RuntimeWarning,
        stacklevel=3,
    )


def connected_components(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = DEFAULT_MAX_ITERS,
    stats: dict | None = None,
) -> DataFrame:
    """Collapse an undirected edge list into components (min-label).

    Returns one row per node appearing in any edge: ``(node, component)``
    with ``component`` = the minimum node id reachable from it. Isolated
    nodes (in no pair) are absent by construction — callers union them in
    if singleton rows are wanted. Warns (RuntimeWarning) if the round
    budget is exhausted before the fixpoint is proven. Pass a ``stats``
    dict to receive ``{"rounds": N, "converged": bool}``.
    """
    edges = (
        pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .union(pairs.select(F.col(dst).alias("src"), F.col(src).alias("dst")))
        .localCheckpoint(eager=True)  # edge derivation runs once, not per round
    )
    # Size the round partitioning to the graph, not the session default:
    # LSH pair graphs are typically orders of magnitude smaller than the
    # corpus, and a 32-partition shuffle per round on a few thousand edges
    # is pure scheduling overhead (measured ~2.2s for a 1k-edge graph).
    # The count is free (edges is materialized). At genuinely large edge
    # counts the session's shuffle partitioning + AQE take over unchanged.
    if edges.count() <= SMALL_GRAPH_EDGES:
        edges = edges.coalesce(1)
    # Neighborhood-min init: lbl0 = min(self, direct neighbors) — same cost
    # as the plain distinct-nodes init (one groupBy over the edge set) but
    # starts the fixpoint one full round ahead.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least("src", "mn").alias("lbl"))
    ).localCheckpoint(eager=True)
    changed = 0
    rounds = 0
    deferred: list[DataFrame] = []  # release one round late (module docstring)
    for _ in range(max_iters):
        rounds += 1
        nbr_min = (
            edges.join(labels.withColumnRenamed("src", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        new_labels = (
            labels.join(nbr_min, "src", "left")
            .select(
                "src",
                F.least(F.col("lbl"), F.coalesce("nbr_lbl", "lbl")).alias("lbl"),
                (F.coalesce("nbr_lbl", "lbl") < F.col("lbl")).alias("chg"),
            )
        ).localCheckpoint(eager=True)  # barrier: O(1) lineage per round
        # Full count (no limit): all probe tasks finish before this returns,
        # so no killed-task stragglers reference soon-released RDDs.
        changed = new_labels.filter(F.col("chg")).count()
        for old in deferred:
            _release(old)
        deferred = [labels]  # prior round: free after ONE MORE eager action
        labels = new_labels.drop("chg")
        if changed == 0:
            break
    for old in deferred:
        _release(old)
    _release(edges)
    if stats is not None:
        stats.update({"rounds": rounds, "converged": changed == 0})
    if changed != 0:
        _warn_unconverged("connected_components", max_iters)
    return labels.select(F.col("src").alias("node"), F.col("lbl").alias("component"))


def connected_components_star(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = DEFAULT_MAX_ITERS,
    stats: dict | None = None,
) -> DataFrame:
    """Same contract as :func:`connected_components`, alternating
    large-star/small-star rounds (Kiveris'14) so even a length-n chain
    collapses in O(log n) rounds.

    Per round, over the current edge set E:

    - large-star: for each node u with (symmetrized) neighborhood N(u) and
      m = min(N(u) + {u}), rewire every LARGER neighbor v > u to (v, m);
    - small-star: orient edges larger->smaller, and for each node u with
      smaller-neighbor set S(u), m = min(S(u)), rewire (v, m) for every
      v in S(u) + {u} except m itself.

    Both steps are a groupBy-min plus an equi join back across the edge
    set — shuffle volume O(|E|), never all-pairs — and both preserve
    connectivity and the node set, so the fixpoint is the star forest
    (child -> component min). Convergence is reached when a full round
    leaves the edge set unchanged (count + exceptAll 1-row probe).
    """
    edges = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )  # canonical larger->smaller
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = edges.count()
    if n_edges == 0:
        if stats is not None:
            stats.update({"rounds": 0, "converged": True})
        return edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
    if n_edges <= SMALL_GRAPH_EDGES:  # see connected_components
        edges = edges.coalesce(1)
    converged = False
    rounds = 0
    deferred: list[DataFrame] = []  # release one round late (module docstring)
    for _ in range(max_iters):
        rounds += 1
        # --- large-star over the symmetrized neighborhoods ---------------
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            # Lazy: both small-star consumers (groupBy-min + join) sit in
            # the same job, so this materializes once there — one fewer
            # driver-synchronous job per round than an eager barrier.
            .localCheckpoint(eager=False)
        )
        # --- small-star on larger->smaller orientation -------------------
        smins = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ls.join(smins, "u")
            .select(
                F.explode(F.array(F.col("u"), F.col("v"))).alias("n"), F.col("m")
            )
            .filter(F.col("n") != F.col("m"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_count = ss.count()
        # Full count (no limit) — see module docstring: a limit probe's
        # cancelled tasks post late accumulator events for RDDs the release
        # below would have already unpersisted.
        changed = (
            new_count != n_edges or ss.exceptAll(edges).count() > 0
        )
        for old in deferred:
            _release(old)
        deferred = [ls, edges]  # free after one more round's eager action
        edges, n_edges = ss, new_count
        if not changed:
            converged = True
            break
    for old in deferred:
        _release(old)
    if stats is not None:
        stats.update({"rounds": rounds, "converged": converged})
    if not converged:
        _warn_unconverged("connected_components_star", max_iters)
    # Fixpoint edge set is the star forest child->root; roots appear only
    # on the smaller side. Emit children plus one row per root.
    out = edges.select(
        F.col("u").alias("node"), F.col("v").alias("component")
    ).unionByName(
        edges.select(F.col("v").alias("node"), F.col("v").alias("component")).distinct()
    )
    return out
