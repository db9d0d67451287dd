"""Recursive-query surface: one fixpoint loop, one small-graph BFS
kernel, and the transitive closures of parent graphs built on them.

Spark has no ``WITH RECURSIVE``; this module provides the standard
substitution. Each closure has two paths, chosen by the size of its
input edge set against the session's own
``spark.sql.autoBroadcastJoinThreshold``:

- **Kernel** (the edges fit the threshold, at 16 bytes an edge: 4.19M
  edges at the engine session's 64 MB, 655k at Spark's default 10 MB).
  One job collects the edges, numpy builds a CSR adjacency on the driver,
  and ONE ``mapInArrow`` that carries it (broadcast above 1 MB) runs
  over ``defaultParallelism`` strided slices of the nodes. Each slice
  runs a level-synchronous multi-source BFS (:func:`_bfs`): BFS levels
  are exact minimum distances, and the source is not marked visited,
  so a cycle of length L yields its ``(n, n, L)`` self-row. One job
  materialises the kernel's output and observes ``max(dist)`` (the
  depth cap) and whether some node is its own ancestor (the functional
  closure's cycle check), so the closure builds in two jobs. A round
  loop costs several Spark jobs per round, and on graphs this size the
  job overhead, not the data, is most of the cost. The bound is
  measured, not assumed: on 4 cores the kernel builds the closure of a
  150k-node, 300k-edge DAG (13M pairs) in about 6 s against 100–146 s
  for the loop, and the deepest input the default cap allows, a
  4096-node chain (8.4M pairs), no slower than the loop. Above the
  bound the loop pays for the probe, the collect of the first cap+1
  edges: about 2.3 s at 64 MB and 0.6 s at 10 MB, where the loop took
  10–146 s on the 300k-edge DAGs above.
- **Loop** (more edges than that, or a threshold of -1):
  :func:`fixpoint`, the one converge-or-raise round loop of the
  package. Each round is one lazily checkpointed frame, materialised by
  ONE job whose ``DataFrame.observe`` metrics answer "converged?" (and,
  for the functional closure, "cycle?"), under a round cap that raises
  "did not converge". The dedup connected components
  (``dedup.dedup_clusters``) and the k-core peel
  (``queries/dedup.q_doc_graph_kcore``) run on it too.

Where a recursive CTE walks one edge per pass (O(depth) sequential
joins — at 100 TB depth-30 chains mean 30 shuffles), both loop closures
double their reach every round, so a closure materializes in about
log2(max_depth) joins. Two closures, one per graph shape:

- :func:`ancestor_closure` — functional graphs (each node has at most
  one parent: org charts, referral chains, category trees). The loop
  path is pointer jumping (Wyllie, 1979) over path arrays: the state is
  ONE row per node, ``(node, path, done)``, where ``path`` lists the
  node's first ancestors nearest first. A round joins every unfinished
  row to the state of the last ancestor on its path and appends that
  ancestor's path, so path length doubles while a round moves n rows,
  not the n·depth closure. One ``posexplode`` expands the result at
  the end.
- :func:`min_dist_closure` — multi-parent DAGs (BOM graphs, category
  DAGs), where a pair is reachable along many paths. The loop path is
  semi-naive min doubling over
  ``(node, ancestor, dist)`` pairs: each round composes only the DELTA
  (pairs new or improved last round) with the closure, in both orders,
  and folds closure ∪ fwd ∪ bwd through one (node, ancestor)
  min-aggregation carrying an ``old`` flag column, so the next delta is
  a FILTER over the aggregated frame.

Both paths keep ``max_rounds`` as the depth cap 2^max_rounds, and both
raise at build time.

Fixed-count loops (pagerank, BPE merges, k-means, farthest-point
sampling) run a set number of rounds with no convergence flag, so they
unroll their own rounds instead of going through :func:`fixpoint`.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

_CYCLIC = (
    "ancestor_closure did not converge: cyclic input "
    "(a node is its own ancestor)"
)


def _not_converged(what: str, rounds: int) -> RuntimeError:
    return RuntimeError(
        f"{what} did not converge in {rounds} rounds: the input needs "
        "more rounds than the cap, or has no fixed point"
    )


def _materialise(df: DataFrame, flags: Sequence[Column]) -> tuple[DataFrame, dict]:
    """Checkpoint ``df`` lazily and compute it by one noop write that
    carries ``flags`` (named aggregate columns over its rows) as
    ``DataFrame.observe`` metrics; return the checkpointed frame, which
    later reads take instead of re-running the lineage, and the
    metrics."""
    df = df.localCheckpoint(eager=False)
    obs = Observation()
    df.observe(obs, *flags).write.format("noop").mode("overwrite").save()
    return df, obs.get


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    flags: Sequence[Column],
    done: Callable[[dict], bool],
    max_rounds: int,
    what: str,
) -> DataFrame:
    """Iterate ``state = step(state)`` until ``done`` holds; return the
    final state.

    Each round's frame is materialised by one job (:func:`_materialise`)
    whose observed ``flags`` are that round's convergence flags.
    ``done`` gets that round's metrics as a dict (an aggregate over no
    rows gives its empty value, e.g. ``None`` for min/max) and may
    raise. Rounds past ``max_rounds`` would only hide a non-converging
    input, so exhausting the cap raises ``RuntimeError``."""
    for _ in range(max_rounds):
        state, metrics = _materialise(step(state), flags)
        if done(metrics):
            return state
    raise _not_converged(what, max_rounds)


def _small_graph(edges: DataFrame):
    """The ``(node, anc)`` edges as ``(ids, u, v)`` — the sorted distinct
    node ids and each edge's endpoints as indices into them — when at
    most ``autoBroadcastJoinThreshold // 16`` edges (two longs each)
    exist and none has a null end; else ``None``, and the caller runs
    its loop. One job: the ``limit`` keeps the collect bounded."""
    import numpy as np

    spark = edges.sparkSession
    cap = spark._jconf.autoBroadcastJoinThreshold() // 16 + 1
    if cap <= 0:
        return None
    t = (
        edges.select(
            F.col("node").cast("long").alias("node"),
            F.col("anc").cast("long").alias("anc"),
        )
        .limit(cap)
        .toArrow()
    )
    if t.num_rows == cap or t.column(0).null_count or t.column(1).null_count:
        return None
    node, anc = t.column(0).to_numpy(), t.column(1).to_numpy()
    ids = np.unique(np.concatenate((node, anc)))
    return ids, np.searchsorted(ids, node), np.searchsorted(ids, anc)


# Sources per _bfs call: a call holds the keys it has emitted, so this
# bounds a task's memory by what 4096 sources reach, not by the closure.
# A 600k-node DAG's slice (150k sources, 12.8M pairs) ran in 184 MB and
# 2.7 s this way, against 682 MB and 3.7 s as one call.
_BFS_SOURCES = 4096


def _bfs(ids, off, adj, src, max_level: int) -> Iterator:
    """Level-synchronous BFS from every node index in ``src`` at once
    over the CSR adjacency ``(off, adj)``; yields one Arrow batch of
    ``(node, ancestor, dist)`` ids per level. A frontier entry is a key
    ``slot * n + node`` (slot = position of its source in ``src``). The
    keys emitted so far are kept as sorted runs, each more than twice
    the size of the next: a level's keys become a new run and merge into
    the last run while that one is at most twice as large, so there are
    O(log closure) runs and each key is merged O(log closure) times.
    Re-sorting one run of every key each level costs O(depth × closure)
    instead: 71 s against 3 s for the 1024 deepest sources of a
    4096-node chain, on one core. Sources start unseen, so a source
    reached again over a cycle is emitted at its cycle length. Stops
    after level ``max_level``."""
    import numpy as np
    import pyarrow as pa

    n = len(ids)
    slot, at = np.arange(len(src)), src
    runs = []
    level = 0
    while at.size and level < max_level:
        level += 1
        deg = off[at + 1] - off[at]
        hop = adj[np.repeat(off[at] - np.cumsum(deg) + deg, deg) + np.arange(deg.sum())]
        key = np.unique(np.repeat(slot, deg) * n + hop)
        for run in runs:
            key = key[run.take(np.searchsorted(run, key), mode="clip") != key]
        runs.append(key)
        while len(runs) > 1 and runs[-2].size <= 2 * runs[-1].size:
            top = runs.pop()  # np.sort's stable kind merges two sorted runs
            runs[-1] = np.sort(np.concatenate((runs[-1], top)), kind="stable")
        slot, at = np.divmod(key, n)
        if key.size:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids[src[slot]]),
                    pa.array(ids[at]),
                    pa.array(np.full(key.size, level, np.int64)),
                ],
                names=["node", "ancestor", "dist"],
            )


def _bfs_closure(edges: DataFrame, graph, max_rounds: int, what: str) -> DataFrame:
    """The ``(node, ancestor, dist)`` closure of ``graph`` (from
    :func:`_small_graph`), materialised: one ``mapInArrow`` runs
    :func:`_bfs` over ``defaultParallelism`` strided slices of the nodes
    that have a parent (strided, because ids often grow with depth, as
    in a chain, where a contiguous range of the deepest ids would carry
    most of the closure), ``_BFS_SOURCES`` sources per BFS, and one job
    (:func:`_materialise`) computes it while observing ``max(dist)``
    and whether some node is its own ancestor.
    The CSR adjacency (distinct edges sorted by source, ``off`` its row
    offsets) ships inside the kernel's function, which Spark itself
    broadcasts once it pickles to more than
    ``spark.broadcast.UDFCompressionThreshold`` (1 MB); an explicit
    ``sc.broadcast`` would leave one temp file per call until the
    context stops. BFS stops at depth 2^max_rounds + 1, so an input too
    deep for the cap shows as a ``dist`` above 2^max_rounds, which
    raises "did not converge"; a self-pair raises the cyclic-input
    error when ``what`` is ``ancestor_closure``."""
    import numpy as np

    spark = edges.sparkSession
    ids, u, v = graph
    u, v = np.divmod(np.unique(u * len(ids) + v), len(ids))
    off = np.searchsorted(u, np.arange(len(ids) + 1))
    src = np.unique(u)
    parts, max_level = spark.sparkContext.defaultParallelism, 2**max_rounds + 1

    def run(batches):
        for b in batches:
            for p in b.column(0).to_pylist():
                part = src[p::parts]
                for i in range(0, len(part), _BFS_SOURCES):
                    chunk = part[i : i + _BFS_SOURCES]
                    yield from _bfs(ids, off, v, chunk, max_level)

    out, m = _materialise(
        spark.range(parts, numPartitions=parts).mapInArrow(
            run, "node long, ancestor long, dist long"
        ),
        [
            F.max("dist").alias("max_dist"),
            F.max((F.col("node") == F.col("ancestor")).cast("int")).alias("any_self"),
        ],
    )
    if what == "ancestor_closure" and m["any_self"]:
        raise RuntimeError(_CYCLIC)
    if (m["max_dist"] or 0) > 2**max_rounds:
        raise _not_converged(what, max_rounds + 1)
    return out


def ancestor_closure(edges: DataFrame, max_rounds: int = 12) -> DataFrame:
    """Full ancestor closure of a functional parent graph.

    Input: ``(node, anc)`` — one parent edge per non-root node; the
    graph must be acyclic. Output: ``(node, ancestor, dist)`` — every
    ancestor of every node with its path length, exactly the rows a
    linear recursive CTE produces. A cycle, or a node deeper than
    2^max_rounds, raises "did not converge" at build time.

    Kernel path (the edges fit the broadcast threshold and no node has
    two parent rows): on a forest the BFS kernel's rows are the walk's
    rows; a cycle shows as a self-pair and a node too deep as a
    ``dist`` above 2^max_rounds, both observed by the job that
    materialises the kernel's output.

    Loop path invariant: at the start of round k every unfinished row
    holds its first 2^(k-1) ancestors, and so does the ancestor it joins
    to unless that one is done (its path is then complete). A row is
    done when the joined ancestor is a root (it has no row) or is itself
    done. A node at depth d ≤ 2^max_rounds is done within
    ``max_rounds + 1`` rounds. A cycle never reaches a root; once the
    paths are as long as the cycle some path holds its own node, which
    the round's ``any_self`` flag reports and the loop raises on.
    """
    import numpy as np

    graph = _small_graph(edges)
    if graph is not None and len(np.unique(graph[1])) == len(graph[1]):
        return _bfs_closure(edges, graph, max_rounds, "ancestor_closure")

    def step(state: DataFrame) -> DataFrame:
        s, t = state.filter(~F.col("done")).alias("s"), state.alias("t")
        root = F.col("t.node").isNull()
        jumped = s.join(
            t, F.element_at(F.col("s.path"), -1) == F.col("t.node"), "left"
        ).select(
            F.col("s.node").alias("node"),
            F.when(root, F.col("s.path"))
            .otherwise(F.concat(F.col("s.path"), F.col("t.path")))
            .alias("path"),
            (root | F.col("t.done")).alias("done"),
        )
        return state.filter(F.col("done")).unionByName(jumped)

    def done(m: dict) -> bool:
        if m["any_self"]:
            raise RuntimeError(_CYCLIC)
        return m["all_done"] is None or m["all_done"] == 1

    state = fixpoint(
        edges.select(
            F.col("node").cast("long").alias("node"),
            F.array(F.col("anc").cast("long")).alias("path"),
            F.lit(False).alias("done"),
        ).localCheckpoint(eager=False),
        step,
        [
            F.min(F.col("done").cast("int")).alias("all_done"),
            F.max(F.array_contains("path", F.col("node")).cast("int")).alias(
                "any_self"
            ),
        ],
        done,
        max_rounds + 1,
        "ancestor_closure",
    )
    return state.select(
        "node", F.posexplode("path").alias("pos", "ancestor")
    ).select(
        "node",
        "ancestor",
        (F.col("pos") + 1).cast("long").alias("dist"),
    )


def min_dist_closure(edges: DataFrame, max_rounds: int = 12) -> DataFrame:
    """Shortest-distance closure of a multi-parent DAG — the
    non-functional-graph recursion case (BOM graphs, category DAGs,
    citation ancestries, where a node has SEVERAL parent edges and a
    pair is reachable along many paths of different lengths).

    Input: ``(node, anc)`` parent edges (repeats allowed). Output:
    ``(node, ancestor, dist)`` with dist = the MINIMUM edge count over
    all paths — exactly the rows a recursive CTE plus
    ``GROUP BY node, ancestor → min(dist)`` produces. CYCLES are
    well-defined here: min() gives the doubling a true fixpoint
    (shortest-WALK distances, finite for every reachable pair), so a
    cycle of length L simply yields ``(n, n, L)`` self-rows instead of
    diverging — a recursive CTE needs an explicit depth guard for the
    same input. A shortest distance above 2^max_rounds raises "did not
    converge" at build time.

    Kernel path (the edges fit the broadcast threshold): the BFS kernel's
    output is materialised by one job that also observes its
    ``max(dist)``; BFS stops one level past the cap, so that maximum
    exceeds 2^max_rounds exactly when the loop would run out of rounds.

    Loop path invariant: after round k every pair whose shortest
    distance is ≤ 2^k carries that exact distance — split a shortest
    path at its midpoint: both halves are shortest paths of length
    ≤ 2^(k-1), exact by induction; the composition records their sum,
    and min() can keep no overestimate because every recorded dist is a
    realizable path length. Completeness of the delta composition: any
    shortest path of length ≤ 2^(k+1) splits into two exact halves
    ≤ 2^k, and if both halves were already exact a round earlier their
    composition was produced then — so at least one half sits in the
    delta. Detecting convergence costs one extra no-change round, so the
    loop runs ``max_rounds + 1`` rounds.
    """
    graph = _small_graph(edges)
    if graph is not None:
        return _bfs_closure(edges, graph, max_rounds, "min_dist_closure")

    improved = F.col("old").isNull() | (F.col("dist") < F.col("old"))

    def step(state: DataFrame) -> DataFrame:
        closure = state.select("node", "ancestor", "dist")
        # the first round's state has no ``old`` column: every pair is
        # new, so delta == closure and the two composition orders
        # produce identical row sets — one join suffices
        first = "old" not in state.columns
        delta = (
            closure
            if first
            else state.filter(improved).select("node", "ancestor", "dist")
        )
        x, y = delta.alias("x"), closure.alias("y")
        cand = x.join(y, F.col("x.ancestor") == F.col("y.node")).select(
            F.col("x.node").alias("node"),
            F.col("y.ancestor").alias("ancestor"),
            (F.col("x.dist") + F.col("y.dist")).alias("dist"),
        )
        if not first:
            p, q = closure.alias("p"), delta.alias("q")
            cand = cand.unionByName(
                p.join(q, F.col("p.ancestor") == F.col("q.node")).select(
                    F.col("p.node").alias("node"),
                    F.col("q.ancestor").alias("ancestor"),
                    (F.col("p.dist") + F.col("q.dist")).alias("dist"),
                )
            )
        return (
            closure.withColumn("old", F.col("dist"))
            .unionByName(cand.withColumn("old", F.lit(None).cast("long")))
            .groupBy("node", "ancestor")
            .agg(F.min("dist").alias("dist"), F.min("old").alias("old"))
        )

    closure = (
        edges.select(
            F.col("node").cast("long").alias("node"),
            F.col("anc").cast("long").alias("ancestor"),
            F.lit(1).cast("long").alias("dist"),
        )
        .groupBy("node", "ancestor")
        .agg(F.min("dist").alias("dist"))
        .localCheckpoint(eager=False)
    )
    return fixpoint(
        closure,
        step,
        [F.max(improved.cast("int")).alias("any_new")],
        lambda m: not m["any_new"],
        max_rounds + 1,
        "min_dist_closure",
    ).select("node", "ancestor", "dist")
