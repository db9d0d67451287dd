"""Recursive-query surface: one fixpoint loop, the small-graph kernels,
and the transitive closures of parent graphs built on them.

Spark has no ``WITH RECURSIVE``; this module provides the standard
substitution. Each closure, and each graph query of the package that
iterates (the dedup connected components ``dedup.dedup_clusters``, and
``queries/dedup``'s PageRank and k-core peel), has two paths, chosen by
the size of its input edge set against the session's own
``spark.sql.autoBroadcastJoinThreshold``:

- **Kernel** (the edges fit the threshold, at 16 bytes an edge: 4.19M
  edges at the engine session's 64 MB, 655k at Spark's default 10 MB).
  One job collects the edges (:func:`_small_graph`) and numpy indexes
  them on the driver. A round loop costs one or more Spark jobs per
  round, and on graphs this size the job overhead, not the data, is
  most of the cost.

  The closures build a CSR adjacency (the functional closure: a parent
  vector), and ONE ``mapInArrow`` that carries it (broadcast above
  1 MB) runs over ``defaultParallelism`` strided slices of the nodes
  (:func:`_kernel`). For :func:`min_dist_closure` each slice runs a
  level-synchronous multi-source BFS (:func:`_bfs`): BFS levels are
  exact minimum distances, and the source is not marked visited, so a
  cycle of length L yields its ``(n, n, L)`` self-row. For
  :func:`ancestor_closure` pointer jumping over the parent vector
  first rejects a cycle on the driver, then each slice walks the parent
  vector (:func:`_paths`) and emits one ``(node, path)`` row per node,
  the loop path's state. One job materialises the kernel's output and
  observes the depth cap, so a closure builds in two jobs. The bound
  is measured, not assumed: on 4 cores the kernel builds the closure of
  a 150k-node, 300k-edge DAG (13M pairs) in about 6 s against 100–146 s
  for the loop, and the deepest input the default cap allows, a
  4096-node chain (8.4M pairs), no slower than the loop. Above the
  bound the loop pays for the probe, the collect of the first cap+1
  edges: about 2.3 s at 64 MB and 0.6 s at 10 MB, where the loop took
  10–146 s on the 300k-edge DAGs above.

  The graph queries take the undirected pair graph (:func:`pair_graph`)
  and run their rounds in numpy on the driver, the converging ones
  under :func:`local_fixpoint` (the same cap and raise as
  :func:`fixpoint`); each returns an Arrow-built local frame, so it
  builds in the one collect job.
- **Loop** (more edges than that, a threshold of -1, or an edge with a
  null end): :func:`fixpoint`, the one converge-or-raise round loop of
  the package. Each round is one lazily checkpointed frame,
  materialised by ONE job whose ``DataFrame.observe`` metrics answer
  "converged?" (and, for the functional closure, "cycle?"), under a
  round cap that raises "did not converge". The connected components
  and the k-core peel run on it too; PageRank runs a fixed number of
  iterations with no convergence flag, so its loop unrolls them, one
  lazily checkpointed rank vector each.

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
  not the n·depth closure. On both paths one lazy ``posexplode``
  expands the result at the end.
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

Other fixed-count loops (BPE merges, k-means, farthest-point sampling)
run a set number of rounds with no convergence flag, so they unroll
their own rounds instead of going through :func:`fixpoint`.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

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


def pair_graph(pairs: DataFrame):
    """The undirected graph of the ``(doc_a, doc_b)`` pairs for a
    driver-side kernel: ``(ids, s, t, key)``, where ``s``/``t`` hold
    every pair in both orientations as indices into the sorted node ids
    (repeated pairs kept) and ``key`` is the Spark type the two columns
    union to, the key type of the Spark loop's output. ``None`` where
    :func:`_small_graph` gives ``None`` (more pairs than the bound, a
    threshold of -1, a null end), or where the key is not an integer
    type, whose values the cast to long would not keep; the caller then
    runs its Spark loop."""
    import numpy as np

    key = (
        pairs.select("doc_a")
        .unionByName(pairs.select(F.col("doc_b").alias("doc_a")))
        .schema[0]
        .dataType
    )
    if not isinstance(key, IntegralType):
        return None
    graph = _small_graph(
        pairs.select(F.col("doc_a").alias("node"), F.col("doc_b").alias("anc"))
    )
    if graph is None:
        return None
    ids, a, b = graph
    return ids, np.concatenate((a, b)), np.concatenate((b, a)), key


def local_fixpoint(
    state,
    step: Callable,
    done: Callable[[dict], bool],
    max_rounds: int,
    what: str,
):
    """:func:`fixpoint` on the driver: ``step`` maps a state to the next
    state and that round's metrics, which ``done`` reads as it reads a
    round's observed flags, under the same cap and the same raise."""
    for _ in range(max_rounds):
        state, metrics = step(state)
        if done(metrics):
            return state
    raise _not_converged(what, max_rounds)


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


def _kernel(spark, src, walk, schema: str, flags: Sequence[Column]):
    """ONE ``mapInArrow`` that runs ``walk`` (a numpy generator of Arrow
    batches in ``schema``) over ``defaultParallelism`` strided slices of
    the node indices ``src``, ``_BFS_SOURCES`` sources per call, and one
    job (:func:`_materialise`) that computes it while observing
    ``flags``; returns the materialised frame and the metrics. Slices
    are strided because ids often grow with depth, as in a chain, where
    a contiguous range of the deepest ids would carry most of the
    closure. The graph ``walk`` closes over ships inside the kernel's
    function, which Spark itself broadcasts once it pickles to more than
    ``spark.broadcast.UDFCompressionThreshold`` (1 MB); an explicit
    ``sc.broadcast`` would leave one temp file per call until the
    context stops."""
    parts = spark.sparkContext.defaultParallelism

    def run(batches):
        for b in batches:
            for p in b.column(0).to_pylist():
                part = src[p::parts]
                for i in range(0, len(part), _BFS_SOURCES):
                    yield from walk(part[i : i + _BFS_SOURCES])

    return _materialise(
        spark.range(parts, numPartitions=parts).mapInArrow(run, schema), flags
    )


def _paths(ids, par, src, max_level: int) -> Iterator:
    """One Arrow batch of ``(node, path)`` for the node indices ``src``
    of an acyclic functional graph (``par``: each node's parent index,
    -1 at a root): ``path`` lists the ids of the node's first
    ``max_level`` ancestors nearest first."""
    import numpy as np
    import pyarrow as pa

    slot, at = np.arange(len(src)), par[src]
    slots, hops = [], []
    while at.size and len(hops) < max_level:
        slots.append(slot)
        hops.append(at)
        go = par[at] >= 0
        slot, at = slot[go], par[at[go]]
    slot = np.concatenate(slots)
    order = np.argsort(slot, kind="stable")  # a slot's hops stay nearest first
    off = np.concatenate(([0], np.cumsum(np.bincount(slot, minlength=len(src)))))
    yield pa.RecordBatch.from_arrays(
        [
            pa.array(ids[src]),
            pa.ListArray.from_arrays(
                pa.array(off, pa.int32()), pa.array(ids[np.concatenate(hops)[order]])
            ),
        ],
        names=["node", "path"],
    )


def ancestor_closure(edges: DataFrame, max_rounds: int = 12) -> DataFrame:
    """Full ancestor closure of a functional parent graph.

    Input: ``(node, anc)`` — one parent edge per non-root node; the
    graph must be acyclic. Output: ``(node, ancestor, dist)`` — every
    ancestor of every node with its path length, exactly the rows a
    linear recursive CTE produces. A cycle, or a node deeper than
    2^max_rounds, raises "did not converge" at build time.

    Kernel path (the edges fit the broadcast threshold and no node has
    two parent rows): pointer jumping over the parent vector on the
    driver raises on a cycle, in O(log n) numpy passes, before any walk
    starts: a node that only leads into a cycle would otherwise walk
    the whole depth cap. Then each node's path is walked up the parent
    vector (:func:`_paths`), at most 2^max_rounds + 1 ancestors, and
    the ``(node, path)`` rows are the loop's final state. A node too
    deep shows as a path longer than 2^max_rounds, observed by the job
    that materialises the paths.

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
        ids, u, v = graph
        n = len(ids)
        par = np.full(n, -1)
        par[u] = v
        # jump is each node's hops-th ancestor, or n once its walk has
        # passed a root; a walk still inside after more than n hops is
        # on a cycle or leads into one
        jump, hops = np.append(np.where(par < 0, n, par), n), 1
        while hops <= n and (jump < n).any():
            jump, hops = jump[jump], 2 * hops
        if (jump < n).any():
            raise RuntimeError(_CYCLIC)
        state, m = _kernel(
            edges.sparkSession,
            np.sort(u),
            lambda src: _paths(ids, par, src, 2**max_rounds + 1),
            "node long, path array<long>",
            [F.max(F.size("path")).alias("depth")],
        )
        if (m["depth"] or 0) > 2**max_rounds:
            raise _not_converged("ancestor_closure", max_rounds + 1)
        return _explode(state)

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
    return _explode(state)


def _explode(state: DataFrame) -> DataFrame:
    """The ``(node, ancestor, dist)`` rows of ``(node, path)`` rows."""
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
    import numpy as np

    graph = _small_graph(edges)
    if graph is not None:
        ids, u, v = graph
        u, v = np.divmod(np.unique(u * len(ids) + v), len(ids))
        off = np.searchsorted(u, np.arange(len(ids) + 1))
        out, m = _kernel(
            edges.sparkSession,
            np.unique(u),
            lambda src: _bfs(ids, off, v, src, 2**max_rounds + 1),
            "node long, ancestor long, dist long",
            [F.max("dist").alias("max_dist")],
        )
        if (m["max_dist"] or 0) > 2**max_rounds:
            raise _not_converged("min_dist_closure", max_rounds + 1)
        return out

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
