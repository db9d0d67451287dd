"""Recursive-query surface: one fixpoint loop, and the transitive
closures of parent graphs built on it.

Spark has no ``WITH RECURSIVE``; this module provides the standard
substitution. :func:`fixpoint` is the one converge-or-raise round loop
of the package: each round is one lazily checkpointed frame,
materialised by ONE job whose ``DataFrame.observe`` metrics answer
"converged?" (and, for the functional closure, "cycle?"), under a round
cap that raises "did not converge". The closures here, the dedup
connected components (``dedup.dedup_clusters``) and the k-core peel
(``queries/dedup.q_doc_graph_kcore``) all run on it.

Where a recursive CTE walks one edge per pass (O(depth) sequential
joins — at 100 TB depth-30 chains mean 30 shuffles), both closures
double their reach every round, so a closure materializes in about
log2(max_depth) joins. Two closures, one per graph shape:

- :func:`ancestor_closure` — functional graphs (each node has at most
  one parent: org charts, referral chains, category trees). Pointer
  jumping (Wyllie, 1979) over path arrays: the state is ONE row per
  node, ``(node, path, done)``, where ``path`` lists the node's first
  ancestors nearest first. A round joins every unfinished row to the
  state of the last ancestor on its path and appends that ancestor's
  path, so path length doubles while a round moves n rows, not the
  n·depth closure. One ``posexplode`` expands the result at the end.
- :func:`min_dist_closure` — multi-parent DAGs (BOM graphs, category
  DAGs), where a pair is reachable along many paths. Semi-naive min
  doubling over ``(node, ancestor, dist)`` pairs: each round composes
  only the DELTA (pairs new or improved last round) with the closure,
  in both orders, and folds closure ∪ fwd ∪ bwd through one
  (node, ancestor) min-aggregation carrying an ``old`` flag column, so
  the next delta is a FILTER over the aggregated frame.

Fixed-count loops (pagerank, BPE merges, k-means, farthest-point
sampling) run a set number of rounds with no convergence flag, so they
unroll their own rounds instead of going through :func:`fixpoint`.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


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

    Each round's frame is checkpointed lazily and materialised by one
    noop write that carries ``flags`` (named aggregate columns over the
    round's rows) as ``DataFrame.observe`` metrics, so the job that
    computes the round also computes its convergence flags, and the
    next round reads the checkpoint instead of re-running the lineage.
    ``done`` gets that round's metrics as a dict (an aggregate over no
    rows gives its empty value, e.g. ``None`` for min/max) and may
    raise. Rounds past ``max_rounds`` would only hide a non-converging
    input, so exhausting the cap raises ``RuntimeError``."""
    for _ in range(max_rounds):
        state = step(state).localCheckpoint(eager=False)
        obs = Observation()
        state.observe(obs, *flags).write.format("noop").mode("overwrite").save()
        if done(obs.get):
            return state
    raise RuntimeError(
        f"{what} did not converge in {max_rounds} rounds: the input needs "
        "more rounds than the cap, or has no fixed point"
    )


def ancestor_closure(edges: DataFrame, max_rounds: int = 12) -> DataFrame:
    """Full ancestor closure of a functional parent graph.

    Input: ``(node, anc)`` — one parent edge per non-root node; the
    graph must be acyclic. Output: ``(node, ancestor, dist)`` — every
    ancestor of every node with its path length, exactly the rows a
    linear recursive CTE produces.

    Invariant: at the start of round k every unfinished row holds its
    first 2^(k-1) ancestors, and so does the ancestor it joins to
    unless that one is done (its path is then complete). A row is done
    when the joined ancestor is a root (it has no row) or is itself
    done. A node at depth d ≤ 2^max_rounds is done within
    ``max_rounds + 1`` rounds. A cycle never reaches a root; once the
    paths are as long as the cycle some path holds its own node, which
    the round's ``any_self`` flag reports and the loop raises on.
    """

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
            raise RuntimeError(
                "ancestor_closure did not converge: cyclic input "
                "(a node is its own ancestor)"
            )
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
    same input.

    Invariant: after round k every pair whose shortest distance is
    ≤ 2^k carries that exact distance — split a shortest path at its
    midpoint: both halves are shortest paths of length ≤ 2^(k-1), exact
    by induction; the composition records their sum, and min() can keep
    no overestimate because every recorded dist is a realizable path
    length. Completeness of the delta composition: any shortest path of
    length ≤ 2^(k+1) splits into two exact halves ≤ 2^k, and if both
    halves were already exact a round earlier their composition was
    produced then — so at least one half sits in the delta. Detecting
    convergence costs one extra no-change round, so the loop runs
    ``max_rounds + 1`` rounds.
    """
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
