"""Driver-side graph kernels: below the broadcast bound, connected
components (``dedup.dedup_clusters``), PageRank and the k-core peel
(``queries/dedup``) run in numpy on one collected edge list. They must
give the rows their Spark loops give at a threshold of -1, raise where
the loops raise, and build in one job."""

from __future__ import annotations

import contextlib
import itertools

import numpy as np
import pytest

_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"
_GROUPS = itertools.count()


def _random(seed, n, m):
    rng = np.random.default_rng(seed)
    a, b = rng.integers(0, n, m), rng.integers(0, n, m)
    return [(int(x), int(y)) for x, y in zip(a, b) if x != y]


_SHAPES = {
    "random_sparse": (_random(1, 200, 150), "long"),
    "random_dense": (_random(2, 40, 160), "long"),
    "random_mid": (_random(3, 80, 100), "int"),
    "chain_200": ([(i, i + 1) for i in range(200)], "long"),
    "star": ([(0, i) for i in range(1, 40)], "int"),
    "repeated_pairs": ([(1, 2), (1, 2), (2, 3), (3, 1), (3, 1), (7, 8), (7, 8)], "long"),
    "isolated_pair": ([(20, 21)], "long"),
}


@contextlib.contextmanager
def _loop_path(spark):
    had = spark.conf.get(_THRESHOLD)
    spark.conf.set(_THRESHOLD, "-1")
    try:
        yield
    finally:
        spark.conf.set(_THRESHOLD, had)


def _jobs(spark, build):
    """The number of Spark jobs ``build()`` runs, under a fresh job
    group whose id no other test module uses."""
    sc = spark.sparkContext
    gid = f"test-graph-kernels-{next(_GROUPS)}"
    sc.setJobGroup(gid, gid)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def _outcome(build):
    """``(dtypes, sorted rows)`` of ``build()``, or the error it raised."""
    try:
        df = build()
    except RuntimeError as e:
        return str(e)
    return df.dtypes, sorted(tuple(r) for r in df.collect())


def _both_paths(spark, build):
    kernel = _outcome(build)
    with _loop_path(spark):
        loop = _outcome(build)
    return kernel, loop


def _pairs(spark, shape):
    rows, key = _SHAPES[shape]
    return spark.createDataFrame(rows, f"doc_a {key}, doc_b {key}")


def _graph_queries(spark, monkeypatch, pairs):
    from osm_poi_database_maker_spark.queries import dedup as D

    monkeypatch.setattr(D, "q_doc_ngram_jaccard_pairs", lambda s_, sf_: pairs)
    return D


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_components_kernel_matches_the_loop(spark, shape):
    from osm_poi_database_maker_spark.dedup import dedup_clusters

    pairs = _pairs(spark, shape)
    kernel, loop = _both_paths(spark, lambda: dedup_clusters(pairs))
    assert kernel == loop
    assert kernel[1]


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_pagerank_kernel_matches_the_loop(spark, monkeypatch, shape):
    D = _graph_queries(spark, monkeypatch, _pairs(spark, shape))
    kernel, loop = _both_paths(spark, lambda: D.q_doc_graph_pagerank(spark, "x"))
    assert kernel[0] == loop[0]
    assert [r[0] for r in kernel[1]] == [r[0] for r in loop[1]]
    # at most one unit of the 6th decimal apart, where the two sums round
    # to either side of a boundary (1e-12: the float slack of that unit)
    assert max(abs(k[1] - l[1]) for k, l in zip(kernel[1], loop[1])) <= 1e-6 + 1e-12
    # ranks sum to 1 on a graph without dangling vertices
    assert sum(r[1] for r in kernel[1]) == pytest.approx(1.0, abs=1e-3)


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_kcore_kernel_matches_the_loop(spark, monkeypatch, shape):
    D = _graph_queries(spark, monkeypatch, _pairs(spark, shape))
    kernel, loop = _both_paths(spark, lambda: D.q_doc_graph_kcore(spark, "x"))
    assert kernel == loop


def test_kcore_kernel_results_on_known_shapes(spark, monkeypatch):
    """The shapes whose outcome is known: a star and an isolated pair
    peel to nothing, repeated pairs count once per repeat, and a
    200-link chain needs 100 peel rounds, past the cap, so it raises."""
    expect = {
        "star": [],
        "isolated_pair": [],
        "repeated_pairs": [(1, 4), (2, 3), (3, 3), (7, 2), (8, 2)],
        "chain_200": "did not converge in 8 rounds",
    }
    for shape, want in expect.items():
        D = _graph_queries(spark, monkeypatch, _pairs(spark, shape))
        got = _outcome(lambda: D.q_doc_graph_kcore(spark, "x"))
        if isinstance(want, str):
            assert want in got, shape
        else:
            assert got[1] == want, shape


def test_components_round_cap_raises_on_both_paths(spark):
    """Every cap gives the same outcome on both paths: the kernel counts
    its rounds from the same round 0 as the loop."""
    from osm_poi_database_maker_spark.dedup import dedup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "doc_a long, doc_b long"
    )
    outcomes = [
        _both_paths(spark, lambda: dedup_clusters(chain, max_iters=k))
        for k in range(1, 6)
    ]
    assert all(kernel == loop for kernel, loop in outcomes)
    raised = [isinstance(kernel, str) for kernel, _ in outcomes]
    assert raised[0] and not raised[-1]
    assert "dedup_clusters did not converge in 1 rounds" in outcomes[0][0]


def test_kcore_round_cap_raises_on_both_paths(spark, monkeypatch):
    """A 20-node path needs 10 peel rounds, more than ``_KCORE_ROUNDS``."""
    D = _graph_queries(
        spark,
        monkeypatch,
        spark.createDataFrame([(i, i + 1) for i in range(19)], "doc_a long, doc_b long"),
    )
    kernel, loop = _both_paths(spark, lambda: D.q_doc_graph_kcore(spark, "x"))
    assert kernel == loop
    assert f"did not converge in {D._KCORE_ROUNDS} rounds" in kernel


def test_graph_kernels_build_in_one_job(spark, monkeypatch):
    """Under the session's broadcast threshold each of the three builds
    in one job, the edge collect; at -1 the same builds run their
    loops, a job per round."""
    from osm_poi_database_maker_spark.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6)], "doc_a long, doc_b long"
    )
    D = _graph_queries(spark, monkeypatch, pairs)
    builds = {
        "components": lambda: dedup_clusters(pairs),
        "pagerank": lambda: D.q_doc_graph_pagerank(spark, "x"),
        "kcore": lambda: D.q_doc_graph_kcore(spark, "x"),
    }
    for name, build in builds.items():
        assert _jobs(spark, build) == 1, name
    with _loop_path(spark):
        for name, build in builds.items():
            assert _jobs(spark, build) > 1, name
