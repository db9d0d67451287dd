"""``ops.recursion.fixpoint``: one job per round, flags read from that
round's own job, and the round cap raising "did not converge"."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

_GROUPS = itertools.count()


def _run_in_group(spark, fn):
    """Run ``fn()`` under a fresh job group; return (result or the
    raised exception, number of Spark jobs it ran)."""
    sc = spark.sparkContext
    gid = f"test-fixpoint-{next(_GROUPS)}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    except RuntimeError as e:
        out = e
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def _climb(spark, cap, max_rounds):
    """Eight rows 0..7; each round adds 1 and clips at ``cap``, a step
    with no shuffle. ``done`` records the metrics it is handed."""
    from osm_poi_database_maker_spark.ops.recursion import fixpoint

    seen: list[dict] = []

    def done(m):
        seen.append(m)
        return m["lo"] == cap

    def run():
        return fixpoint(
            spark.range(8).select(F.col("id").alias("x")),
            lambda df: df.select(F.least(F.col("x") + 1, F.lit(cap)).alias("x")),
            [F.min("x").alias("lo"), F.count("*").alias("n")],
            done,
            max_rounds,
            "climb",
        )

    out, jobs = _run_in_group(spark, run)
    return out, jobs, seen


def test_fixpoint_runs_one_job_per_round_and_reads_its_flags(spark):
    out, jobs, seen = _climb(spark, cap=5, max_rounds=10)
    # round r has min(x) == r: done saw each round's own metrics, in order
    assert seen == [{"lo": r, "n": 8} for r in range(1, 6)]
    assert jobs == 5
    assert sorted(r.x for r in out.collect()) == [5] * 8


def test_fixpoint_raises_with_its_name_when_the_cap_is_exhausted(spark):
    out, jobs, seen = _climb(spark, cap=5, max_rounds=3)
    assert isinstance(out, RuntimeError)
    assert "climb did not converge in 3 rounds" in str(out)
    assert [m["lo"] for m in seen] == [1, 2, 3]
    assert jobs == 3


def test_fixpoint_observes_an_empty_round(spark):
    """An empty round still reports its metrics: count 0, max None."""
    from osm_poi_database_maker_spark.ops.recursion import fixpoint

    seen = []
    out = fixpoint(
        spark.range(4),
        lambda df: df.filter(F.col("id") < 0),
        [F.count("*").alias("n"), F.max("id").alias("hi")],
        lambda m: seen.append(m) or True,
        5,
        "empty",
    )
    assert seen == [{"n": 0, "hi": None}]
    assert out.count() == 0


def test_closures_build_in_two_jobs_on_the_kernel_path(spark):
    """Under the session's broadcast threshold each closure builds in at
    most two jobs (the edge collect, and the checkpoint that observes
    its depth flag); with the threshold at -1 the same build runs the
    round loop."""
    from osm_poi_database_maker_spark.ops.recursion import (
        ancestor_closure,
        min_dist_closure,
    )

    edges = spark.createDataFrame(
        [(i + 1, i // 2) for i in range(16)], "node long, anc long"
    )
    for closure in (ancestor_closure, min_dist_closure):
        out, jobs = _run_in_group(spark, lambda: closure(edges))
        assert not isinstance(out, RuntimeError)
        assert jobs <= 2, closure.__name__
    key = "spark.sql.autoBroadcastJoinThreshold"
    had = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        _, jobs = _run_in_group(spark, lambda: min_dist_closure(edges))
    finally:
        spark.conf.set(key, had)
    assert jobs > 2


def test_ancestor_closure_rejects_a_cycle_behind_a_long_tail_unwalked(spark):
    """A 3-cycle fed by a 3000-node tail raises the cyclic-input error on
    the kernel path after the edge collect alone: no walk runs, so no
    tail node walks the whole depth cap before the error."""
    from osm_poi_database_maker_spark.ops.recursion import _CYCLIC, ancestor_closure

    cycle = spark.createDataFrame([(0, 2), (1, 0), (2, 1)], "node long, anc long")
    tail = spark.range(3, 3003).select(
        F.col("id").alias("node"), (F.col("id") - 1).alias("anc")
    )
    out, jobs = _run_in_group(spark, lambda: ancestor_closure(cycle.union(tail)))
    assert isinstance(out, RuntimeError) and str(out) == _CYCLIC
    assert jobs == 1
