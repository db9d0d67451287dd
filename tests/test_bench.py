"""bench.py's env block: the effective settings a run's times belong to."""

from __future__ import annotations

import os


def test_env_block_reports_effective_settings(spark):
    import bench

    key = "spark.sql.shuffle.partitions"
    had = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")
        env = bench.env_block(spark)
    finally:
        spark.conf.set(key, had)
    assert list(env) == [
        "master",
        "default_parallelism",
        "shuffle_partitions",
        "aqe",
        "aqe_coalesce",
        "cpu_count",
    ]
    assert env["master"] == spark.sparkContext.master
    assert env["default_parallelism"] == spark.sparkContext.defaultParallelism
    assert env["shuffle_partitions"] == 7
    assert env["aqe"] == (spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert isinstance(env["aqe_coalesce"], bool)
    assert env["cpu_count"] == os.cpu_count()
