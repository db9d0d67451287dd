"""io.write_once / io.derived_path: every derived fixture file, layout and
cache is published whole, once, at a content-keyed path."""

from __future__ import annotations

import multiprocessing
import os
import tempfile

import duckdb
import pytest

from osm_poi_database_maker_spark.io import derived_path, write_once


def _write_file(text: str):
    def write(tmp: str) -> None:
        with open(tmp, "w") as fh:
            fh.write(text)

    return write


def _read(path: str) -> str:
    if os.path.isdir(path):
        path = os.path.join(path, "part")
    with open(path) as fh:
        return fh.read()


def test_write_once_writes_once(tmp_path):
    path = str(tmp_path / "artefact")
    calls = []

    def write(tmp: str) -> None:
        calls.append(tmp)
        _write_file("v1")(tmp)

    assert write_once(path, write) == path
    assert write_once(path, write) == path
    assert calls == [f"{path}.tmp.{os.getpid()}"]
    assert _read(path) == "v1"
    assert os.listdir(tmp_path) == ["artefact"]


@pytest.mark.parametrize("kind", ["file", "dir"])
def test_failed_write_leaves_nothing_and_retry_publishes(tmp_path, kind):
    path = str(tmp_path / "artefact")

    def crash(tmp: str) -> None:
        if kind == "dir":
            os.mkdir(tmp)
            tmp = os.path.join(tmp, "part")
        with open(tmp, "w") as fh:
            fh.write("partial")
        raise RuntimeError("writer crashed")

    with pytest.raises(RuntimeError, match="writer crashed"):
        write_once(path, crash)
    assert os.listdir(tmp_path) == []

    write_once(path, _write_file("whole"))
    assert _read(path) == "whole"
    assert os.listdir(tmp_path) == ["artefact"]


@pytest.mark.parametrize("kind", ["file", "dir"])
def test_lost_race_keeps_first_writer(tmp_path, kind):
    """Another process publishes ``path`` while ours is being written:
    the first writer's artefact stays and ours is dropped."""
    path = str(tmp_path / "artefact")

    def publish(target: str, text: str) -> None:
        if kind == "dir":
            os.mkdir(target)
            target = os.path.join(target, "part")
        with open(target, "w") as fh:
            fh.write(text)

    def slow_writer(tmp: str) -> None:
        publish(path, "theirs")
        publish(tmp, "ours")

    assert write_once(path, slow_writer) == path
    assert _read(path) == "theirs"
    assert os.listdir(tmp_path) == ["artefact"]


def _racing_writer(path: str, kind: str, ident: int, barrier) -> None:
    def write(tmp: str) -> None:
        if kind == "dir":
            os.mkdir(tmp)
            tmp = os.path.join(tmp, "part")
        with open(tmp, "w") as fh:
            fh.write(chr(ord("a") + ident) * 100_000)

    barrier.wait(timeout=60)
    write_once(path, write)


@pytest.mark.parametrize("kind", ["file", "dir"])
def test_concurrent_writers_publish_one_whole_artefact(tmp_path, kind):
    """Processes released together all find ``path`` missing and all
    write; exactly one writer's artefact is published, whole, and no tmp
    sibling is left behind."""
    n = 6
    ctx = multiprocessing.get_context("spawn")
    barrier = ctx.Barrier(n)
    path = str(tmp_path / "artefact")
    procs = [
        ctx.Process(target=_racing_writer, args=(path, kind, i, barrier))
        for i in range(n)
    ]
    try:
        for p in procs:
            p.start()
        for p in procs:
            p.join(timeout=120)
        assert [(p.is_alive(), p.exitcode) for p in procs] == [(False, 0)] * n
    finally:
        for p in procs:
            if p.is_alive():
                p.kill()
    body = _read(path)
    assert len(body) == 100_000 and len(set(body)) == 1
    assert os.listdir(tmp_path) == ["artefact"]


def test_derived_path_is_keyed_by_content():
    a = derived_path("layout", "sf", "v1", 3)
    assert a == derived_path("layout", "sf", "v1", 3)
    assert a != derived_path("layout", "sf", "v2", 3)
    assert a != derived_path("layout", "sf", "v1", 4)
    assert a != derived_path("other", "sf", "v1", 3)
    assert os.path.dirname(a) == tempfile.gettempdir()
    assert os.path.basename(a).startswith("ospdms_layout_")


def test_stale_pid_fixture_file_is_ignored(spark):
    """A leftover file at the old pid-keyed fixture location (a crashed
    partial encode, or another fixture version's file under a reused
    pid) is never read: the scan fixture lives at a content-keyed path."""
    from osm_poi_database_maker_spark.queries.osm import ORACLES, q_osm_pbf_scan
    from tools.check import compare

    stale = os.path.join(
        tempfile.gettempdir(), f"ospdms_pbf_fixture_{os.getpid()}.osm.pbf"
    )
    try:
        with open(stale, "wb") as fh:
            fh.write(b"\x00\x00\x00\x0dgarbage")
        df = q_osm_pbf_scan(spark, "unused")
        rows = [tuple(r) for r in df.collect()]
        assert compare(df.columns, rows, duckdb.sql(ORACLES["osm_pbf_scan"])) == []
    finally:
        os.remove(stale)


def test_cache_toi_dim_never_deletes_an_existing_directory(spark, tmp_path):
    """A cache path that points at an existing non-parquet directory (say
    a data directory by mistake) is read, fails, and is left intact."""
    from py4j.protocol import Py4JJavaError

    from osm_poi_database_maker_spark import osm_fixtures as fx
    from osm_poi_database_maker_spark.pipeline import cache_toi_dim
    from osm_poi_database_maker_spark.queries.osm import SETTINGS

    data = tmp_path / "data"
    data.mkdir()
    (data / "notes.txt").write_text("keep me\n")
    with pytest.raises(Py4JJavaError, match="parquet"):
        cache_toi_dim(fx.taginfo_df(spark), SETTINGS, str(data))
    assert os.listdir(data) == ["notes.txt"]
    assert (data / "notes.txt").read_text() == "keep me\n"


def _jobs_of(spark, fn):
    sc = spark.sparkContext
    gid = f"io-jobs-{os.getpid()}-{id(fn)}"
    sc.setJobGroup(gid, gid)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def test_load_table_infers_the_schema_once(spark, tmp_path):
    """Parquet schema inference is a Spark job; a second load_table of the
    same table reuses the memoised schema and runs none, and rewriting
    the fixture in place gives it a new key (and its new schema)."""
    import shutil

    from osm_poi_database_maker_spark.io import load_table
    from tests.conftest import SF_SMOKE

    sf = str(tmp_path)
    shutil.copyfile(os.path.join(SF_SMOKE, "region.parquet"),
                    os.path.join(sf, "region.parquet"))
    first = load_table(spark, sf, "region")
    assert _jobs_of(spark, lambda: load_table(spark, sf, "region")) == 0
    assert load_table(spark, sf, "region").collect() == first.collect()

    spark.range(3).selectExpr("id AS r_key").write.mode("overwrite").parquet(
        os.path.join(sf, "region.parquet"))
    rewritten = load_table(spark, sf, "region")
    assert rewritten.columns == ["r_key"]
    assert rewritten.count() == 3
