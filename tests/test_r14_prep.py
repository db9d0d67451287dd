"""r14-prep pins: the streaming bottom-k reservoir twin
(streaming.reservoir_sample_state + q_stream_reservoir_sample),
implemented and differentially certified this round, registration
deferred to r14 tier 1b (the r13 window is full with the r07-stale
rotation). ORACLE_RESERVOIR applies verbatim once registered — these
pins establish exactly that: the streaming sample IS the batch sample
under single-batch, multi-batch, duplicate-replay, and RocksDB
execution."""

from __future__ import annotations

import uuid

import pytest

from tests.conftest import SF_SMOKE

_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _batch(spark):
    from osm_poi_database_maker_spark.queries.events import (
        q_events_reservoir_sample,
    )

    return _rows(
        q_events_reservoir_sample(spark, SF_SMOKE).select(
            "event_type", "rk", "event_id", "user_id", "value"
        )
    )


def test_stream_reservoir_matches_batch(spark):
    from osm_poi_database_maker_spark.queries.streaming_queries import (
        q_stream_reservoir_sample,
    )

    got = _rows(q_stream_reservoir_sample(spark, SF_SMOKE))
    want = _batch(spark)
    assert got == want and len(got) > 0


def test_stream_reservoir_multibatch_replay(spark, tmp_path):
    """4 time-ordered files, one per trigger: the reservoir must carry
    across micro-batches and still equal the batch sample — the
    union/keep-k-minima merge rule made observable."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from osm_poi_database_maker_spark import streaming as S
    from osm_poi_database_maker_spark.io import load_table
    from osm_poi_database_maker_spark.queries.events import _RES_K

    src = load_table(spark, SF_SMOKE, "events").orderBy("ts")
    rows = src.collect()
    d = tmp_path / "ev"
    d.mkdir()
    chunk = (len(rows) + 3) // 4
    for i in range(4):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            spark.createDataFrame(part, src.schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(d / f"events_{i:02d}.parquet"))

    stream = S.stream_events(spark, str(d), max_files_per_trigger=1)
    name = f"res_{uuid.uuid4().hex[:8]}"
    q = (
        S.reservoir_sample_state(stream, k=_RES_K)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    out = spark.table(name)
    # several micro-batches → several emissions per key, n_seen monotone
    per_key = out.groupBy("event_type").count().collect()
    assert all(r["count"] >= 2 for r in per_key)
    w = Window.partitionBy("event_type").orderBy(F.desc("n_seen"))
    last = out.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    z = F.arrays_zip("ids", "users", "vals")
    got = _rows(
        last.select("event_type", F.posexplode(z).alias("pos", "r")).select(
            "event_type",
            (F.col("pos") + 1).cast("long").alias("rk"),
            F.col("r.ids").alias("event_id"),
            F.col("r.users").alias("user_id"),
            F.col("r.vals").alias("value"),
        )
    )
    assert got == _batch(spark)


def test_stream_reservoir_duplicate_replay_is_noop(spark, tmp_path):
    """Writing the same rows TWICE (two identical files) must yield the
    identical reservoir: the event_id-keyed state makes duplicate
    delivery idempotent, so at-least-once replay cannot double-occupy
    reservoir slots (n_seen counts deliveries; the sample does not)."""
    from osm_poi_database_maker_spark.io import load_table
    from osm_poi_database_maker_spark.queries.streaming_queries import (
        q_stream_reservoir_sample,
    )

    src = load_table(spark, SF_SMOKE, "events")
    d = tmp_path / "dup"
    d.mkdir()
    src.coalesce(1).write.parquet(str(d / "events_a.parquet"))
    src.coalesce(1).write.parquet(str(d / "events_b.parquet"))
    got = _rows(q_stream_reservoir_sample(spark, str(d)))
    assert got == _batch(spark)


@pytest.fixture()
def _rocksdb(spark):
    had = spark.conf.get(_PROVIDER_CONF, None)
    spark.conf.set(_PROVIDER_CONF, _ROCKSDB)
    yield
    if had is None:
        spark.conf.unset(_PROVIDER_CONF)
    else:
        spark.conf.set(_PROVIDER_CONF, had)


def test_stream_reservoir_rocksdb_parity(spark, _rocksdb):
    from osm_poi_database_maker_spark.queries.streaming_queries import (
        q_stream_reservoir_sample,
    )

    got = _rows(q_stream_reservoir_sample(spark, SF_SMOKE))
    assert got == _batch(spark) and len(got) > 0


# --- streaming weighted E-S sample (second r14-prep twin) -------------------


def _batch_ws(spark):
    from osm_poi_database_maker_spark.queries.curation import (
        q_doc_weighted_sample,
    )

    return sorted(
        (r.source, int(r.doc_id), int(r.n_chars), round(float(r.es_key), 9), int(r.rk))
        for r in q_doc_weighted_sample(spark, SF_SMOKE).collect()
    )


def _got_ws(df):
    return sorted(
        (r.source, int(r.doc_id), int(r.n_chars), round(float(r.es_key), 9), int(r.rk))
        for r in df.collect()
    )


def test_stream_weighted_sample_matches_batch(spark):
    from osm_poi_database_maker_spark.queries.streaming_queries import (
        q_stream_weighted_sample,
    )

    got = _got_ws(q_stream_weighted_sample(spark, SF_SMOKE))
    want = _batch_ws(spark)
    assert got == want and len(got) > 0


def test_stream_weighted_sample_multibatch_replay(spark, tmp_path):
    """4 files, one per trigger: per-source top-k by E-S key must merge
    across micro-batches into the batch sample."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from osm_poi_database_maker_spark import streaming as S
    from osm_poi_database_maker_spark.io import load_table
    from osm_poi_database_maker_spark.queries.curation import _WS_TOP_K

    src = load_table(spark, SF_SMOKE, "documents")
    rows = src.collect()
    d = tmp_path / "docs"
    d.mkdir()
    chunk = (len(rows) + 3) // 4
    for i in range(4):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            spark.createDataFrame(part, src.schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(d / f"documents_{i:02d}.parquet"))

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{d}/documents*.parquet")
    )
    name = f"wres_{uuid.uuid4().hex[:8]}"
    q = (
        S.weighted_sample_state(stream, k=_WS_TOP_K)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    out = spark.table(name)
    assert all(r["count"] >= 2 for r in out.groupBy("source").count().collect())
    w = Window.partitionBy("source").orderBy(F.desc("n_seen"))
    last = out.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    z = F.arrays_zip("ids", "chars", "raws")
    got = _got_ws(
        last.select("source", F.posexplode(z).alias("pos", "r")).select(
            "source",
            F.col("r.ids").alias("doc_id"),
            F.col("r.chars").alias("n_chars"),
            F.round(F.col("r.raws"), 6).alias("es_key"),
            (F.col("pos") + 1).cast("long").alias("rk"),
        )
    )
    assert got == _batch_ws(spark)


def test_stream_weighted_sample_rocksdb_parity(spark, _rocksdb):
    from osm_poi_database_maker_spark.queries.streaming_queries import (
        q_stream_weighted_sample,
    )

    got = _got_ws(q_stream_weighted_sample(spark, SF_SMOKE))
    assert got == _batch_ws(spark) and len(got) > 0


def test_stream_weighted_sample_oracle_verbatim(spark):
    """Registration contract: the streaming rows match
    ORACLE_WEIGHTED_SAMPLE (the batch oracle, unchanged) on the smoke
    fixture."""
    import duckdb

    from osm_poi_database_maker_spark.queries.curation import (
        ORACLE_WEIGHTED_SAMPLE,
    )
    from osm_poi_database_maker_spark.queries.streaming_queries import (
        q_stream_weighted_sample,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    want = sorted(
        (s, int(i), int(c), round(float(k), 9), int(rk))
        for s, i, c, k, rk in con.execute(ORACLE_WEIGHTED_SAMPLE).fetchall()
    )
    got = _got_ws(q_stream_weighted_sample(spark, SF_SMOKE))
    assert got == want


def test_stream_reservoir_id_identity_last_payload_wins(spark, tmp_path):
    """The documented row-identity precondition, pinned from the state
    side: two deliveries of the SAME event_id with different payloads
    collapse to one reservoir slot carrying the LAST payload (replay
    semantics), never two slots."""
    from pyspark.sql import functions as F  # noqa: F401

    from osm_poi_database_maker_spark import streaming as S

    d = tmp_path / "idrows"
    d.mkdir()
    schema = (
        "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string"
    )
    first = [(1, None, 10, "click", 1.0, None), (2, None, 20, "click", 2.0, None)]
    second = [(1, None, 99, "click", 9.0, None)]  # same id, new payload
    spark.createDataFrame(first, schema).coalesce(1).write.parquet(
        str(d / "events_00.parquet")
    )
    spark.createDataFrame(second, schema).coalesce(1).write.parquet(
        str(d / "events_01.parquet")
    )
    import uuid as _uuid

    name = f"idp_{_uuid.uuid4().hex[:8]}"
    q = (
        S.reservoir_sample_state(
            S.stream_events(spark, str(d), max_files_per_trigger=1), k=20
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.table(name).orderBy("n_seen").collect()
    last = rows[-1]
    assert last.n_seen == 3  # deliveries counted
    assert sorted(last.ids) == [1, 2]  # but only one slot per id
    payload = dict(zip(last.ids, zip(last.users, last.vals)))
    assert payload[1] == (99, 9.0)  # last payload won
