"""Streaming SimHash dedup: cross-batch state + batch/stream parity."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F


def _finalize(out):
    return (
        out.groupBy("doc_id")
        .agg(
            F.min(F.when(F.col("match_id") >= 0, F.col("match_id"))).alias("dup_of")
        )
        .select("doc_id", F.col("dup_of").isNotNull().alias("is_dup"), "dup_of")
    )


def _drain(df, spark):
    name = f"simdedup_{uuid.uuid4().hex[:10]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    return spark.table(name)


def test_cross_batch_near_dup_flagged(spark, tmp_path):
    """A doc arriving in batch 3 whose near-twin arrived in batch 1
    must be flagged with dup_of pointing at the EARLIER doc — the state
    genuinely carries across micro-batches (maxFilesPerTrigger=1, three
    files in doc_id order)."""
    from osm_poi_database_maker_spark.streaming import simhash_dedup_state

    d = str(tmp_path / "docs")
    uniq = [
        " ".join(f"tok{i}_{j}" for j in range(30)) for i in range(9)
    ]  # 9 distinct word-soup docs, far apart in simhash space
    twin = "the quick brown fox jumps over the lazy dog " * 4
    batches = [
        [(10, twin), (11, uniq[0]), (12, uniq[1])],
        [(200, uniq[2]), (201, uniq[3]), (202, uniq[4])],
        [(300, twin), (301, uniq[5]), (302, uniq[6])],
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            [(k, t, "en", "a", len(t)) for k, t in rows], schema
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents_{i}.parquet")

    file_schema = spark.read.parquet(f"{d}/documents*.parquet").schema
    stream = (
        spark.readStream.schema(file_schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(f"{d}/documents*.parquet")
    )
    out = _drain(simhash_dedup_state(stream), spark)
    got = {
        r["doc_id"]: (r["is_dup"], r["dup_of"])
        for r in _finalize(out).collect()
    }
    assert got[300] == (True, 10)   # cross-batch twin found in batch-1 state
    assert got[10] == (False, None)  # first arrival is never a dup
    assert sum(1 for v in got.values() if v[0]) == 1


def test_stream_matches_single_batch_twin(spark, tmp_path):
    """Replaying the same docs as 3 ordered micro-batches must produce
    EXACTLY the single-batch (availableNow, one file) result — batch
    boundaries are invisible because arrival order equals doc_id order
    and retention is first-K by arrival."""
    from osm_poi_database_maker_spark.streaming import simhash_dedup_state

    rows = [
        (i, ("alpha beta gamma delta " * 3) if i % 5 == 0 else
            " ".join(f"w{i}_{j}" for j in range(25)),
         "en", "a", 100)
        for i in range(1, 31)
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"

    one = str(tmp_path / "one")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{one}/documents.parquet")
    many = str(tmp_path / "many")
    for i, chunk in enumerate([rows[:10], rows[10:20], rows[20:]]):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{many}/documents_{i}.parquet")

    def run(path, mft=None):
        file_schema = spark.read.parquet(f"{path}/documents*.parquet").schema
        r = spark.readStream.schema(file_schema).format("parquet")
        if mft:
            r = r.option("maxFilesPerTrigger", str(mft))
        stream = r.load(f"{path}/documents*.parquet")
        out = _drain(simhash_dedup_state(stream), spark)
        return sorted(tuple(x) for x in _finalize(out).collect())

    assert run(many, mft=1) == run(one)


def test_multi_chunk_group_keeps_global_order(spark, tmp_path):
    """A (band, bucket) group whose batch data arrives as SEVERAL Arrow
    chunks must still dedup in global doc_id order: with
    maxRecordsPerBatch=2, a 12-doc identical-text bucket spans ≥6
    chunks, and every doc except the first must point at doc 1."""
    from osm_poi_database_maker_spark.streaming import simhash_dedup_state

    saved = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        d = str(tmp_path / "docs")
        twin = "identical twin text payload " * 5
        rows = [(i, twin, "en", "a", len(twin)) for i in range(1, 13)]
        schema = "doc_id long, text string, lang string, source string, n_chars long"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/documents.parquet")
        out = _drain(simhash_dedup_state(spark.readStream.schema(
            spark.read.parquet(f"{d}/documents.parquet").schema
        ).format("parquet").load(f"{d}/documents*.parquet")), spark)
        got = {
            r["doc_id"]: (r["is_dup"], r["dup_of"])
            for r in _finalize(out).collect()
        }
        assert got[1] == (False, None)
        for i in range(2, 13):
            assert got[i] == (True, 1), f"doc {i}: {got[i]}"
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", saved)


def test_generation_horizon_and_eviction(spark, tmp_path):
    """generation_span mode (r11 verdict #5): retention is first-K per
    (bucket, generation), matching sees only gens >= own - 1, and
    evicted history is invisible — so a twin one generation back is
    caught, a twin many generations back is not, and a full bucket's
    cap RESETS each generation instead of starving forever."""
    from osm_poi_database_maker_spark.streaming import simhash_dedup_state

    d = str(tmp_path / "docs")
    twin = "the quick brown fox jumps over the lazy dog " * 4
    batches = [
        [(10, twin), (11, twin), (12, twin)],  # gen 0
        [(150, twin)],                         # gen 1
        [(250, twin), (350, twin)],            # gens 2, 3
        [(999, twin)],                         # gen 9: horizon is empty
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            [(k, t, "en", "a", len(t)) for k, t in rows], schema
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents_{i}.parquet")
    file_schema = spark.read.parquet(f"{d}/documents*.parquet").schema
    stream = (
        spark.readStream.schema(file_schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(f"{d}/documents*.parquet")
    )
    out = _drain(
        simhash_dedup_state(stream, bucket_cap=1, generation_span=100), spark
    )
    got = {
        r["doc_id"]: (r["is_dup"], r["dup_of"])
        for r in _finalize(out).collect()
    }
    assert got[10] == (False, None)
    assert got[11] == (True, 10)   # cap 1: 11 not retained, still matched
    assert got[12] == (True, 10)
    assert got[150] == (True, 10)  # previous generation is in horizon
    # gen-0 history is OUT of 250's horizon; 150 was retained because
    # generation 1 got a fresh cap despite the bucket being "full"
    assert got[250] == (True, 150)
    assert got[350] == (True, 250)
    assert got[999] == (False, None)  # nothing lives in gens >= 8


def test_generation_mode_default_off_is_unchanged(spark, tmp_path):
    """generation_span=None must keep the registered query's exact
    first-K-forever semantics (the DuckDB oracle replays those)."""
    from osm_poi_database_maker_spark.streaming import simhash_dedup_state

    d = str(tmp_path / "docs")
    twin = "the quick brown fox jumps over the lazy dog " * 4
    rows = [(10, twin), (150, twin), (99999, twin)]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    spark.createDataFrame(
        [(k, t, "en", "a", len(t)) for k, t in rows], schema
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents_0.parquet")
    file_schema = spark.read.parquet(f"{d}/documents*.parquet").schema
    stream = (
        spark.readStream.schema(file_schema)
        .format("parquet")
        .load(f"{d}/documents*.parquet")
    )
    out = _drain(simhash_dedup_state(stream, bucket_cap=1), spark)
    got = {
        r["doc_id"]: (r["is_dup"], r["dup_of"])
        for r in _finalize(out).collect()
    }
    # no horizon: the arbitrarily-old first arrival still matches
    assert got[99999] == (True, 10)
    assert got[150] == (True, 10)


def test_generation_mode_invariant_to_batching(spark, tmp_path):
    """The generation-horizon semantics are a pure function of doc_id
    (arrival order), so the SAME docs must produce the SAME finalized
    verdicts whether they arrive as one batch, one file per doc-pair,
    or an uneven split — the determinism claim the docstring makes,
    pinned."""
    from osm_poi_database_maker_spark.streaming import simhash_dedup_state

    twin = "the quick brown fox jumps over the lazy dog " * 4
    uniq = [" ".join(f"tok{i}_{j}" for j in range(30)) for i in range(4)]
    docs = [
        (10, twin), (11, uniq[0]), (12, twin),
        (150, twin), (151, uniq[1]),
        (250, uniq[2]), (251, twin),
        (990, twin), (991, uniq[3]),
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"

    def run(splits):
        d = str(tmp_path / f"docs_{len(splits)}_{splits[0]}")
        i0 = 0
        for fi, n in enumerate(splits):
            rows = docs[i0 : i0 + n]
            i0 += n
            spark.createDataFrame(
                [(k, t, "en", "a", len(t)) for k, t in rows], schema
            ).coalesce(1).write.mode("overwrite").parquet(
                f"{d}/documents_{fi}.parquet"
            )
        file_schema = spark.read.parquet(f"{d}/documents*.parquet").schema
        stream = (
            spark.readStream.schema(file_schema)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(f"{d}/documents*.parquet")
        )
        out = _drain(
            simhash_dedup_state(stream, bucket_cap=2, generation_span=100),
            spark,
        )
        return sorted(
            (r["doc_id"], r["is_dup"], r["dup_of"])
            for r in _finalize(out).collect()
        )

    one = run([9])
    pairs = run([2, 2, 2, 2, 1])
    uneven = run([3, 1, 5])
    assert one == pairs == uneven
    assert any(is_dup for _, is_dup, _ in one)  # the fixture has dups


def test_horizon_oracle_differs_by_documented_edits():
    """The horizon oracle must differ from the unbounded variant's SQL
    in the generation-horizon edit (its row parity is the tier-1 oracle
    gate's job)."""
    from osm_poi_database_maker_spark.queries.streaming_queries import (
        ORACLE_STREAM_SIMHASH_DEDUP,
        ORACLE_STREAM_SIMHASH_HORIZON,
    )

    assert ORACLE_STREAM_SIMHASH_HORIZON != ORACLE_STREAM_SIMHASH_DEDUP
    assert "doc_id // 100" in ORACLE_STREAM_SIMHASH_HORIZON
