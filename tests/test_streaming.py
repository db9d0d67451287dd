"""Streaming tests: availableNow triggers, batch-parity comparisons."""

from __future__ import annotations

import uuid

import pytest

from osm_poi_database_maker_spark import streaming as S
from osm_poi_database_maker_spark.io import load_table
from tests.conftest import SF_SMOKE


def _run_to_memory(df, name: str, mode: str) -> None:
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(120)
    if not finished:
        q.stop()
        raise TimeoutError(f"streaming query {name} did not finish within 120s")


def test_windowed_counts_match_batch(spark):
    stream = S.stream_events(spark, SF_SMOKE)
    assert stream.isStreaming
    name = f"win_{uuid.uuid4().hex[:8]}"
    _run_to_memory(S.windowed_counts(stream), name, "complete")
    got = {
        (r.window_start_us, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table(name).collect()
    }
    from osm_poi_database_maker_spark.queries.events import q_events_hourly_window

    expect = {
        (r.window_start_us, r.event_type): (r.n_events, r.sum_value)
        for r in q_events_hourly_window(spark, SF_SMOKE).collect()
    }
    assert got == expect


def test_session_counts_match_batch(spark):
    stream = S.stream_events(spark, SF_SMOKE)
    name = f"sess_{uuid.uuid4().hex[:8]}"
    _run_to_memory(S.session_counts(stream), name, "complete")
    got = {
        (r.user_id, r.session_start_us): (r.n_events, r.sum_value)
        for r in spark.table(name).collect()
    }
    from osm_poi_database_maker_spark.queries.events import q_events_session_windows

    expect = {
        (r.user_id, r.session_start_us): (r.n_events, r.sum_value)
        for r in q_events_session_windows(spark, SF_SMOKE).collect()
    }
    assert got == expect


def test_dedup_within_watermark(spark):
    stream = S.stream_events(spark, SF_SMOKE)
    deduped = S.dedup_within_watermark(stream.union(stream))
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    _run_to_memory(deduped, name, "append")
    n = spark.table(name).count()
    expect = load_table(spark, SF_SMOKE, "events").count()
    assert n == expect


def test_stateful_user_counts(spark):
    stream = S.stream_events(spark, SF_SMOKE)
    name = f"state_{uuid.uuid4().hex[:8]}"
    _run_to_memory(S.stateful_user_counts(stream), name, "update")
    got = {r.user_id: (r.n_events, round(r.total_value, 2)) for r in spark.table(name).collect()}
    from pyspark.sql import functions as F

    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("t"))
    )
    expect = {r.user_id: (r.n, r.t) for r in batch.collect()}
    assert got == expect


def test_stream_static_join_matches_batch(spark):
    from pyspark.sql import functions as F

    batch = load_table(spark, SF_SMOKE, "events")
    dim = (
        batch.groupBy("event_type")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("event_type"))
        .limit(3)
        .select("event_type")
    )
    stream = S.stream_events(spark, SF_SMOKE)
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    _run_to_memory(S.static_enriched_counts(stream, dim), name, "complete")
    got = {r.event_type: (r.n_events, r.sum_value) for r in spark.table(name).collect()}
    expect = {
        r.event_type: (r.n, r.s)
        for r in batch.join(dim, "event_type")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .collect()
    }
    assert got == expect


def test_stream_stream_attribution_within_horizon(spark):
    stream = S.stream_events(spark, SF_SMOKE)
    name = f"attr_{uuid.uuid4().hex[:8]}"
    _run_to_memory(S.stream_stream_attribution(stream), name, "append")
    rows = spark.table(name).collect()
    assert rows, "no attributed purchases found in fixture"
    horizon_us = 2 * 3600 * 1_000_000
    for r in rows:
        assert 0 <= r.purchase_ts_us - r.click_ts_us <= horizon_us


def test_watermark_closes_windows_across_batches(spark, tmp_path):
    """Append mode over 4 time-ordered micro-batches: the watermark must
    advance between batches, emit exactly the windows it has closed, and
    withhold windows still open at the final watermark."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    raw = spark.read.parquet(f"{SF_SMOKE}/events.parquet").orderBy("ts").collect()
    d = str(tmp_path / "batches")
    import os

    os.makedirs(d)
    q = len(raw) // 4
    for i in range(4):
        chunk = raw[i * q : (i + 1) * q if i < 3 else len(raw)]
        pq.write_table(pa.Table.from_pylist([r.asDict() for r in chunk]),
                       f"{d}/events_{i:02d}.parquet")

    stream = S.stream_events(spark, d, max_files_per_trigger=1)
    name = f"wm_{uuid.uuid4().hex[:8]}"
    _run_to_memory(S.windowed_counts(stream), name, "append")
    got = {(r.window_start_us, r.event_type) for r in spark.table(name).collect()}

    from osm_poi_database_maker_spark.queries.events import q_events_hourly_window

    full_rows = q_events_hourly_window(spark, SF_SMOKE).collect()
    full = {(r.window_start_us, r.event_type) for r in full_rows}
    max_ts = load_table(spark, SF_SMOKE, "events").agg(F.max("ts")).collect()[0][0]
    wm_us = int((max_ts - dt.timedelta(minutes=10)).timestamp() * 1e6)
    closed = {
        (w, t) for (w, t) in full if w + 3_600_000_000 <= wm_us
    }
    assert got == closed, (len(got), len(closed), len(full))
    assert got < full  # at least the final open window is withheld


def test_foreach_batch_sink(spark, tmp_path):
    stream = S.stream_events(spark, SF_SMOKE)
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = S.foreach_batch_parquet_sink(stream, out, ckpt).start()
    q.awaitTermination(120)
    back = spark.read.parquet(out)
    assert back.count() == load_table(spark, SF_SMOKE, "events").count()
    assert "_batch_id" in back.columns


def test_stateful_session_timeout_matches_batch_subset(spark, tmp_path):
    """Sessions closed by event-time timeout must each equal a batch
    session_window row; multi-batch replay (one file per trigger) drives
    the watermark forward so most sessions close before end-of-stream."""
    from pyspark.sql import functions as F

    # split the smoke events into 4 time-ordered files so availableNow
    # produces several micro-batches and a genuinely advancing watermark
    src = load_table(spark, SF_SMOKE, "events").orderBy("ts")
    n = src.count()
    rows = src.collect()
    data_dir = tmp_path / "ev"
    data_dir.mkdir()
    chunk = (n + 3) // 4
    for i in range(4):
        part = rows[i * chunk:(i + 1) * chunk]
        if part:
            spark.createDataFrame(part, src.schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(data_dir / f"f{i}.parquet"))

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{data_dir}/f*.parquet")
    )
    out = S.stateful_session_timeout(stream, gap="30 minutes", watermark="1 minutes")
    name = f"sess_{uuid.uuid4().hex[:8]}"
    _run_to_memory(out, name, "append")
    got = spark.table(name).collect()
    assert got, "expected some sessions to close via timeout"

    batch = (
        src.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
            "sum_value",
        )
    )
    expected = {
        (r.user_id, r.session_start_us): (r.n_events, r.sum_value)
        for r in batch.collect()
    }
    for r in got:
        key = (r.user_id, r.session_start_us)
        assert key in expected, f"emitted session not in batch result: {r}"
        assert expected[key] == (r.n_events, r.sum_value), (r, expected[key])
    # no session may be emitted twice (exactly-once close)
    keys = [(r.user_id, r.session_start_us) for r in got]
    assert len(keys) == len(set(keys))


def test_foreach_batch_sink_checkpoint_restart(spark, tmp_path):
    """Restarting a completed foreachBatch stream with the same
    checkpoint must process nothing new — the exactly-once contract a
    production backfill relies on."""
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    for _ in range(2):
        q = S.foreach_batch_parquet_sink(
            S.stream_events(spark, SF_SMOKE), out_dir, ckpt
        ).start()
        assert q.awaitTermination(120)
    n_src = load_table(spark, SF_SMOKE, "events").count()
    n_out = spark.read.parquet(out_dir).count()
    assert n_out == n_src


def test_session_timeout_late_event_extends_backward(spark, tmp_path):
    """A late-but-within-watermark event that precedes the open session
    must extend it backward (min start) without regressing the timeout
    horizon (max last): the emitted session equals the batch
    session_window row over the same data."""
    import datetime
    import os

    t0 = datetime.datetime(2024, 1, 1)

    def _mk(path, rows, mtime):
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        )
        df.coalesce(1).write.mode("overwrite").parquet(path)
        for root, _, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))

    m = lambda mins: t0 + datetime.timedelta(minutes=mins)  # noqa: E731
    d = str(tmp_path / "late")
    _mk(f"{d}/f1.parquet", [(1, m(100), 1, "view", 1.0, "{}")], 1_700_000_000)
    # batch 2: late event at t=95 (watermark after batch 1 = 90) plus a
    # far-future event to advance the watermark and time the session out
    _mk(
        f"{d}/f2.parquet",
        [(2, m(95), 1, "view", 2.0, "{}"), (3, m(200), 1, "view", 4.0, "{}")],
        1_700_000_100,
    )
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{d}/f*.parquet")
    )
    out = S.stateful_session_timeout(stream, gap="30 minutes", watermark="10 minutes")
    name = f"late_{uuid.uuid4().hex[:8]}"
    _run_to_memory(out, name, "append")
    got = spark.table(name).collect()
    closed = {(r.session_start_us, r.n_events, r.sum_value) for r in got}
    want_start = int(m(95).replace(tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000
    assert (want_start, 2, 3.0) in closed, got


def test_session_timeout_merges_consecutive_direct_emit_lates():
    """Two direct-emit late events (both more than gap before the open
    session's start) that are within gap of EACH OTHER must merge into
    one emitted session — batch session_window would merge them.
    Drives the state function directly with a fake GroupState."""
    import pandas as pd

    from osm_poi_database_maker_spark.streaming import _session_timeout_fn

    class FakeState:
        def __init__(self, tup):
            self._t = tup
            self.hasTimedOut = False
            self.exists = tup is not None

        @property
        def get(self):
            return self._t

        def update(self, tup):
            self._t = tup

        def remove(self):
            self._t, self.exists = None, False

        def setTimeoutTimestamp(self, ms):
            self.timeout_ms = ms

        def getCurrentWatermarkMs(self):
            return 0

    gap = 30 * 60 * 1_000_000  # 30 min in us
    s0 = 100 * gap  # open session start
    state = FakeState((s0, s0, 3, 5.0))
    # both more than gap before s0; 10us apart -> one merged session
    us1, us2 = s0 - 2 * gap, s0 - 2 * gap + 10
    fn = _session_timeout_fn(gap)
    batch = pd.DataFrame({"us": [us1, us2], "value": [1.0, 2.0]})
    out = pd.concat(list(fn((7,), iter([batch]), state)))
    assert len(out) == 1
    row = out.iloc[0]
    assert (
        row.session_start_us == us1
        and row.n_events == 2
        and row.sum_value == 3.0
    )
    # the open session is untouched
    assert state.get == (s0, s0, 3, 5.0)

    # control: two lates separated by >= gap stay separate sessions
    state2 = FakeState((s0, s0, 3, 5.0))
    batch2 = pd.DataFrame(
        {"us": [s0 - 3 * gap, s0 - 2 * gap + 10], "value": [1.0, 2.0]}
    )
    out2 = pd.concat(list(fn((7,), iter([batch2]), state2)))
    assert len(out2) == 2 and list(out2.n_events) == [1, 1]


def test_stream_ohlc_matches_batch(spark):
    """The watermarked streaming OHLC bars must equal the batch operator
    row-for-row — min_by/max_by partials merge across micro-batches like
    any min, which is exactly what this pins."""
    from osm_poi_database_maker_spark.queries.events import q_events_ohlc_bars
    from osm_poi_database_maker_spark.queries.streaming_queries import (
        q_stream_ohlc_bars,
    )

    batch = {tuple(r) for r in q_events_ohlc_bars(spark, SF_SMOKE).collect()}
    stream = {
        tuple(r)
        for r in q_stream_ohlc_bars(spark, SF_SMOKE)
        .select(
            "event_type", "bar", "open", "high", "low", "close", "n_events", "volume"
        )
        .collect()
    }
    assert stream == batch and batch


class _FakeGroupState:
    def __init__(self):
        self.exists = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)
        self.exists = True


def test_stream_kmv_state_merge_is_batch_invariant():
    """KMV's merge rule (union, keep K minima) must make micro-batch
    boundaries invisible: feeding the same users in one update call or
    split across two must leave identical state, and duplicate users
    must not change it."""
    import pandas as pd

    from osm_poi_database_maker_spark import streaming as S

    update = S._kmv_update(8)
    users = list(range(40))

    one = _FakeGroupState()
    list(update(("view",), [pd.DataFrame({"user_id": users})], one))

    two = _FakeGroupState()
    list(update(("view",), [pd.DataFrame({"user_id": users[:17]})], two))
    list(
        update(
            ("view",),
            [pd.DataFrame({"user_id": users[17:] + users[:5]})],  # + dupes
            two,
        )
    )
    assert one._v == two._v
    assert len(one._v[0]) == 8
    assert one._v[0] == sorted(one._v[0])


def test_stream_kmv_matches_batch_twin(spark):
    """The streaming KMV query must equal the batch operator row-for-row
    on the same fixture (shared finalizer + shared hash fold)."""
    from osm_poi_database_maker_spark.queries import events as E
    from osm_poi_database_maker_spark.queries import streaming_queries as Q
    from tests.conftest import SF_SMOKE

    batch = {tuple(r) for r in E.q_events_kmv_distinct(spark, SF_SMOKE).collect()}
    stream = {tuple(r) for r in Q.q_stream_kmv_distinct(spark, SF_SMOKE).collect()}
    assert batch == stream


def test_stream_cms_state_merge_is_batch_invariant():
    """CMS increments commute: one update call vs a split across two
    (with the second re-counting some users) must leave the same total
    mass, and the counter vector is the exact per-cell histogram."""
    import pandas as pd

    from osm_poi_database_maker_spark import streaming as S

    update = S._cms_update(16, 32)
    users = list(range(40))

    one = _FakeGroupState()
    list(update((2,), [pd.DataFrame({"user_id": users + users[:7]})], one))

    two = _FakeGroupState()
    list(update((2,), [pd.DataFrame({"user_id": users[:25]})], two))
    list(update((2,), [pd.DataFrame({"user_id": users[25:] + users[:7]})], two))

    assert one._v[0] == two._v[0]  # identical counter vectors
    assert one._v[1] == two._v[1] == 47  # n_seen = total increments
    assert sum(one._v[0]) == 47


def test_stream_cms_matches_batch_twin(spark):
    """The streaming CMS query must equal the batch operator row-for-row
    on the same fixture (shared finalizer + shared Lehmer cell hash)."""
    from osm_poi_database_maker_spark.queries import events as E
    from osm_poi_database_maker_spark.queries import streaming_queries as Q
    from tests.conftest import SF_SMOKE

    batch = {tuple(r) for r in E.q_events_cms_counts(spark, SF_SMOKE).collect()}
    stream = {tuple(r) for r in Q.q_stream_cms_counts(spark, SF_SMOKE).collect()}
    assert batch == stream


def test_stream_bloom_admit_fold_reference():
    """The streaming Bloom fold must equal a pure-Python test-then-insert
    reference on a tiny filter (64 bits, k=2 — small enough that false
    positives provably occur), and splitting the same event_id-ordered
    feed across micro-batches must not change the outcome (state carries
    the bitmask)."""
    import pandas as pd

    from osm_poi_database_maker_spark import streaming as S

    m_bits, k, salt = 64, 2, 96
    users = [i * 37 % 211 for i in range(200)]  # distinct-heavy, some repeats
    eids = list(range(len(users)))

    def ref_fold(us):
        M, A = S._KMV_M, S._KMV_A
        mask, admitted = set(), 0
        for u in us:
            un = u % M
            bits = [
                (un * 64 + salt + j) % M * A % M * A % M % m_bits for j in range(k)
            ]
            if any(b not in mask for b in bits):
                admitted += 1
            mask.update(bits)
        return admitted

    update = S._bloom_admit_update(m_bits, k, salt)
    one = _FakeGroupState()
    list(update(("view",), [pd.DataFrame({"event_id": eids, "user_id": users})], one))
    assert one._v[1] == 200
    assert one._v[2] == ref_fold(users)
    # tiny filter saturates: false positives must actually occur
    assert one._v[2] < len(set(users))

    two = _FakeGroupState()
    list(
        update(
            ("view",),
            [pd.DataFrame({"event_id": eids[:80], "user_id": users[:80]})],
            two,
        )
    )
    list(
        update(
            ("view",),
            [pd.DataFrame({"event_id": eids[80:], "user_id": users[80:]})],
            two,
        )
    )
    assert one._v == two._v


def test_stream_bloom_admit_matches_batch_twin(spark):
    """The streaming Bloom-admit query must equal the batch operator
    row-for-row on the same fixture (shared finalizer + shared bit
    fold + shared first-setter semantics)."""
    from osm_poi_database_maker_spark.queries import events as E
    from osm_poi_database_maker_spark.queries import streaming_queries as Q
    from tests.conftest import SF_SMOKE

    batch = {tuple(r) for r in E.q_events_bloom_admit(spark, SF_SMOKE).collect()}
    stream = {tuple(r) for r in Q.q_stream_bloom_admit(spark, SF_SMOKE).collect()}
    assert batch == stream


def test_stream_gapfill_fold_split_invariant():
    """The gapfill state fold must be micro-batch-boundary invariant
    (the per-day rollup merge is associative; max_by close by event_id
    is order-free), and its emission must densify the span with LOCF."""
    import pandas as pd

    from osm_poi_database_maker_spark import streaming as S

    rows = pd.DataFrame(
        {
            "day": [10, 10, 13, 12, 10],
            "n": [1] * 5,
            "best_eid": [3, 7, 9, 5, 1],
            "best_val": [3.0, 7.25, 9.5, 5.125, 1.0],
        }
    )
    one = _FakeGroupState()
    out_one = list(S._gapfill_update((42,), [rows], one))[0]

    two = _FakeGroupState()
    list(S._gapfill_update((42,), [rows.iloc[:2]], two))
    out_two = list(S._gapfill_update((42,), [rows.iloc[2:]], two))[0]

    assert one._v == two._v
    assert out_one.equals(out_two)
    # spine 10..13; day 11 silent (0 events, carries day 10's close by
    # max event_id = 7 -> 7.25); day 12 close 5.125; day 13 close 9.5
    assert out_one["day"].tolist() == [10, 11, 12, 13]
    assert out_one["n_events"].tolist() == [3, 0, 1, 1]
    assert out_one["locf_raw"].tolist() == [7.25, 7.25, 5.125, 9.5]
    assert out_one["n_seen"].tolist() == [5] * 4


def test_stream_gapfill_matches_batch_twin(spark):
    """The streaming gapfill/LOCF query must equal the batch operator
    row-for-row on the same fixture."""
    from osm_poi_database_maker_spark.queries import events as E
    from osm_poi_database_maker_spark.queries import streaming_queries as Q
    from tests.conftest import SF_SMOKE

    batch = {tuple(r) for r in E.q_events_gapfill_locf(spark, SF_SMOKE).collect()}
    stream = {tuple(r) for r in Q.q_stream_gapfill_locf(spark, SF_SMOKE).collect()}
    assert batch == stream


def test_stream_markov_fold_rechains_late_arrival():
    """A late event landing BETWEEN two previously-adjacent events must
    rewrite the transition they used to form — the reason the state is
    the ordered history, not a counts accumulator."""
    import pandas as pd

    from osm_poi_database_maker_spark import streaming as S

    b1 = pd.DataFrame(
        {"ts_us": [100, 300], "event_id": [1, 3], "event_type": ["A", "C"]}
    )
    late = pd.DataFrame({"ts_us": [200], "event_id": [2], "event_type": ["B"]})
    st = _FakeGroupState()
    out1 = list(S._markov_update((7,), [b1], st))[0]
    assert list(zip(out1["from_type"], out1["to_type"], out1["n"])) == [("A", "C", 1)]
    out2 = list(S._markov_update((7,), [late], st))[0]
    # A->C is GONE; the corrected chain is A->B->C, stamped newer
    assert list(zip(out2["from_type"], out2["to_type"], out2["n"])) == [
        ("A", "B", 1),
        ("B", "C", 1),
    ]
    assert out2["n_seen"].tolist() == [3, 3]
    # ts tie breaks by event_id, matching the batch lag window
    tie = pd.DataFrame({"ts_us": [300], "event_id": [0], "event_type": ["Z"]})
    st2 = _FakeGroupState()
    out3 = list(S._markov_update((7,), [b1, tie], st2))[0]
    assert list(zip(out3["from_type"], out3["to_type"])) == [("A", "Z"), ("Z", "C")]


def test_stream_markov_watermark_fold_bounds_state():
    """With a watermark, the sub-watermark prefix folds into immutable
    base counts and the retained history shrinks to the chain head plus
    the in-horizon suffix — emitted counts must stay identical to the
    unpruned full-history fold."""
    import pandas as pd

    from osm_poi_database_maker_spark import streaming as S

    class _WmState(_FakeGroupState):
        def __init__(self, wm_ms):
            super().__init__()
            self._wm = wm_ms

        def getCurrentWatermarkMs(self):
            return self._wm

    evs = pd.DataFrame(
        {
            "ts_us": [100, 200, 300, 400_000, 500_000],
            "event_id": [1, 2, 3, 4, 5],
            "event_type": ["A", "B", "A", "B", "C"],
        }
    )
    st = _WmState(wm_ms=0)  # first batch: no watermark progress yet
    list(S._markov_update((9,), [evs.iloc[:3]], st))
    # watermark at 350ms = 350_000µs: events at 100/200µs freeze, 300µs
    # stays as the chain head
    st._wm = 350
    out = list(S._markov_update((9,), [evs.iloc[3:]], st))[0]
    # counts equal the full-chain A->B->A->B->C regardless of pruning
    got = sorted(zip(out["from_type"], out["to_type"], out["n"]))
    assert got == [("A", "B", 2), ("B", "A", 1), ("B", "C", 1)]
    assert out["n_seen"].tolist() == [5, 5, 5]
    ts, eid, typ, bf, bt, bn, bs = st._v
    # events 100,200 folded (base_seen=2); head 300 retained for the
    # boundary transition; suffix 400k/500k live
    assert bs == 2
    assert ts == [300, 400_000, 500_000]
    assert sorted(zip(bf, bt, bn)) == [("A", "B", 1), ("B", "A", 1)]
    # a later batch must keep folding on top of the existing base:
    # wm 450ms freezes the 300µs head (folding A->B onto base → 2) and
    # promotes 400_000 to the new head
    st._wm = 450
    late = pd.DataFrame(
        {"ts_us": [600_000], "event_id": [6], "event_type": ["A"]}
    )
    out2 = list(S._markov_update((9,), [late], st))[0]
    got2 = sorted(zip(out2["from_type"], out2["to_type"], out2["n"]))
    assert got2 == [("A", "B", 2), ("B", "A", 1), ("B", "C", 1), ("C", "A", 1)]
    assert out2["n_seen"].tolist() == [6] * 4
    ts2, *_rest, bs2 = st._v
    assert bs2 == 3 and ts2 == [400_000, 500_000, 600_000]


def test_stream_markov_matches_batch_twin(spark):
    """The streaming Markov query must equal the batch operator
    row-for-row on the same fixture."""
    from osm_poi_database_maker_spark.queries import behavior as B
    from osm_poi_database_maker_spark.queries import streaming_queries as Q
    from tests.conftest import SF_SMOKE

    batch = {tuple(r) for r in B.q_events_markov_transitions(spark, SF_SMOKE).collect()}
    stream = {tuple(r) for r in Q.q_stream_markov_transitions(spark, SF_SMOKE).collect()}
    assert batch == stream


def test_stream_ivm_fold_is_batch_invariant():
    """The IVM merge is a commutative monoid: one update call vs any
    split across micro-batches must leave identical state and final
    emission."""
    import pandas as pd

    from osm_poi_database_maker_spark import streaming as S

    cents = pd.DataFrame({"cents": [500, -20, 300, 300, 70]})
    one = _FakeGroupState()
    out_one = list(S._ivm_rollup_update(("click", 19000), [cents], one))[0]

    two = _FakeGroupState()
    list(S._ivm_rollup_update(("click", 19000), [cents.iloc[:2]], two))
    out_two = list(S._ivm_rollup_update(("click", 19000), [cents.iloc[2:]], two))[0]

    assert one._v == two._v == (5, 1150, -20, 500)
    assert out_one.equals(out_two)
    assert out_one.iloc[0].tolist() == ["click", 19000, 5, 1150, -20, 500]


def test_stream_ivm_matches_batch_twin(spark):
    """The streaming IVM rollup must equal the batch operator
    row-for-row, including the ivm_match audit column (all true)."""
    from osm_poi_database_maker_spark.queries import events as E
    from osm_poi_database_maker_spark.queries import streaming_queries as Q
    from tests.conftest import SF_SMOKE

    batch_rows = E.q_events_incremental_rollup(spark, SF_SMOKE).collect()
    stream_rows = Q.q_stream_incremental_rollup(spark, SF_SMOKE).collect()
    assert {tuple(r) for r in batch_rows} == {tuple(r) for r in stream_rows}
    assert all(r["ivm_match"] for r in stream_rows)


def test_stream_m4_fold_is_order_insensitive():
    """The M4 fold must converge to the batch twin's four points under
    any arrival order: late arrivals can steal any role, ties on value
    break toward the LOWER event_id for both min and max (mirroring the
    batch ORDER BY value DESC, event_id ASC), and splitting the same
    rows across micro-batches must leave identical state."""
    import pandas as pd

    from osm_poi_database_maker_spark import streaming as S

    rows = pd.DataFrame(
        {
            "ts_us": [400, 100, 300, 200],
            "event_id": [4, 1, 3, 2],
            "value": [30.0, 10.0, -5.0, 30.0],
        }
    )
    key = ("X", 0)
    st_one = _FakeGroupState()
    out_one = list(S._m4_update(key, [rows], st_one))[0]
    st_split = _FakeGroupState()
    list(S._m4_update(key, [rows.iloc[2:]], st_split))
    out_split = list(S._m4_update(key, [rows.iloc[:2]], st_split))[0]
    assert st_one.get == st_split.get
    r = out_one.iloc[0]
    assert (r["first_ts"], r["first_val"]) == (100, 10.0)
    assert (r["last_ts"], r["last_val"]) == (400, 30.0)
    assert (r["min_ts"], r["min_val"]) == (300, -5.0)
    # value tie 30.0 at ts 200 (eid 2) and ts 400 (eid 4): eid 2 wins
    assert (r["max_ts"], r["max_val"]) == (200, 30.0)
    assert r["n_seen"] == 4 == out_split.iloc[0]["n_seen"]


def test_stream_m4_matches_batch_twin(spark):
    """The streaming M4 query must equal the batch operator row-for-row
    on the same fixture."""
    from osm_poi_database_maker_spark.queries import events as E
    from osm_poi_database_maker_spark.queries import streaming_queries as Q
    from tests.conftest import SF_SMOKE

    batch = {tuple(r) for r in E.q_events_m4_downsample(spark, SF_SMOKE).collect()}
    stream = {tuple(r) for r in Q.q_stream_m4_downsample(spark, SF_SMOKE).collect()}
    assert batch == stream


def test_stream_ab_matches_batch_twin(spark):
    """The streaming A/B readout must equal the batch operator exactly
    (same Lehmer split, same z) on the same fixture."""
    from osm_poi_database_maker_spark.queries import behavior as B
    from osm_poi_database_maker_spark.queries import streaming_queries as Q
    from tests.conftest import SF_SMOKE

    batch = B.q_events_ab_test(spark, SF_SMOKE).collect()
    stream = Q.q_stream_ab_test(spark, SF_SMOKE).collect()
    assert [tuple(r) for r in batch] == [tuple(r) for r in stream]


def test_stream_cusum_fold_matches_batch_and_deflags():
    """The per-emission CUSUM recompute must equal the batch math on the
    observed prefix, and flags raised on a short prefix must DISAPPEAR
    from the newest emission when later data blows up the variance —
    the heartbeat row is what makes that retraction selectable."""
    import numpy as np
    import pandas as pd

    from osm_poi_database_maker_spark import streaming as S

    st = _FakeGroupState()
    # prefix: 30 quiet hours then a sustained level shift to 8 -> the
    # cumulative drift clears 4*sd after a few shifted hours
    b1 = pd.DataFrame({"hi": list(range(35)), "c": [1] * 30 + [8] * 5})
    out1 = list(S._cusum_update(0.5, 4.0)(("A",), [b1], st))[0]
    flagged1 = out1[out1["is_flag"]]
    assert len(flagged1) > 0 and (flagged1["direction"] == "up").all()
    # continuation: wild 0/200 alternation -> sd explodes, the old level
    # shift is noise now; newest emission carries only the heartbeat
    b2 = pd.DataFrame(
        {"hi": list(range(35, 75)), "c": [200 if h % 2 else 1 for h in range(40)]}
    )
    out2 = list(S._cusum_update(0.5, 4.0)(("A",), [b2], st))[0]
    assert out2["n_seen"].iloc[0] > out1["n_seen"].iloc[0]
    assert not out2["is_flag"].any()

    # parity: the sequential batch fold on the final state agrees
    his, ns = st.get
    span = np.arange(his[0], his[-1] + 1)
    n = np.zeros(len(span), dtype=np.int64)
    for h, c in zip(his, ns):
        n[h - his[0]] = c
    mu = n.sum() / len(n)
    sd = (((n * n).sum() - len(n) * mu * mu) / (len(n) - 1)) ** 0.5
    s = 0.0
    any_flag = False
    for x in n:
        s = max(0.0, s + (x - mu - 0.5 * sd))
        any_flag |= s > 4.0 * sd
    assert not any_flag


def test_stream_wfunnel_fold_finalizes_old_views():
    """A view older than watermark − window is FINAL: it folds into the
    scalar max and its events drop from state, while live views keep
    improving with late chain completions."""
    import pandas as pd

    from osm_poi_database_maker_spark import streaming as S

    class _WmState(_FakeGroupState):
        def __init__(self):
            super().__init__()
            self._wm = 0

        def getCurrentWatermarkMs(self):
            return self._wm

    H = S._WFUNNEL_WINDOW_US
    st = _WmState()
    b1 = pd.DataFrame(
        {
            "ts_us": [0, 1000, 2000],
            "event_id": [1, 2, 3],
            "event_type": ["view", "click", "purchase"],
        }
    )
    out1 = list(S._wfunnel_update((5,), [b1], st))[0]
    assert out1["level"].tolist() == [3] and out1["n_seen"].tolist() == [3]
    # advance the watermark past view_ts + window: the level-3 view
    # folds, all three events drop
    st._wm = (2 * H) // 1000
    b2 = pd.DataFrame(
        {"ts_us": [2 * H + 10], "event_id": [4], "event_type": ["view"]}
    )
    out2 = list(S._wfunnel_update((5,), [b2], st))[0]
    folded_max, n_seen, ts, _, _ = st._v
    assert folded_max == 3 and n_seen == 4
    assert ts == [2 * H + 10]  # old events pruned
    assert out2["level"].tolist() == [3]  # folded max still reported
    # a late chain inside the horizon upgrades the LIVE view
    b3 = pd.DataFrame(
        {
            "ts_us": [2 * H + 20, 2 * H + 30],
            "event_id": [5, 6],
            "event_type": ["click", "purchase"],
        }
    )
    out3 = list(S._wfunnel_update((5,), [b3], st))[0]
    assert out3["level"].tolist() == [3] and out3["n_seen"].tolist() == [6]


def test_stream_wfunnel_matches_batch_twin(spark):
    from osm_poi_database_maker_spark.queries import behavior as B
    from osm_poi_database_maker_spark.queries import streaming_queries as Q
    from tests.conftest import SF_SMOKE

    batch = {tuple(r) for r in B.q_events_window_funnel(spark, SF_SMOKE).collect()}
    stream = {tuple(r) for r in Q.q_stream_window_funnel(spark, SF_SMOKE).collect()}
    assert batch == stream


def test_kmv_rolling_stamp_multibatch_replay(spark, tmp_path):
    """The r9 advice fix, exercised on a REAL multi-micro-batch replay
    (not a fake state): stream the events fixture as 4 files ×
    maxFilesPerTrigger=1, and assert (1) every day's emissions carry
    STRICTLY INCREASING n_seen stamps even where the sketch saturated
    (the capped-minima stamp tied here), and (2) newest-wins selection
    over the multi-batch emissions lands on the same minima as a
    single-batch availableNow replay — batch-boundary invariance of
    the day-sketch fixpoint."""
    import os
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    raw = spark.read.parquet(f"{SF_SMOKE}/events.parquet").orderBy("ts").collect()
    d = str(tmp_path / "batches")
    os.makedirs(d)
    q = len(raw) // 4
    for i in range(4):
        chunk = raw[i * q : (i + 1) * q if i < 3 else len(raw)]
        pq.write_table(
            pa.Table.from_pylist([r.asDict() for r in chunk]),
            f"{d}/events_{i:02d}.parquet",
        )

    name = f"kmvmb_{_uuid.uuid4().hex[:8]}"
    _run_to_memory(
        S.kmv_daily_sketch_state(S.stream_events(spark, d, max_files_per_trigger=1)),
        name,
        "update",
    )
    rows = spark.table(name).collect()
    per_day: dict[int, list] = {}
    for r in rows:
        per_day.setdefault(r["day"], []).append((r["n_seen"], tuple(r["minima"])))
    multi_batch_days = 0
    for day, ems in per_day.items():
        stamps = [s for s, _ in ems]
        assert len(set(stamps)) == len(stamps), f"day {day}: tied stamps {stamps}"
        multi_batch_days += len(ems) > 1
    assert multi_batch_days > 0, "fixture never spanned a batch boundary"

    ref_name = f"kmvsb_{_uuid.uuid4().hex[:8]}"
    _run_to_memory(
        S.kmv_daily_sketch_state(S.stream_events(spark, SF_SMOKE)), ref_name, "update"
    )
    ref = {r["day"]: tuple(r["minima"]) for r in spark.table(ref_name).collect()}
    newest = {day: max(ems)[1] for day, ems in per_day.items()}
    assert newest == ref, "newest-wins multi-batch minima diverge from single-batch"


def test_cdc_latest_state_leaves_no_temp_dir(spark, tmp_path, monkeypatch):
    """The CDC query's MERGE target and stream checkpoint live in a
    private temp root; the returned state must not depend on it, and
    nothing of it may outlive the call."""
    import tempfile

    from osm_poi_database_maker_spark.queries.streaming_queries import (
        q_stream_cdc_latest_state,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    rows = q_stream_cdc_latest_state(spark, SF_SMOKE).collect()
    assert rows
    assert not list(tmp_path.glob("ospdms_cdc_*"))
