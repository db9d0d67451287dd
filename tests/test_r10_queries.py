"""Round-10 additions: degenerate-ring centroid parity (r9 advice #1),
guarded ray-cast division (r9 advice #3), streaming psql sink
(r9 advice #4), ANN recall hash-gates, partition-pruned layout scan."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

RING_SCHEMA = "id long, ring array<struct<lon: double, lat: double>>"

# mirrors the oracle's degenerate-centroid fallback (queries/osm.py
# ORACLE_POINT_IN_POLYGON `meas` CTE) — DuckDB slices are INCLUSIVE, so
# ring[1:-2] drops exactly the duplicated closing vertex, matching
# Spark's slice(ring, 1, size-1) in geo.ring_centroid.
_DUCK_FALLBACK = """
SELECT id,
  list_sum(list_transform(ring[1:-2], p -> p.lon)) / (len(ring) - 1) AS mean_lon,
  list_sum(list_transform(ring[1:-2], p -> p.lat)) / (len(ring) - 1) AS mean_lat
FROM rings ORDER BY id
"""


def test_degenerate_ring_centroid_parity(spark):
    """A zero-area valid closed ring triggers the vertex-mean fallback
    in BOTH engines; the means must be identical — i.e. both exclude
    the duplicated closing vertex (r9 advice #1: DuckDB's ring[1:-1]
    is an inclusive slice returning the FULL list, so the oracle must
    slice ring[1:-2])."""
    from osm_poi_database_maker_spark import geo

    rows = [
        # collinear "ring": zero shoelace area, closed, size >= 4
        (1, [(0.0, 0.0), (1.0, 0.0), (2.0, 0.0), (0.0, 0.0)]),
        # zero-area spike: out-and-back along a diagonal
        (2, [(0.0, 0.0), (1.0, 1.0), (2.0, 2.0), (1.0, 1.0), (0.0, 0.0)]),
    ]
    df = spark.createDataFrame(
        [(i, [{"lon": a, "lat": b} for a, b in ring]) for i, ring in rows],
        RING_SCHEMA,
    )
    got = [
        (r["id"], r["c"]["lon"], r["c"]["lat"])
        for r in df.select("id", geo.ring_centroid(F.col("ring")).alias("c"))
        .orderBy("id")
        .collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW rings AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, [{', '.join(f'{{lon: {a}, lat: {b}}}' for a, b in ring)}])"
            for i, ring in rows
        )
        + ") AS t(id, ring)"
    )
    want = [tuple(r) for r in con.sql(_DUCK_FALLBACK).fetchall()]
    assert got == want, f"fallback centroids diverge: spark={got} duck={want}"
    # and the means genuinely exclude the closing vertex:
    assert got[0][1] == pytest.approx(1.0)  # (0+1+2)/3, not (0+1+2+0)/4
    assert got[1][1] == pytest.approx(1.0)  # (0+1+2+1)/4


def test_ray_cast_horizontal_edge_both_engines(spark):
    """The lon-intercept division is now inside a THEN branch guarded
    by the edge-crossing WHEN (r9 advice #3): a ring with horizontal
    edges whose lat EQUALS the query point's lat must produce the same
    verdict in Spark and DuckDB — neither engine's div-by-zero
    representation (Infinity vs NULL) can leak into the result."""
    from osm_poi_database_maker_spark.queries.osm import _ray_cast_sql

    # unit square: points at lat exactly on the horizontal edges
    ring = [(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0), (0.0, 0.0)]
    pts = [
        (1, 1.0, 1.0, True),   # interior
        (2, 3.0, 1.0, False),  # outside, same lat band
        (3, 1.0, 0.0, None),   # ON the bottom edge: engines must AGREE
        (4, -1.0, 2.0, None),  # colinear with the top edge, outside
    ]
    expr = _ray_cast_sql("ring", "pt_lon", "pt_lat")
    df = spark.createDataFrame(
        [(i, x, y, [{"lon": a, "lat": b} for a, b in ring]) for i, x, y, _ in pts],
        "pid long, pt_lon double, pt_lat double, "
        "ring array<struct<lon: double, lat: double>>",
    )
    got = {
        r["pid"]: r["inside"]
        for r in df.select("pid", F.expr(expr).alias("inside")).collect()
    }
    duck = (
        expr.replace(
            "aggregate(transform(sequence(1, size(ring) - 1)",
            "list_sum(list_transform(range(1, len(ring))",
        )
        .replace("element_at(ring, i + 1)", "ring[i + 1]")
        .replace("element_at(ring, i)", "ring[i]")
        .replace("!=", "<>")
        .replace("), 0, (a, x) -> a + x) % 2 = 1", ")) % 2 = 1")
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW pts AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, CAST({x} AS DOUBLE), CAST({y} AS DOUBLE), "
            f"[{', '.join(f'{{lon: {a}, lat: {b}}}' for a, b in ring)}])"
            for i, x, y, _ in pts
        )
        + ") AS t(pid, pt_lon, pt_lat, ring)"
    )
    want = dict(con.sql(f"SELECT pid, {duck} FROM pts").fetchall())
    assert got == want, f"engines diverge on horizontal edges: {got} vs {want}"
    for i, _x, _y, expect in pts:
        if expect is not None:
            assert got[i] is expect


def _strip_materialized(sql: str) -> str:
    return sql.replace(" AS MATERIALIZED (", " AS (")


def test_materialized_hints_are_pure_execution_hints():
    """ORACLE_MUTUAL_KNN / ORACLE_PAGERANK carry AS MATERIALIZED hints
    (DuckDB re-inlines unmaterialized CTEs per reference, re-running
    the n-squared scan once per closure/power-iteration reference —
    37.5 s -> 4.5 s and 15.5 s -> 0.8 s at sf0.1). The hint must be
    semantics-free: byte-identical results with and without it."""
    import duckdb

    from osm_poi_database_maker_spark.queries.dedup import ORACLE_PAGERANK
    from osm_poi_database_maker_spark.queries.similarity import ORACLE_MUTUAL_KNN

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf0.01/{t}.parquet')"
        )
    for sql in (ORACLE_MUTUAL_KNN, ORACLE_PAGERANK):
        assert "AS MATERIALIZED (" in sql
        hinted = sorted(map(tuple, con.sql(sql).fetchall()))
        plain = sorted(map(tuple, con.sql(_strip_materialized(sql)).fetchall()))
        assert hinted == plain


def test_cdc_latest_state_multi_batch_replay(spark, tmp_path):
    """stream_cdc_latest_state applied over a REAL 4-file
    maxFilesPerTrigger=1 stream (4 separate merge_upsert applications
    into the same state table) must equal the single-pass batch window
    — the within-batch reduce and the cross-batch merge share the
    (ts, event_id) version order, so batch boundaries cannot change
    the final state."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from osm_poi_database_maker_spark.queries.streaming_queries import (
        q_stream_cdc_latest_state,
    )
    from tests.conftest import SF_SMOKE

    raw = spark.read.parquet(f"{SF_SMOKE}/events.parquet").orderBy("ts").collect()
    d = str(tmp_path / "cdc_batches")
    import os

    os.makedirs(d)
    q = len(raw) // 4
    for i in range(4):
        chunk = raw[i * q : (i + 1) * q if i < 3 else len(raw)]
        pq.write_table(
            pa.Table.from_pylist([r.asDict() for r in chunk]),
            f"{d}/events_{i:02d}.parquet",
        )
    streamed = {
        tuple(r)
        for r in q_stream_cdc_latest_state(
            spark, d, _max_files_per_trigger=1
        ).collect()
    }
    batch = {
        tuple(r) for r in q_stream_cdc_latest_state(spark, SF_SMOKE).collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_label_smoothing_big_oracle_matches_window_form():
    """ORACLE_LABEL_SMOOTHING_BIG (hash-aggregate list_sort top-k,
    6.6 s -> 1.4 s at sf0.1) must be byte-identical to the row_number
    window original at the SFs where the driver gates."""
    import duckdb

    from osm_poi_database_maker_spark.queries.similarity import (
        ORACLE_LABEL_SMOOTHING,
        ORACLE_LABEL_SMOOTHING_BIG,
    )

    for sf in ("sf0.001", "sf0.01"):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('/root/testdata/{sf}/embeddings.parquet')"
        )
        a = sorted(map(tuple, con.sql(ORACLE_LABEL_SMOOTHING).fetchall()))
        b = sorted(map(tuple, con.sql(ORACLE_LABEL_SMOOTHING_BIG).fetchall()))
        assert a == b and len(a) > 0, sf


def test_orders_bucketed_join_plan_rides_buckets(spark):
    """The registered orders_bucketed_join must actually ride the
    bucketed layout. At fixture scale Catalyst (correctly) broadcasts
    the tiny customer side, so the layout property is pinned on the
    merge-hinted twin over the SAME catalog tables: SortMergeJoin with
    ZERO shuffle Exchange below it — the shuffle was paid at write
    time. The registered plan itself must show bucketed scans."""
    from osm_poi_database_maker_spark.queries.core import q_orders_bucketed_join
    from tests.conftest import SF_SMOKE

    df = q_orders_bucketed_join(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan and "SelectedBucketsCount" in plan
    assert df.count() == 5

    # the catalog tables were registered by the query above
    to = next(
        t.name for t in spark.catalog.listTables() if t.name.startswith("bkt_orders_")
    )
    tc = next(
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("bkt_customer_")
    )
    o, c = spark.table(to), spark.table(tc)
    smj = o.hint("merge").join(c, o["o_custkey"] == c["c_custkey"])
    smj_plan = smj._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in smj_plan
    below = smj_plan[smj_plan.index("SortMergeJoin"):]
    assert "Exchange" not in below, below[:2000]


def test_orders_bucketed_join_writes_its_tables_once(spark):
    """The bucketed tables are written once and only registered after
    that: a session whose catalog has lost them (as every new process's
    in-memory catalog has) re-registers the same files instead of
    deleting and rewriting them under another process's live query."""
    import os

    from osm_poi_database_maker_spark.queries.core import q_orders_bucketed_join
    from tests.conftest import SF_SMOKE

    def locations():
        out = {}
        for t in spark.catalog.listTables():
            if t.name.startswith(("bkt_orders_", "bkt_customer_")):
                rows = spark.sql(f"DESCRIBE TABLE EXTENDED {t.name}").collect()
                loc = next(r.data_type for r in rows if r.col_name == "Location")
                out[t.name] = loc.removeprefix("file:")
        return out

    def files(locs):
        snap = {}
        for loc in locs.values():
            for root, _, names in os.walk(loc):
                for n in names:
                    st = os.stat(os.path.join(root, n))
                    snap[os.path.join(root, n)] = (st.st_ino, st.st_mtime_ns)
        return snap

    first = sorted(map(tuple, q_orders_bucketed_join(spark, SF_SMOKE).collect()))
    locs = locations()
    assert len(locs) == 2
    before = files(locs)
    assert any(p.endswith(".parquet") for p in before)
    for name in locs:
        spark.sql(f"DROP TABLE {name}")
    again = sorted(map(tuple, q_orders_bucketed_join(spark, SF_SMOKE).collect()))
    assert again == first
    assert locations() == locs
    assert files(locs) == before


def test_salted_join_left_keeps_unmatched_rows_once(spark):
    """salted_join(how='left') must emit every unmatched skewed row
    EXACTLY once (the salt explode touches only the dim side) and
    match the plain left join on matched rows."""
    from osm_poi_database_maker_spark.ops.skew import salted_join

    skewed = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d")], "k int, payload string"
    )
    dim = spark.createDataFrame([(1, "hot"), (9, "cold")], "k int, tier string")
    got = sorted(
        tuple(r) for r in salted_join(skewed, dim, "k", n_salts=4, how="left").collect()
    )
    want = sorted(tuple(r) for r in skewed.join(dim, "k", "left").collect())
    assert got == want
    assert sum(1 for r in got if r[1] in ("c", "d")) == 2  # unmatched, once each


def test_merge_upsert_empty_batch_preserves_state(spark, tmp_path):
    """An empty CDC micro-batch applied through merge_upsert must leave
    the state table byte-identical (the foreachBatch path sees empty
    batches on availableNow catch-ups)."""
    from osm_poi_database_maker_spark.sink import merge_upsert

    target = str(tmp_path / "state")
    base = spark.createDataFrame(
        [(1, 10, 100), (2, 20, 200)], "user_id int, ts int, event_id int"
    )
    merge_upsert(spark, target, base, key="user_id", version_cols=("ts", "event_id"))
    before = sorted(tuple(r) for r in spark.read.parquet(target).collect())
    empty = spark.createDataFrame([], "user_id int, ts int, event_id int")
    merge_upsert(spark, target, empty, key="user_id", version_cols=("ts", "event_id"))
    after = sorted(tuple(r) for r in spark.read.parquet(target).collect())
    assert before == after == [(1, 10, 100), (2, 20, 200)]


def test_retrieval_ndcg_zero_candidate_query_parity(spark, tmp_path):
    """A query whose terms never occur in the corpus must be ABSENT
    from both engines' outputs identically (no spurious zero rows on
    one side only)."""
    import duckdb

    from osm_poi_database_maker_spark.queries.text import (
        ORACLE_RETRIEVAL_NDCG,
        q_doc_retrieval_ndcg,
    )

    d = str(tmp_path / "docs")
    rows = [
        (1, "spark join stream spark", "en", "a", 1),
        (2, "hash merge sort hash", "en", "a", 1),
        (3, "spark stream", "en", "b", 1),
    ]  # qid 3's terms (customer/order/query) never occur
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = sorted(tuple(r) for r in q_doc_retrieval_ndcg(spark, d).collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    want = sorted(tuple(r) for r in con.sql(ORACLE_RETRIEVAL_NDCG).fetchall())
    assert got == want
    assert {r[0] for r in got} == {1, 2}  # qid 3 absent from BOTH
