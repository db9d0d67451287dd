"""Data-quality operator semantics on planted tables (oracle equivalence
is gated in tier-1 by tests/test_entry.py::test_query_runs_on_smoke_sf)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

_ORDERS_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate date, o_orderpriority string"
)


def _d(s: str) -> datetime.date:
    return datetime.date.fromisoformat(s)


def test_column_profile_planted(spark, monkeypatch):
    """Null counts, exact distincts, and min/max rendering per column."""
    from osm_poi_database_maker_spark.queries import profiling as P

    orders = spark.createDataFrame(
        [
            (1, 10, "O", 100.0, _d("1995-01-01"), "1-URGENT"),
            (2, 10, "F", 250.5, _d("1995-06-15"), "5-LOW"),
            (3, 20, None, 99.994, _d("1994-12-31"), "5-LOW"),
        ],
        _ORDERS_SCHEMA,
    )
    monkeypatch.setattr(P, "load_table", lambda s, sf, n: orders)
    got = {r.col_name: r for r in P.q_orders_column_profile(spark, "x").collect()}
    assert set(got) == {c for c, _ in P._PROFILE_COLS}
    assert all(r.n_rows == 3 for r in got.values())
    assert (got["o_orderstatus"].n_nulls, got["o_orderstatus"].n_distinct) == (1, 2)
    assert (got["o_custkey"].n_distinct, got["o_custkey"].n_nulls) == (2, 0)
    # numeric min/max render through DECIMAL(18,2): fixed 2-dp strings
    assert got["o_totalprice"].min_repr == "99.99"
    assert got["o_totalprice"].max_repr == "250.50"
    assert got["o_orderdate"].min_repr == "1994-12-31"
    assert got["o_orderdate"].max_repr == "1995-06-15"


def test_mad_outliers_planted(spark, monkeypatch):
    """Median/MAD robust z on a hand-computable distribution: one planted
    extreme row must rank first and carry the exact score."""
    from osm_poi_database_maker_spark.queries import profiling as P

    # prices 1..9 (median 5, |x-5| -> [4,3,2,1,0,1,2,3,4], MAD 2.5...)
    # residuals sorted: 0,1,1,2,2,3,3,4,4 -> median = 2; plus outlier 1005
    rows = [(i, 1, float(i)) for i in range(1, 10)] + [(99, 1, 1005.0)]
    li = spark.createDataFrame(
        rows, "l_orderkey long, l_linenumber int, l_extendedprice double"
    )
    monkeypatch.setattr(P, "load_table", lambda s, sf, n: li)
    got = P.q_lineitem_price_outliers_mad(spark, "x").collect()
    assert len(got) == 10
    top = got[0]
    # 10 values: median = 5.5; residuals vs 5.5 = [4.5,3.5,...,0.5,999.5]
    # sorted: .5,.5,1.5,1.5,2.5,2.5,3.5,3.5,4.5,999.5 -> MAD = 2.5
    assert top.l_orderkey == 99
    assert abs(top.robust_z - round(999.5 / (1.4826 * 2.5), 4)) < 1e-9
    # deterministic ordering: strictly non-increasing z
    zs = [r.robust_z for r in got]
    assert zs == sorted(zs, reverse=True)


def test_mad_outliers_constant_column(spark, monkeypatch):
    """mad=0 degrades to z=0 rather than dividing by zero."""
    from osm_poi_database_maker_spark.queries import profiling as P

    li = spark.createDataFrame(
        [(i, 1, 7.0) for i in range(5)],
        "l_orderkey long, l_linenumber int, l_extendedprice double",
    )
    monkeypatch.setattr(P, "load_table", lambda s, sf, n: li)
    got = P.q_lineitem_price_outliers_mad(spark, "x").collect()
    assert got and all(r.robust_z == 0.0 for r in got)


def test_k_anonymity_planted(spark, monkeypatch):
    """Groups under k distinct users are flagged; groups at/above k are
    not; repeat rows from one user don't inflate n_users."""
    from osm_poi_database_maker_spark.queries import profiling as P

    ts = datetime.datetime(2024, 1, 1, 9, 0, 0)
    ts2 = datetime.datetime(2024, 1, 1, 10, 0, 0)
    rows = (
        # hour 09: 5 distinct users -> safe
        [(i, ts, 100 + i, "view", 1.0, "{}") for i in range(5)]
        # hour 10: 2 users across 3 rows -> at risk
        + [(10, ts2, 200, "view", 1.0, "{}"),
           (11, ts2, 200, "view", 1.0, "{}"),
           (12, ts2, 201, "view", 1.0, "{}")]
    )
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(P, "load_table", lambda s, sf, n: e)
    got = P.q_events_k_anonymity(spark, "x").collect()
    assert len(got) == 1
    r = got[0]
    assert (r.event_type, r.hour, r.n_rows, r.n_users) == (
        "view", "2024-01-01 10", 3, 2
    )


def test_name_linkage_planted(spark, monkeypatch):
    """Blocking semantics: near-identical names pair only inside their
    (nation, segment) block; distance > 2 is dropped; each unordered
    pair counts once."""
    from osm_poi_database_maker_spark.queries import profiling as P

    customers = spark.createDataFrame(
        [
            (1, "Customer#001", 0, "BUILDING"),
            (2, "Customer#002", 0, "BUILDING"),   # dist 1 from #001
            (3, "Customer#002", 0, "MACHINERY"),  # other block: excluded
            (4, "Customer#999", 0, "BUILDING"),   # dist 3 from both: dropped
            (5, "Customer#101", 1, "BUILDING"),   # other nation
            (6, "Customer#102", 1, "BUILDING"),   # dist 1 from #101
        ],
        "c_custkey long, c_name string, c_nationkey long, c_mktsegment string",
    )
    nation = spark.createDataFrame(
        [(0, "ALGERIA"), (1, "ARGENTINA")], "n_nationkey long, n_name string"
    )
    monkeypatch.setattr(
        P,
        "load_table",
        lambda s, sf, name: customers if name == "customer" else nation,
    )
    got = {(r.nation, r.dist): r.n_pairs
           for r in P.q_customer_name_linkage(spark, "x").collect()}
    assert got == {("ALGERIA", 1): 1, ("ARGENTINA", 1): 1}


def test_bm25_planted(spark, monkeypatch):
    """BM25 ranking semantics: higher tf wins at equal length, longer
    docs are penalized, and only docs containing a query term appear."""
    from osm_poi_database_maker_spark.queries import text as T

    docs = spark.createDataFrame(
        [
            (1, "spark spark join pad", "en", "s", 20),      # tf(spark)=2
            (2, "spark join pad pad", "en", "s", 18),        # tf(spark)=1
            (3, "spark join " + "pad " * 20 + "end", "en", "s", 90),  # long
            (4, "nothing relevant here", "en", "s", 21),     # no query term
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(T, "load_table", lambda s, sf, n: docs)
    got = T.q_doc_bm25_topk(spark, "x").collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.qid, []).append(r)
    q1 = sorted(by_q[1], key=lambda r: r.rk)
    ids = [r.doc_id for r in q1]
    assert 4 not in ids                      # never retrieved
    assert ids.index(1) < ids.index(2)       # tf dominance
    assert ids.index(2) < ids.index(3)       # length normalization
    for rows in by_q.values():               # ranks contiguous from 1
        assert sorted(r.rk for r in rows) == list(range(1, len(rows) + 1))


def test_incremental_dedup_planted(spark, monkeypatch):
    """Admit decision vs a historical split: exact copies and
    high-containment docs are rejected, fresh docs admitted."""
    from osm_poi_database_maker_spark.queries import dedup as D

    hist_text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            # history: doc_id % 10 < 8
            (0, hist_text, "en", "s", 1),
            (1, "one two three four five six", "en", "s", 1),
            # incoming: exact copy of doc 0
            (8, hist_text, "en", "s", 1),
            # incoming: fully contained shingles (subset of doc 0)
            (9, "alpha beta gamma delta epsilon", "en", "s", 1),
            # incoming: fresh content
            (18, "totally novel words appear in this document", "en", "s", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(D, "load_table", lambda s, sf, n: docs)
    got = {r.doc_id: r for r in D.q_doc_incremental_dedup(spark, "x").collect()}
    assert set(got) == {8, 9, 18}
    assert (got[8].exact_dup, got[8].admit) == (1, 0)
    assert got[9].exact_dup == 0
    assert (got[9].hist_overlap, got[9].admit) == (1.0, 0)
    assert (got[18].exact_dup, got[18].hist_overlap, got[18].admit) == (0, 0.0, 1)


def test_triangles_planted(spark, monkeypatch):
    """One triangle + one dangling edge: counts and clustering exact."""
    from osm_poi_database_maker_spark.queries import dedup as D

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "doc_a long, doc_b long"
    ).withColumn("shared", F.lit(1)).withColumn("jaccard", F.lit(1.0))
    monkeypatch.setattr(D, "_ngram_pairs", lambda s, sf: pairs)
    r = D.q_doc_graph_triangles(spark, "x").collect()[0]
    # degrees: 1->2, 2->2, 3->3, 4->1; wedges = 1+1+3+0 = 5
    assert (r.n_edges, r.n_triangles, r.n_wedges) == (4, 1, 5)
    assert r.global_clustering == round(3.0 * 1 / 5, 4)


def test_profiling_fixture_smoke(spark):
    """Registry entries run end-to-end on the smoke fixture."""
    from osm_poi_database_maker_spark.queries import profiling as P

    prof = P.q_orders_column_profile(spark, SF_SMOKE).collect()
    assert len(prof) == len(P._PROFILE_COLS)
    mad = P.q_lineitem_price_outliers_mad(spark, SF_SMOKE).collect()
    assert len(mad) == P._MAD_TOPK
    link = P.q_customer_name_linkage(spark, SF_SMOKE).collect()
    assert all(r.dist <= P._LINK_MAX_DIST for r in link)


def test_new_operator_plan_shapes(spark):
    """Plan-shape guards for the round-4 operators: no cartesian
    products, no row-at-a-time Python UDFs, and the specific shuffle
    discipline each docstring claims."""
    from osm_poi_database_maker_spark.queries.behavior import q_events_user_lifecycle
    from osm_poi_database_maker_spark.queries.curation import q_emb_centroid_drift
    from osm_poi_database_maker_spark.queries.dedup import q_doc_incremental_dedup
    from osm_poi_database_maker_spark.queries.profiling import (
        q_customer_name_linkage,
        q_events_k_anonymity,
        q_lineitem_price_outliers_mad,
        q_orders_column_profile,
    )
    from osm_poi_database_maker_spark.queries.text import q_doc_bm25_topk

    queries = [
        q_doc_bm25_topk,
        q_doc_incremental_dedup,
        q_orders_column_profile,
        q_lineitem_price_outliers_mad,
        q_events_k_anonymity,
        q_customer_name_linkage,
        q_emb_centroid_drift,
        q_events_user_lifecycle,
    ]
    plans = {}
    for q in queries:
        plan = q(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, q.__name__
        assert "BatchEvalPython" not in plan, q.__name__
        plans[q.__name__] = plan

    # MAD outliers: top-k must be TakeOrderedAndProject, never a global Sort
    assert "TakeOrderedAndProject" in plans["q_lineitem_price_outliers_mad"]
    # linkage ranks WITHIN blocks — the Window operator's partition spec
    # must carry the block key (a bare "c_nationkey" substring check
    # would be vacuous: the scan's column list always contains it)
    assert "windowspecdefinition(c_nationkey" in plans["q_customer_name_linkage"]
    # lifecycle: the lag window must reuse the distinct's user partitioning
    # (exactly one user_id hash exchange in the plan)
    assert plans["q_events_user_lifecycle"].count(
        "hashpartitioning(user_id"
    ) == 1, plans["q_events_user_lifecycle"]


def test_hist_quantiles_error_bounded_by_bin_width(spark):
    """The histogram estimate is the lower edge of the bin holding the
    ceil(q*n)-th value, so it can never be more than ~2 bin widths from
    the exact interpolated percentile."""
    from osm_poi_database_maker_spark.io import load_table
    from osm_poi_database_maker_spark.queries import profiling as P
    from tests.conftest import SF_SMOKE

    rows = P.q_lineitem_hist_quantiles(spark, SF_SMOKE).collect()
    assert {r.q for r in rows} == set(P._HIST_QS)
    import pyspark.sql.functions as F

    li = load_table(spark, SF_SMOKE, "lineitem")
    mn, mx = li.agg(F.min("l_extendedprice"), F.max("l_extendedprice")).first()
    width = (mx - mn) / P._HIST_BINS
    for r in rows:
        assert r.abs_err <= 2 * width + 1e-9, r
        assert mn <= r.hist_estimate <= mx


def test_edit_pairs_fastss_complete_and_exact(spark, monkeypatch):
    """The deletion-neighborhood join finds EVERY pair at distance ≤ 1 —
    substitution, insertion, and deletion — counts duplicates as
    distance 0, and excludes distance-2 pairs even when they share a
    deletion signature."""
    from osm_poi_database_maker_spark.queries import profiling as P

    rows = [
        (1, "abcd", 0, 0.0, "m"),
        (2, "abxd", 0, 0.0, "m"),   # substitution -> dist 1 with 1
        (3, "abcde", 0, 0.0, "m"),  # insertion    -> dist 1 with 1
        (4, "bcd", 0, 0.0, "m"),    # deletion     -> dist 1 with 1
        (5, "abcd", 0, 0.0, "m"),   # duplicate    -> dist 0 with 1
        (6, "xycd", 0, 0.0, "m"),   # dist 2 from "abcd": must NOT pair with 1
    ]
    c = spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey long, c_acctbal double, "
        "c_mktsegment string",
    )
    monkeypatch.setattr(P, "load_table", lambda s_, sf_, n_: c)
    got = {r.dist: r.n_pairs for r in P.q_customer_edit_pairs(spark, "x").collect()}
    # dist 1: (1,2),(1,3),(1,4),(2,5),(3,5),(4,5) — 5 duplicates 1's pairs
    assert got == {0: 1, 1: 6}


def test_l_diversity_catches_homogeneous_group(spark, monkeypatch):
    """A QI group that is k-anonymous (many users) but value-homogeneous
    must be flagged with dominant_share 1.0; a diverse group (>= 3
    distinct sensitive deciles) must not appear."""
    import datetime as dt

    from osm_poi_database_maker_spark.queries import profiling as P

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = []
    # homogeneous hour: 6 users, every value in decile 2 (20-29)
    for u in range(6):
        rows.append((u, t0, u, "click", 25.0, "{}"))
    # diverse hour: values across deciles 0,3,7
    t1 = t0 + dt.timedelta(hours=2)
    for u, v in enumerate((5.0, 35.0, 75.0)):
        rows.append((100 + u, t1, u, "click", v, "{}"))
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(P, "load_table", lambda s_, sf_, n_: e)
    out = {(r.event_type, r.hour): r for r in P.q_events_l_diversity(spark, "x").collect()}
    assert set(out) == {("click", "2024-01-01 10")}
    r = out[("click", "2024-01-01 10")]
    assert r.l_distinct == 1 and r.dominant_share == 1.0 and r.n_rows == 6
