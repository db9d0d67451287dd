"""Pipeline semantics tests against the FIXTURES.md Part B edge cases."""

from __future__ import annotations

import dataclasses

from osm_poi_database_maker_spark import osm_fixtures as fx
from osm_poi_database_maker_spark.pipeline import (
    build_toi_dim,
    dedup_latest,
    poi_nodes,
    poi_ways,
    quarantined_nodes,
    ways_to_centroids,
)
from osm_poi_database_maker_spark.queries.osm import SETTINGS


def test_toi_dim_semantics(spark):
    dim = {(r.key, r.value): r["count"] for r in build_toi_dim(fx.taginfo_df(spark), SETTINGS).collect()}
    assert ("amenity", "cafe") in dim
    assert ("amenity", "bar;pub") not in dim  # ';' dropped
    assert ("amenity", "nowiki") not in dim  # in_wiki false
    assert ("amenity", "v105") not in dim  # cut by top-100 rank
    assert ("amenity", "edge") in dim  # survives build; threshold applies later
    # exactly the per-key top-100 minus client-side drops
    assert ("shop", "bakery") in dim and ("tourism", "hotel") in dim


def test_poi_nodes_edge_cases(spark):
    out = {r.id: r for r in poi_nodes(fx.nodes_df(spark), fx.taginfo_df(spark), SETTINGS).collect()}
    ids = set(out)
    assert {1, 2, 3, 4, 11, 12, 13, 14, 16, 17, 100} == ids
    # multi-key match emits exactly one row
    rows4 = [r for r in out.values() if r.id == 4]
    assert len(rows4) == 1
    # duplicate id resolved to highest version
    assert '"name"=>"Dup v2"' in out[16].tags_hstore
    # trim keys stripped
    assert "note" not in out[13].tags_hstore and "fixme" not in out[13].tags_hstore
    # escaping
    assert '\\"Quote\\"' in out[14].tags_hstore and "\n" not in out[14].tags_hstore
    # timestamps at second precision
    assert out[1].tstamp == "2023-05-01 10:00:00"
    # WKB geometry present and well-formed
    assert out[1].geom.startswith("0101000000")


def test_skip_no_name_flag(spark):
    s = dataclasses.replace(SETTINGS, skip_no_name=True)
    ids = {r.id for r in poi_nodes(fx.nodes_df(spark), fx.taginfo_df(spark), s).collect()}
    assert 12 not in ids  # the only kept-by-default node without a name
    assert 1 in ids


def test_quarantine(spark):
    q = {r.id for r in quarantined_nodes(fx.nodes_df(spark)).collect()}
    assert q == {15}


def test_dedup_latest(spark):
    d = dedup_latest(fx.nodes_df(spark))
    assert d.filter("id = 16").count() == 1


def test_ways_to_centroids(spark):
    pw = poi_ways(fx.ways_df(spark), fx.taginfo_df(spark), SETTINGS)
    cents = {r.id: r for r in ways_to_centroids(pw, SETTINGS).collect()}
    # small squares 100 and 106 converted, with the +36e9 offset
    assert set(cents) == {36_000_000_100, 36_000_000_106}
    assert all(r.area_m2 <= 20_000 for r in cents.values())
    # large way 101 kept as polygon, not centroid
    kept = {r.id for r in pw.collect()}
    assert 101 in kept and 103 not in kept and 104 not in kept


def test_poi_nodes_plan_runs_the_wkb_udf_once(spark):
    """The geometry filter reads the UDF's inputs, not its output, so no
    copy of the UDF is pushed below the TOI semi-join."""
    out = poi_nodes(fx.nodes_df(spark), fx.taginfo_df(spark), SETTINGS)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1


def test_poi_nodes_drops_a_nan_coordinate_flagged_valid(spark):
    """A NaN coordinate gives a NULL geometry, so its row is dropped even
    where ``geom_valid`` says true, as a filter on the geometry drops it."""
    cafe = fx.NODES[0]
    nan = float("nan")
    extra = [(901, *cafe[1:6], nan, 52.1, True), (902, *cafe[1:6], 5.1, nan, True)]
    nodes = fx.nodes_df(spark).unionByName(spark.createDataFrame(extra, fx._NODE_SCHEMA))
    ids = {r.id for r in poi_nodes(nodes, fx.taginfo_df(spark), SETTINGS).collect()}
    assert 1 in ids and not ids & {901, 902}
