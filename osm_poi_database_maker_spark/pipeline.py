"""The POI ETL pipeline (reference EP1 + EP3), Spark-first.

Composable transforms mirroring the reference's end-to-end flow
(``filter.py:158-269`` + ``ways_to_centroids.sql``), parameterized by
:class:`~osm_poi_database_maker_spark.settings.Settings`:

    build_toi_dim      O14: per-key top-k by count, then in_wiki / ';' filter
    dedup_latest       O13: idempotent-write rule — highest (version, tstamp) wins
    poi_filter         O3 → O4 → O5 → O6 predicate cascade
    poi_nodes          node branch: cascade + O7 geometry + O8/O11 projection
    poi_ways           way branch: cascade + ring validity + area/centroid
    ways_to_centroids  O18: small polygons → point POIs in the +36e9 id space

All predicates are column expressions; the TOI dimension is broadcast; the
only Python-UDF step is WKB byte encoding. Every transform returns a plain
DataFrame so Catalyst fuses the cascade into one stage over the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import geo
from .ops import tags as tag_ops
from .settings import Settings


def build_toi_dim(taginfo: DataFrame, settings: Settings) -> DataFrame:
    """O14: reproduce the TagInfo fetch semantics — the API returns the
    top-k values per key sorted by count (reference filter.py:239, rp=100)
    and the client then drops not-in-wiki and ';'-containing values
    (filter.py:245). Rank cut happens BEFORE the client-side filters,
    exactly as in the reference."""
    w = Window.partitionBy("key").orderBy(F.desc("count"), F.asc("value"))
    return (
        taginfo.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= settings.toi_top_values)
        .filter(F.col("in_wiki") & ~F.col("value").contains(";"))
        .select("key", "value", "count")
    )


def toi_dim_from_cache(spark, path: str, settings: Settings) -> DataFrame:
    """TOI dimension from a ``tags.json`` cache written by
    :func:`~osm_poi_database_maker_spark.io.fetch_taginfo_cache`. Cached
    values were already filtered at retrieval (reference
    retrieve_taginfo drops not-in-wiki and ';' values, filter.py:245)
    and rank-cut server-side (rp=100), so re-applying
    :func:`build_toi_dim` is idempotent — one code path builds the
    dimension whether the source is the live API, the cache, or a
    fixture table."""
    from .io import taginfo_from_json

    raw = taginfo_from_json(spark, path).withColumn("in_wiki", F.lit(True))
    return build_toi_dim(raw, settings)


def cache_toi_dim(taginfo: DataFrame, settings: Settings, path: str) -> DataFrame:
    """O15 (reference filter.py:282-299): the tags.json cache as a
    poor-man's materialized view — build the TOI dimension once, publish
    it as parquet (:func:`~osm_poi_database_maker_spark.io.write_once`),
    and serve every later run from the cached copy; an existing ``path``
    is only ever read. The dimension is tiny (≤ keys × top-k rows), so
    the cache is a single file; `coalesce(1)` keeps it one task to write
    and one to broadcast."""
    from .io import write_once

    write_once(
        path,
        lambda tmp: build_toi_dim(taginfo, settings).coalesce(1).write.parquet(tmp),
    )
    return taginfo.sparkSession.read.parquet(path)


def route_pois(nodes_out: DataFrame, ways_out: DataFrame) -> DataFrame:
    """O16 (reference filter.py:185-211 + SKIP_WAYS settings gate): the
    way-vs-node routing as ONE unioned DataFrame tagged with
    ``osm_type`` — write it with ``partitionBy("osm_type")`` (see
    sink.write_routed) and each entity type lands in its own directory,
    the Spark shape of the reference's separate nodes/ways tables.
    Disjoint id spaces stay auditable because the type tag travels with
    the row (cf. the reference's accidental relation-id collisions,
    SURVEY §2.1)."""
    n = nodes_out.withColumn("osm_type", F.lit("node"))
    w = ways_out.withColumn("osm_type", F.lit("way"))
    return n.unionByName(w, allowMissingColumns=True)


def dedup_latest(df: DataFrame) -> DataFrame:
    """Idempotent-write rule replacing the reference's duplicate-PK abort
    (filter.py:58-64): the highest (version, tstamp) row per id wins."""
    w = Window.partitionBy("id").orderBy(F.desc("version"), F.desc("tstamp"))
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def poi_filter(df: DataFrame, toi_dim: DataFrame, settings: Settings) -> DataFrame:
    """O3→O4→O5→O6 cascade. Catalyst combines the three cheap map
    predicates into the scan filter; the TOI membership is a broadcast
    semi-join with single-row semantics."""
    out = df.filter(tag_ops.non_empty_tags(F.col("tags")))
    if settings.skip_no_name:
        out = out.filter(tag_ops.has_tag_key(F.col("tags"), "name"))
    if settings.exclude:
        out = out.filter(~tag_ops.excluded_by_superset(F.col("tags"), settings.exclude))
    return tag_ops.toi_semi_join(out, toi_dim, settings.min_occurrences)


def _projection(df: DataFrame, settings: Settings) -> DataFrame:
    """O8 + O11: trim tags, render hstore literal, format timestamp."""
    trimmed = tag_ops.trim_tag_keys(F.col("tags"), settings.trim_tags)
    return df.select(
        "id",
        "version",
        F.col("user_id"),
        F.date_format("tstamp", "yyyy-MM-dd HH:mm:ss").alias("tstamp"),
        "changeset_id",
        tag_ops.hstore_literal(trimmed).alias("tags_hstore"),
        *[c for c in df.columns if c in ("lon", "lat", "ring", "geom")],
    )


def poi_nodes(nodes: DataFrame, taginfo: DataFrame, settings: Settings) -> DataFrame:
    """Node branch of EP1: dedup → cascade → WKB point geometry with the
    O7 NULL-on-invalid contract → projection. Output columns:
    (id, version, user_id, tstamp, changeset_id, tags_hstore, lon, lat,
    geom hex-WKB)."""
    dim = build_toi_dim(taginfo, settings)
    filtered = poi_filter(dedup_latest(nodes), dim, settings)
    # the UDF is NULL exactly when a coordinate is NULL or NaN (pandas
    # reads NaN as missing), so filtering on its inputs keeps the rows a
    # filter on its output keeps; that filter would be pushed below the
    # TOI semi-join with its own copy of the UDF
    lon, lat = F.col("lon"), F.col("lat")
    with_geom = filtered.filter(
        F.col("geom_valid")
        & lon.isNotNull()
        & lat.isNotNull()
        & ~F.isnan(lon)
        & ~F.isnan(lat)
    ).withColumn("geom", geo.wkb_point_hex(lon, lat))
    return _projection(with_geom, settings)


def quarantined_nodes(nodes: DataFrame) -> DataFrame:
    """O7/O13 dead-letter branch: rows whose geometry build failed."""
    return dedup_latest(nodes).filter(
        ~F.col("geom_valid") | F.col("lon").isNull() | F.col("lat").isNull()
    )


def poi_ways(ways: DataFrame, taginfo: DataFrame, settings: Settings) -> DataFrame:
    """Way branch of EP1: dedup → cascade → ring validity (closed, ≥4
    points — osmium's area-assembly contract) → spherical area + planar
    centroid columns. Returns rows with ``ring``, ``area_m2``,
    ``centroid`` for downstream sinks / centroid conversion."""
    if settings.skip_ways:
        return ways.limit(0)
    dim = build_toi_dim(taginfo, settings)
    filtered = poi_filter(dedup_latest(ways), dim, settings)
    ring = F.col("ring")
    first = F.element_at(ring, 1)
    last = F.element_at(ring, -1)
    valid = (
        F.col("geom_valid")
        & ring.isNotNull()
        & (F.size(ring) >= 4)
        & (first["lon"] == last["lon"])
        & (first["lat"] == last["lat"])
    )
    return (
        filtered.filter(valid)
        .withColumn("area_m2", geo.ring_area_sphere_m2(ring))
        .withColumn("centroid", geo.ring_centroid(ring))
    )


def ways_to_centroids(poi_ways_df: DataFrame, settings: Settings) -> DataFrame:
    """O18 (reference ways_to_centroids.sql): polygons with spheroid area
    ≤ threshold become point POIs with id + 36e9 (disjoint id space).
    Input is :func:`poi_ways` output."""
    return (
        poi_ways_df.filter(F.col("area_m2") <= F.lit(settings.centroid_area_m2))
        .select(
            (F.col("id") + F.lit(settings.centroid_id_offset)).alias("id"),
            "version",
            "user_id",
            "tstamp",
            "changeset_id",
            "tags",
            F.col("centroid.lon").alias("lon"),
            F.col("centroid.lat").alias("lat"),
            "area_m2",
        )
    )
