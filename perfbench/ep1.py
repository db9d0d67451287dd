"""The reference's job as one pass: PBF → tag cascade → hstore/WKB → COPY.

``copy_rows`` composes the engine's public functions the way
``queries/osm.py::q_osm_poi_pipeline_full`` does, over a generated file,
and adds the WKB ``geom`` column to the COPY line: point WKB for nodes,
polygon WKB for way rings. ``layer_metrics`` times each layer on its own,
over persisted inputs, by calling the same public functions.
"""

from __future__ import annotations

import re
import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_poi_database_maker_spark import geo, osm_fixtures, pbf, pipeline, sink
from osm_poi_database_maker_spark.ops import tags as tag_ops
from osm_poi_database_maker_spark.queries.osm import SETTINGS

from spans import Tracer, noop

COPY_COLUMNS = sink.NODE_COPY_COLUMNS
# operators that run the PBF decode in an executed plan
_DECODE_OPS = re.compile(r"\b(MapInPandas|MapInArrow|PythonMapInArrow)\b")


def _nodes(scan: DataFrame) -> DataFrame:
    return scan.filter(F.col("osm_type") == "node").select(
        "id", "version", "user_id", "tstamp", "changeset_id", "tags", "lon", "lat",
        (
            F.col("lon").between(-180.0, 180.0) & F.col("lat").between(-90.0, 90.0)
        ).alias("geom_valid"),
    )


def _ways(scan: DataFrame) -> DataFrame:
    return scan.filter(F.col("osm_type") == "way").select(
        "id", "version", "user_id", "tstamp", "changeset_id", "tags", "refs"
    )


def _way_nodes(ways: DataFrame) -> DataFrame:
    return ways.select(
        F.col("id").alias("way_id"), F.posexplode("refs").alias("sequence_id", "node_id")
    )


def routed_rows(spark, path: str) -> DataFrame:
    """Routed POI rows (osm_type + COPY_COLUMNS) before COPY rendering."""
    scan = pbf.read_pbf(spark, path)
    taginfo = osm_fixtures.taginfo_df(spark)
    nodes = _nodes(scan)
    nodes_out = pipeline.poi_nodes(nodes, taginfo, SETTINGS).select(*COPY_COLUMNS)
    ways_meta = _ways(scan)
    rings = geo.assemble_rings(_way_nodes(ways_meta), nodes.select("id", "lon", "lat"))
    ways_df = ways_meta.join(rings, ways_meta["id"] == rings["way_id"], "left").select(
        ways_meta["id"], "version", "user_id", "tstamp", "changeset_id", "tags", "ring",
        (~F.coalesce(F.col("has_missing_node"), F.lit(True))).alias("geom_valid"),
    )
    pw = pipeline.poi_ways(ways_df, taginfo, SETTINGS)
    ways_out = pw.select(
        "id", "version", "user_id",
        F.date_format("tstamp", "yyyy-MM-dd HH:mm:ss").alias("tstamp"),
        "changeset_id",
        tag_ops.hstore_literal(tag_ops.trim_tag_keys(F.col("tags"), SETTINGS.trim_tags))
        .alias("tags_hstore"),
        geo.wkb_polygon_hex(F.col("ring")).alias("geom"),
    )
    return pipeline.route_pois(nodes_out, ways_out)


def copy_rows(spark, path: str) -> DataFrame:
    """One EP1 pass: (osm_type, id, copy_line)."""
    return routed_rows(spark, path).select(
        "osm_type", "id", sink.copy_line(COPY_COLUMNS).alias("copy_line")
    )


def decode_metrics(path: str) -> dict[str, float]:
    """Single-process blob index, inflate and decode of ``path``."""
    t0 = time.perf_counter()
    index = pbf.scan_blob_index(path)
    index_s = time.perf_counter() - t0
    inflate_s = decode_s = 0.0
    blobs = entities = 0
    with open(path, "rb") as f:
        for btype, off, size in index:
            if btype != "OSMData":
                continue
            f.seek(off)
            data = f.read(size)
            t0 = time.perf_counter()
            raw = pbf.decompress_blob(data)
            t1 = time.perf_counter()
            entities += len(pbf.decode_primitive_block(raw))
            t2 = time.perf_counter()
            inflate_s += t1 - t0
            decode_s += t2 - t1
            blobs += 1
    return {
        "pbf.index_s": index_s,
        "pbf.inflate_s": inflate_s,
        "pbf.decode_s": decode_s,
        "pbf.blobs": blobs,
        "pbf.entities": entities,
        "pbf.decode_entities_per_s": entities / decode_s,
    }


def layer_metrics(spark, path: str, tracer: Tracer) -> dict[str, float]:
    """Per-layer times and counts of the EP1 pass over ``path``."""
    m = decode_metrics(path)
    m["pbf.read_pbf.scan_s"], m["pbf.read_pbf.tasks"] = tracer.timed(
        lambda: noop(pbf.read_pbf(spark, path))
    )
    plan = copy_rows(spark, path)._jdf.queryExecution().executedPlan().toString()
    m["pbf.read_pbf.decode_passes"] = len(_DECODE_OPS.findall(plan))

    held: list[DataFrame] = []

    def persist(df: DataFrame) -> DataFrame:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        held.append(df)
        return df

    try:
        scan = persist(pbf.read_pbf(spark, path))
        taginfo = osm_fixtures.taginfo_df(spark)
        nodes, ways = _nodes(scan), _ways(scan)
        dim = pipeline.build_toi_dim(taginfo, SETTINGS)
        kept_nodes = pipeline.poi_filter(pipeline.dedup_latest(nodes), dim, SETTINGS)
        kept_ways = pipeline.poi_filter(pipeline.dedup_latest(ways), dim, SETTINGS)
        m["pipeline.cascade_s"] = tracer.timed(
            lambda: (noop(kept_nodes), noop(kept_ways))
        )[0]
        m["pipeline.rows_in"] = nodes.count() + ways.count()
        m["pipeline.rows_out"] = kept_nodes.count() + kept_ways.count()
        m["pipeline.quarantined_rows"] = pipeline.quarantined_nodes(nodes).count()

        rings = geo.assemble_rings(_way_nodes(ways), nodes.select("id", "lon", "lat"))
        m["geo.assemble_rings_s"] = tracer.timed(lambda: noop(rings))[0]
        points = persist(kept_nodes.filter("geom_valid").select("lon", "lat"))
        closed = persist(rings.filter("is_closed AND NOT has_missing_node").select("ring"))
        m["geo.wkb_s"] = tracer.timed(
            lambda: (
                noop(points.select(geo.wkb_point_hex("lon", "lat"))),
                noop(closed.select(geo.wkb_polygon_hex("ring"))),
            )
        )[0]

        routed = persist(routed_rows(spark, path))
        lines = routed.select(sink.copy_line(COPY_COLUMNS).alias("line"))
        m["sink.copy_s"] = tracer.timed(lambda: noop(lines))[0]
        agg = lines.agg(F.count("*"), F.sum(F.octet_length("line") + 1)).first()
        m["sink.copy_rows"], m["sink.copy_bytes"] = int(agg[0]), int(agg[1])
    finally:
        for df in held:
            df.unpersist()
    return m
