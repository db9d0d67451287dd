"""Reference-parity pipeline queries, driver-checked.

The driver's fixtures carry no OSM-shaped tables, so these queries run the
REAL pipeline (osm_poi_database_maker_spark.pipeline) over the
deterministic fixtures in :mod:`..osm_fixtures` — and their oracles embed
the SAME rows as inline VALUES, re-implementing the reference semantics in
pure DuckDB SQL. Full differential coverage of the cascade (O3–O8, O11,
O13, O14), relational ring assembly (O10/O17), and the centroid
post-processing (O18), including every FIXTURES.md Part B edge case.

``sf_dir`` is accepted and ignored — the pipeline fixture is scale-fixed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import geo, osm_fixtures as fx
from ..io import derived_path, write_once
from ..pipeline import (
    build_toi_dim,
    dedup_latest,
    poi_filter,
    poi_nodes,
    poi_ways,
    ways_to_centroids,
)
from ..settings import Settings

SETTINGS = Settings(
    exclude=fx.EXCLUDE,
    trim_tags=fx.TRIM,
    min_occurrences=fx.MIN_OCCURRENCES,
    toi_top_values=fx.TOI_TOP,
)

_R2_HALF = geo.EARTH_RADIUS_M * geo.EARTH_RADIUS_M / 2

# --- shared oracle fragments ----------------------------------------------

_DIM_SQL = f"""
  SELECT key, value, "count" FROM (
    SELECT key, value, "count", in_wiki,
           row_number() OVER (PARTITION BY key ORDER BY "count" DESC, value ASC) AS rk
    FROM ({fx.taginfo_values_sql()})
  ) WHERE rk <= {fx.TOI_TOP} AND in_wiki AND value NOT LIKE '%;%'
"""


def _hstore_sql(json_col: str, trim: tuple[str, ...]) -> str:
    trim_list = ", ".join(f"'{t}'" for t in trim)
    esc = (
        "replace(replace(regexp_replace({v}, '[\\n\\r\\t]', ' ', 'g'), "
        "'\\', '\\\\'), '\"', '\\\"')"
    )
    key_esc = esc.format(v="k")
    val_esc = esc.format(v=f"json_extract_string({json_col}, '$.\"' || k || '\"')")
    return f"""
      list_aggregate(
        list_transform(
          list_sort(list_filter(json_keys({json_col}), k -> k NOT IN ({trim_list}))),
          k -> '"' || {key_esc} || '"=>"' || {val_esc} || '"'
        ), 'string_agg', ','
      )
    """


def _cascade_where(json_col: str) -> str:
    """O3 + O5 (fixture exclude tuple: amenity=cafe AND access=private)."""
    return f"""
      {json_col} <> '{{}}'
      AND NOT coalesce(json_extract_string({json_col}, '$.amenity') = 'cafe'
                       AND json_extract_string({json_col}, '$.access') = 'private', FALSE)
    """


def _matched_sql(src: str, prefix: str = "") -> str:
    """O6: ids whose tag map hits the thresholded dimension. ``prefix``
    namespaces the CTEs so two cascades (e.g. ways + relations) can
    coexist in one WITH chain."""
    return f"""
  {prefix}kv AS (
    SELECT id, k, json_extract_string(tags_json, '$."' || k || '"') AS v
    FROM (SELECT id, tags_json, unnest(json_keys(tags_json)) AS k FROM {src})
  ),
  {prefix}matched AS (
    SELECT DISTINCT {prefix}kv.id FROM {prefix}kv
    JOIN dim ON {prefix}kv.k = dim.key AND {prefix}kv.v = dim.value
    WHERE dim."count" > {fx.MIN_OCCURRENCES}
  )
"""


# --- O14: TOI dimension build ----------------------------------------------

def q_osm_toi_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_toi_dim(fx.taginfo_df(spark), SETTINGS)


ORACLE_TOI_DIM = _DIM_SQL


# --- node branch: full cascade ---------------------------------------------

def q_osm_poi_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = poi_nodes(fx.nodes_df(spark), fx.taginfo_df(spark), SETTINGS)
    return out.select("id", "tstamp", "tags_hstore", "lon", "lat")


ORACLE_POI_NODES = f"""
WITH raw AS ({fx.nodes_values_sql()}),
dedup AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY version DESC, tstamp DESC) AS rn
    FROM raw
  ) WHERE rn = 1
),
dim AS ({_DIM_SQL}),
{_matched_sql("dedup")}
SELECT d.id,
       strftime(d.tstamp, '%Y-%m-%d %H:%M:%S') AS tstamp,
       {_hstore_sql("d.tags_json", fx.TRIM)} AS tags_hstore,
       d.lon, d.lat
FROM dedup d
WHERE d.geom_valid AND d.lon IS NOT NULL AND d.lat IS NOT NULL
  AND {_cascade_where("d.tags_json")}
  AND d.id IN (SELECT id FROM matched)
"""


# --- O10/O17: relational ring assembly -------------------------------------

def q_osm_way_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    wn, nd = fx.way_nodes_and_nodes_df(spark)
    rings = geo.assemble_rings(wn, nd)
    return rings.select(
        "way_id",
        F.size("ring").cast("long").alias("n_points"),
        "is_closed",
        "has_missing_node",
    )


ORACLE_WAY_ASSEMBLY = f"""
WITH wn AS ({fx.way_nodes_values_sql()}),
nd AS ({fx.ring_nodes_values_sql()}),
j AS (
  SELECT wn.way_id, wn.sequence_id, nd.lon, nd.lat
  FROM wn LEFT JOIN nd ON wn.node_id = nd.id
),
r AS (
  SELECT way_id,
         list(struct_pack(lon := lon, lat := lat) ORDER BY sequence_id) AS ring,
         max(CASE WHEN lon IS NULL THEN 1 ELSE 0 END) AS missing
  FROM j GROUP BY way_id
)
SELECT way_id,
       len(ring) AS n_points,
       (len(ring) >= 4 AND ring[1].lon = ring[-1].lon
        AND ring[1].lat = ring[-1].lat) AS is_closed,
       missing = 1 AS has_missing_node
FROM r
"""


# --- O18: ways → centroids --------------------------------------------------

def q_osm_ways_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    pw = poi_ways(fx.ways_df(spark), fx.taginfo_df(spark), SETTINGS)
    cent = ways_to_centroids(pw, SETTINGS)
    return cent.select(
        "id",
        F.round("lon", 7).alias("lon"),
        F.round("lat", 7).alias("lat"),
        F.round("area_m2", 2).alias("area_m2"),
    )


_AREA_TERMS = (
    "list_transform(range(1, len(ring)), i -> "
    "(radians(ring[i+1].lon) - radians(ring[i].lon)) * "
    "(sin(radians(ring[i].lat)) + sin(radians(ring[i+1].lat))))"
)
_CROSS = "(ring[i].lon * ring[i+1].lat - ring[i+1].lon * ring[i].lat)"

ORACLE_WAYS_CENTROIDS = f"""
WITH w AS ({fx.ways_values_sql()}),
dim AS ({_DIM_SQL}),
{_matched_sql("w")},
f AS (
  SELECT * FROM w
  WHERE geom_valid AND ring IS NOT NULL AND len(ring) >= 4
    AND ring[1].lon = ring[-1].lon AND ring[1].lat = ring[-1].lat
    AND {_cascade_where("tags_json")}
    AND id IN (SELECT id FROM matched)
),
meas AS (
  SELECT id, ring,
    abs(list_sum({_AREA_TERMS})) * {_R2_HALF!r} AS area_m2,
    list_sum(list_transform(range(1, len(ring)), i -> {_CROSS})) AS a2,
    list_sum(list_transform(range(1, len(ring)),
             i -> (ring[i].lon + ring[i+1].lon) * {_CROSS})) AS cx,
    list_sum(list_transform(range(1, len(ring)),
             i -> (ring[i].lat + ring[i+1].lat) * {_CROSS})) AS cy,
    -- DuckDB slices are INCLUSIVE: ring[1:-2] drops only the duplicated
    -- closing vertex, matching Spark's slice(ring, 1, size-1) fallback.
    list_sum(list_transform(ring[1:-2], p -> p.lon)) / (len(ring) - 1) AS mean_lon,
    list_sum(list_transform(ring[1:-2], p -> p.lat)) / (len(ring) - 1) AS mean_lat
  FROM f
)
SELECT id + {SETTINGS.centroid_id_offset} AS id,
       round(CASE WHEN abs(a2) < 1e-12 THEN mean_lon ELSE cx / (3 * a2) END, 7) AS lon,
       round(CASE WHEN abs(a2) < 1e-12 THEN mean_lat ELSE cy / (3 * a2) END, 7) AS lat,
       round(area_m2, 2) AS area_m2
FROM meas
WHERE area_m2 <= {SETTINGS.centroid_area_m2!r}
"""


# --- O10 full semantics: multipolygon relations, holes, orig_id ------------

_SIGN_A2 = "(CASE WHEN a2_raw > 0 THEN 1.0 WHEN a2_raw < 0 THEN -1.0 ELSE 0.0 END)"
_ROLE_SIGN = "(CASE WHEN role = 'outer' THEN 1.0 ELSE -1.0 END)"


def _relation_stats_sql() -> str:
    """CTE chain re-deriving areas.relation_area_stats in DuckDB:
    member resolution, SEGMENT STITCHING as a recursive CTE, per-ring
    spherical area + shoelace moments, and the role-signed
    winding-normalized aggregation. Expects a ``dim`` CTE in scope;
    defines rels/rdedup/mw/rm/mr/.../mr2/per_ring/rstats.

    The stitch walk mirrors areas.stitch_member_rings: open segments
    chain endpoint-to-endpoint; every endpoint must have degree exactly
    2, which makes the successor UNIQUE — so the recursion needs no
    tie-breaking and the resulting cycles (hence areas/centroids) are
    walk-order independent. A cycle is kept once, from the walk that
    started at its smallest member id; (relation, role) groups whose
    segments aren't fully covered by kept cycles are failure-marked."""
    return f"""
rels AS ({fx.relations_values_sql()}),
rdedup AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY version DESC, tstamp DESC) AS rn
    FROM rels
  ) WHERE rn = 1
),
mw AS ({fx.member_way_rings_values_sql()}),
rm AS ({fx.relation_members_values_sql()}),
mr AS (
  SELECT rm.relation_id, rm.member_id, rm.member_role AS role, mw.ring,
         mw.ring IS NOT NULL AS found,
         coalesce(mw.is_closed, FALSE) AS ring_ok
  FROM rm LEFT JOIN mw ON rm.member_id = mw.way_id
  WHERE rm.member_type = 'W' AND rm.member_role IN ('outer', 'inner')
),
seg AS (
  SELECT relation_id, role, member_id, ring FROM mr
  WHERE found AND NOT ring_ok AND ring IS NOT NULL
),
seg_bad AS (  -- an endpoint of degree <> 2, or an undersized segment
  SELECT DISTINCT relation_id, role FROM (
    SELECT relation_id, role, pt, count(*) AS deg FROM (
      SELECT relation_id, role, ring[1] AS pt FROM seg WHERE len(ring) >= 2
      UNION ALL
      SELECT relation_id, role, ring[-1] AS pt FROM seg WHERE len(ring) >= 2
    ) GROUP BY 1, 2, 3
  ) WHERE deg <> 2
  UNION
  SELECT relation_id, role FROM seg WHERE len(ring) < 2
),
walk AS (
  SELECT s.relation_id, s.role, s.member_id AS start_id, s.ring AS cur_ring,
         [s.member_id] AS used
  FROM seg s
  WHERE NOT EXISTS (SELECT 1 FROM seg_bad b
                    WHERE b.relation_id = s.relation_id AND b.role = s.role)
  UNION ALL
  SELECT w.relation_id, w.role, w.start_id,
         w.cur_ring || (CASE WHEN s.ring[1] = w.cur_ring[-1]
                             THEN s.ring[2:]
                             ELSE list_reverse(s.ring)[2:] END),
         list_append(w.used, s.member_id)
  FROM walk w
  JOIN seg s ON s.relation_id = w.relation_id AND s.role = w.role
   AND NOT list_contains(w.used, s.member_id)
   AND (s.ring[1] = w.cur_ring[-1] OR s.ring[-1] = w.cur_ring[-1])
  WHERE w.cur_ring[1] <> w.cur_ring[-1]
),
cycles AS (  -- each cycle once: the walk that started at its min member id
  SELECT relation_id, role, start_id AS member_id, cur_ring AS ring, used
  FROM walk
  WHERE cur_ring[1] = cur_ring[-1] AND len(cur_ring) >= 4
    AND start_id = list_aggregate(used, 'min')
),
stitch_fail AS (  -- segments not fully consumed by kept cycles
  SELECT sc.relation_id, sc.role FROM
    (SELECT relation_id, role, count(*) AS n_seg FROM seg GROUP BY 1, 2) sc
  LEFT JOIN
    (SELECT relation_id, role, CAST(sum(len(used)) AS BIGINT) AS covered
     FROM cycles GROUP BY 1, 2) cov
  ON cov.relation_id = sc.relation_id AND cov.role = sc.role
  WHERE coalesce(cov.covered, 0) <> sc.n_seg
),
mr2 AS (  -- closed pass-through + stitched rings + failure/missing markers
  SELECT relation_id, member_id, role, ring, found, ring_ok FROM mr
  WHERE ring_ok OR NOT found
  UNION ALL
  SELECT relation_id, member_id, role, ring, TRUE, TRUE FROM cycles
  UNION ALL
  SELECT f.relation_id, min(s.member_id), f.role, NULL, TRUE, FALSE
  FROM stitch_fail f JOIN seg s
    ON s.relation_id = f.relation_id AND s.role = f.role
  GROUP BY f.relation_id, f.role
),
per_ring AS (
  SELECT relation_id, role, found, ring_ok,
    CASE WHEN ring_ok THEN abs(list_sum({_AREA_TERMS})) * {_R2_HALF!r} END AS sphere_m2,
    CASE WHEN ring_ok THEN list_sum(list_transform(range(1, len(ring)), i -> {_CROSS})) END AS a2_raw,
    CASE WHEN ring_ok THEN list_sum(list_transform(range(1, len(ring)),
             i -> (ring[i].lon + ring[i+1].lon) * {_CROSS})) END AS cx_raw,
    CASE WHEN ring_ok THEN list_sum(list_transform(range(1, len(ring)),
             i -> (ring[i].lat + ring[i+1].lat) * {_CROSS})) END AS cy_raw
  FROM mr2
),
rstats AS (
  SELECT relation_id,
    CAST(sum(CASE WHEN role = 'outer' THEN 1 ELSE 0 END) AS BIGINT) AS n_outer,
    CAST(sum(CASE WHEN role = 'inner' THEN 1 ELSE 0 END) AS BIGINT) AS n_inner,
    min(CASE WHEN found THEN 1 ELSE 0 END) AS all_found,
    min(CASE WHEN ring_ok THEN 1 ELSE 0 END) AS all_closed,
    sum({_ROLE_SIGN} * sphere_m2) AS area_raw,
    sum({_ROLE_SIGN} * {_SIGN_A2} * a2_raw) AS a2,
    sum({_ROLE_SIGN} * {_SIGN_A2} * cx_raw) AS cx,
    sum({_ROLE_SIGN} * {_SIGN_A2} * cy_raw) AS cy
  FROM per_ring GROUP BY 1
),
rmeas AS (
  SELECT relation_id, n_outer, n_inner,
    (all_found = 1 AND all_closed = 1 AND n_outer >= 1) AS is_valid,
    CASE WHEN all_found = 0 THEN 'missing_member'
         WHEN all_closed = 0 THEN 'open_ring'
         WHEN n_outer = 0 THEN 'no_outer_ring' END AS invalid_reason,
    area_raw,
    CASE WHEN abs(a2) >= 1e-12 THEN cx / (3 * a2) END AS c_lon,
    CASE WHEN abs(a2) >= 1e-12 THEN cy / (3 * a2) END AS c_lat
  FROM rstats
)"""


def q_osm_relation_areas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relation-derived areas with hole-aware measures AND the
    dead-letter rows (is_valid=false + reason) — full differential
    coverage of the assembly semantics the reference gets from osmium
    (filter.py:128-144): the donut whose net area crosses the 20000 m²
    line only when its hole is subtracted, winding normalization, the
    two-outer multipolygon, missing-member and open-ring quarantine,
    and the relation-id/way-id collision (orig_id space)."""
    from ..areas import member_rings, relation_area_stats, stitch_member_rings

    dim = build_toi_dim(fx.taginfo_df(spark), SETTINGS)
    filtered = poi_filter(dedup_latest(fx.relations_df(spark)), dim, SETTINGS)
    stats = relation_area_stats(
        stitch_member_rings(
            member_rings(fx.relation_members_df(spark), fx.member_way_rings_df(spark))
        )
    )
    out = filtered.join(stats, filtered["id"] == stats["relation_id"])
    return out.select(
        "id",
        "n_outer",
        "n_inner",
        "is_valid",
        "invalid_reason",
        F.round(F.when(F.col("is_valid"), F.col("area_m2")), 2).alias("area_m2"),
        F.round(F.when(F.col("is_valid"), F.col("centroid.lon")), 7).alias("lon"),
        F.round(F.when(F.col("is_valid"), F.col("centroid.lat")), 7).alias("lat"),
    )


ORACLE_RELATION_AREAS = f"""
WITH RECURSIVE dim AS ({_DIM_SQL}),
{_relation_stats_sql()},
{_matched_sql("rdedup", prefix="r_")}
SELECT d.id, m.n_outer, m.n_inner, m.is_valid, m.invalid_reason,
       round(CASE WHEN m.is_valid THEN m.area_raw END, 2) AS area_m2,
       round(CASE WHEN m.is_valid THEN m.c_lon END, 7) AS lon,
       round(CASE WHEN m.is_valid THEN m.c_lat END, 7) AS lat
FROM rdedup d
JOIN rmeas m ON m.relation_id = d.id
WHERE {_cascade_where("d.tags_json")}
  AND d.id IN (SELECT id FROM r_matched)
"""


def q_osm_mp_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O18 over the UNIFIED area stream (way-derived ∪ relation-derived,
    reference filter.py:142-144 + ways_to_centroids.sql): hole-aware
    net area ≤ 20000 m² → centroid POI in the +36e9 id space.
    ``area_src`` keeps provenance where the reference's shared ways
    table loses it (two fixture areas collide on id 100 on purpose)."""
    from ..areas import areas_to_centroids, areas_union, poi_relation_areas

    pw = poi_ways(fx.ways_df(spark), fx.taginfo_df(spark), SETTINGS)
    pr = poi_relation_areas(
        fx.relations_df(spark),
        fx.relation_members_df(spark),
        fx.member_way_rings_df(spark),
        fx.taginfo_df(spark),
        SETTINGS,
    )
    cent = areas_to_centroids(areas_union(pw, pr), SETTINGS)
    return cent.select(
        "id",
        F.round("lon", 7).alias("lon"),
        F.round("lat", 7).alias("lat"),
        F.round("area_m2", 2).alias("area_m2"),
        "area_src",
    )


ORACLE_MP_CENTROIDS = f"""
WITH RECURSIVE w AS ({fx.ways_values_sql()}),
dim AS ({_DIM_SQL}),
{_matched_sql("w")},
{_relation_stats_sql()},
{_matched_sql("rdedup", prefix="r_")},
f AS (
  SELECT * FROM w
  WHERE geom_valid AND ring IS NOT NULL AND len(ring) >= 4
    AND ring[1].lon = ring[-1].lon AND ring[1].lat = ring[-1].lat
    AND {_cascade_where("tags_json")}
    AND id IN (SELECT id FROM matched)
),
meas AS (
  SELECT id, ring,
    abs(list_sum({_AREA_TERMS})) * {_R2_HALF!r} AS area_m2,
    list_sum(list_transform(range(1, len(ring)), i -> {_CROSS})) AS a2,
    list_sum(list_transform(range(1, len(ring)),
             i -> (ring[i].lon + ring[i+1].lon) * {_CROSS})) AS cx,
    list_sum(list_transform(range(1, len(ring)),
             i -> (ring[i].lat + ring[i+1].lat) * {_CROSS})) AS cy,
    -- DuckDB slices are INCLUSIVE: ring[1:-2] drops only the duplicated
    -- closing vertex, matching Spark's slice(ring, 1, size-1) fallback.
    list_sum(list_transform(ring[1:-2], p -> p.lon)) / (len(ring) - 1) AS mean_lon,
    list_sum(list_transform(ring[1:-2], p -> p.lat)) / (len(ring) - 1) AS mean_lat
  FROM f
),
way_cent AS (
  SELECT id + {SETTINGS.centroid_id_offset} AS id,
         round(CASE WHEN abs(a2) < 1e-12 THEN mean_lon ELSE cx / (3 * a2) END, 7) AS lon,
         round(CASE WHEN abs(a2) < 1e-12 THEN mean_lat ELSE cy / (3 * a2) END, 7) AS lat,
         round(area_m2, 2) AS area_m2,
         'way' AS area_src
  FROM meas
  WHERE area_m2 <= {SETTINGS.centroid_area_m2!r}
),
rel_cent AS (
  SELECT d.id + {SETTINGS.centroid_id_offset} AS id,
         round(m.c_lon, 7) AS lon,
         round(m.c_lat, 7) AS lat,
         round(m.area_raw, 2) AS area_m2,
         'relation' AS area_src
  FROM rdedup d
  JOIN rmeas m ON m.relation_id = d.id
  WHERE m.is_valid AND m.area_raw <= {SETTINGS.centroid_area_m2!r}
    AND {_cascade_where("d.tags_json")}
    AND d.id IN (SELECT id FROM r_matched)
)
SELECT * FROM way_cent UNION ALL SELECT * FROM rel_cent
"""


# --- O4: skip_no_name cascade variant ---------------------------------------

SETTINGS_NONAME = Settings(
    exclude=fx.EXCLUDE,
    trim_tags=fx.TRIM,
    min_occurrences=fx.MIN_OCCURRENCES,
    toi_top_values=fx.TOI_TOP,
    skip_no_name=True,
)


def q_osm_poi_nodes_noname(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The node cascade with SKIP_NO_NAME=True (reference
    settings_default.py knob, filter.py:167-169): identical to
    osm_poi_nodes except nameless node 12 is dropped — every reference
    setting now has an oracle-checked path."""
    out = poi_nodes(fx.nodes_df(spark), fx.taginfo_df(spark), SETTINGS_NONAME)
    return out.select("id", "tstamp", "tags_hstore", "lon", "lat")


ORACLE_POI_NODES_NONAME = ORACLE_POI_NODES + """
  AND json_extract_string(d.tags_json, '$.name') IS NOT NULL
"""


# --- O19: spatial bucketing + bbox pruning ---------------------------------

_BBOX = (5.115, 52.105, 5.225, 52.225)  # lon_min, lat_min, lon_max, lat_max


def q_osm_spatial_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bbox query through the spatial bucketing layer (O19,
    schema.sql:264-266): the grid-cell IN-list prunes at the scan, the
    exact bbox predicate trims the residue; the cell id is returned so
    the oracle verifies the quantization itself."""
    from ..spatial import GRID_RES, bbox_filter, grid_cell, with_spatial_keys

    nodes = fx.nodes_df(spark).filter(F.col("lon").isNotNull())
    out = bbox_filter(nodes, *_BBOX)
    return out.select(
        "id", "lon", "lat", grid_cell(F.col("lon"), F.col("lat"), GRID_RES).alias("cell")
    )


_N_GRID = 1 << 12
ORACLE_SPATIAL_BBOX = f"""
WITH raw AS ({fx.nodes_values_sql()}),
cells AS (
  SELECT id, lon, lat,
         greatest(0, least({_N_GRID - 1}, CAST(floor((lon + 180.0) / 360.0 * {_N_GRID}) AS BIGINT))) * {_N_GRID}
         + greatest(0, least({_N_GRID - 1}, CAST(floor((lat + 90.0) / 180.0 * {_N_GRID}) AS BIGINT))) AS cell
  FROM raw WHERE lon IS NOT NULL
)
SELECT id, lon, lat, cell FROM cells
WHERE lon >= {_BBOX[0]} AND lon <= {_BBOX[2]} AND lat >= {_BBOX[1]} AND lat <= {_BBOX[3]}
"""


_DENSITY_TOP = 20


def q_osm_poi_density_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POI density rollup over the O19 grid: nodes per cell, ranked to
    the top-{k} densest cells — the heatmap/pre-aggregation query a
    tile server runs over the spatial bucketing layer (the aggregate
    companion to osm_spatial_bbox's pruning and
    osm_node_neighbor_pairs' join). One cell-keyed hash aggregate
    (partial map-side) then a distributed TakeOrderedAndProject top-k;
    the id checksum makes the gate sensitive to any quantization
    drift, and ties rank by cell id. The floor arithmetic mirrors the
    oracle expression ORDER exactly (left-assoc (lon+180)/360*N —
    the documented quantization-parity rule)."""
    from ..spatial import GRID_RES, grid_cell

    nodes = fx.nodes_df(spark).filter(F.col("lon").isNotNull())
    return (
        nodes.select(
            grid_cell(F.col("lon"), F.col("lat"), GRID_RES).alias("cell"),
            "id",
        )
        .groupBy("cell")
        .agg(F.count("*").alias("n_nodes"), F.sum("id").alias("id_checksum"))
        .orderBy(F.desc("n_nodes"), F.asc("cell"))
        .limit(_DENSITY_TOP)
    )


q_osm_poi_density_grid.__doc__ = q_osm_poi_density_grid.__doc__.format(
    k=_DENSITY_TOP
)


_N_GRID_D = 1 << 12
ORACLE_DENSITY_GRID = f"""
WITH raw AS ({fx.nodes_values_sql()}),
cells AS (
  SELECT id,
         greatest(0, least({_N_GRID_D - 1}, CAST(floor((lon + 180.0) / 360.0 * {_N_GRID_D}) AS BIGINT))) * {_N_GRID_D}
         + greatest(0, least({_N_GRID_D - 1}, CAST(floor((lat + 90.0) / 180.0 * {_N_GRID_D}) AS BIGINT))) AS cell
  FROM raw WHERE lon IS NOT NULL
)
SELECT cell, count(*) AS n_nodes, CAST(sum(id) AS BIGINT) AS id_checksum
FROM cells GROUP BY 1
ORDER BY n_nodes DESC, cell ASC LIMIT {_DENSITY_TOP}
"""


_NEIGHBOR_KM = 3.0
_EARTH_KM = geo.EARTH_RADIUS_M / 1000.0

from ..spatial import KM_PER_DEG as _KM_PER_DEG  # noqa: E402
from ..spatial import MAX_LON_REACH as _MAX_LON_REACH  # noqa: E402


def q_osm_node_neighbor_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed spatial distance join: pairs of nodes within 3 km by
    great-circle (haversine) distance — the duplicate-POI candidate
    detector (two benches 50 m apart are one bench), and the join-shaped
    extension of the O19 bucketing layer.

    Plan: each node probes with its radius-aware neighbor-cell array
    (``spatial.neighbor_cells(radius_km=...)``: ±1 lat ring — a lat
    cell edge is ~4.9 km ≥ the radius at any latitude — and a
    longitude reach that widens by 1/cos(lat), so the cover stays
    complete at high latitudes where lon cells shrink below the
    radius; capped at MAX_LON_REACH with the polar-cap and ±180°-seam
    residuals documented in spatial.py), candidates pair via an
    EQUI-join on cell id — never an all-pairs cross join — and the
    exact haversine trims the residue.
    Each unordered pair is found exactly once (the build side carries
    one cell, the probe array is distinct, id_a < id_b picks one
    direction). At planet scale both sides are one cell-keyed exchange,
    candidate volume is bounded by points-per-cell² per cell (the
    spatial analogue of the shingle df-cap), and hot cells (city
    centers) split by salting the build side. The distance rounds to 4
    decimals (0.1 m) in BOTH engines before the threshold compare, so
    libm ulp differences can't flip a boundary row."""
    from ..spatial import grid_cell, neighbor_cells

    nodes = fx.nodes_df(spark).filter(
        F.col("lon").isNotNull() & F.col("lat").isNotNull() & F.col("geom_valid")
    )
    build = nodes.select(
        F.col("id").alias("id_b"),
        F.col("lon").alias("lon_b"),
        F.col("lat").alias("lat_b"),
        grid_cell(F.col("lon"), F.col("lat")).alias("cell"),
    )
    probe = nodes.select(
        F.col("id").alias("id_a"),
        F.col("lon").alias("lon_a"),
        F.col("lat").alias("lat_a"),
        F.explode(
            neighbor_cells(F.col("lon"), F.col("lat"), radius_km=_NEIGHBOR_KM)
        ).alias("cell"),
    )
    rlat_a, rlat_b = F.radians("lat_a"), F.radians("lat_b")
    dlat = (rlat_b - rlat_a) / 2
    dlon = (F.radians("lon_b") - F.radians("lon_a")) / 2
    h = F.sin(dlat) * F.sin(dlat) + F.cos(rlat_a) * F.cos(rlat_b) * F.sin(dlon) * F.sin(dlon)
    dist_km = F.round(F.lit(2 * _EARTH_KM) * F.asin(F.sqrt(h)), 4)
    return (
        probe.join(build, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist_km", dist_km)
        .filter(F.col("dist_km") <= _NEIGHBOR_KM)
        .select("id_a", "id_b", "dist_km")
    )


ORACLE_NEIGHBOR_PAIRS = f"""
WITH raw AS ({fx.nodes_values_sql()}),
pts AS (
  SELECT id, lon, lat,
         greatest(0, least({_N_GRID - 1}, CAST(floor((lon + 180.0) / 360.0 * {_N_GRID}) AS BIGINT))) AS ix,
         greatest(0, least({_N_GRID - 1}, CAST(floor((lat + 90.0) / 180.0 * {_N_GRID}) AS BIGINT))) AS iy,
         -- radius-aware longitude reach, mirroring spatial.neighbor_cells
         -- (worst cos within the radius: partner may sit pole-ward)
         CAST(least({_MAX_LON_REACH}, greatest(1, ceil(
           {_NEIGHBOR_KM} / ({360.0 / _N_GRID * _KM_PER_DEG!r}
             * cos(radians(least(89.99, abs(lat) + {_NEIGHBOR_KM / _KM_PER_DEG!r}))))
         ))) AS INT) AS reach
  FROM raw
  WHERE lon IS NOT NULL AND lat IS NOT NULL AND geom_valid
),
build AS (SELECT id AS id_b, lon AS lon_b, lat AS lat_b, ix * {_N_GRID} + iy AS cell FROM pts),
probe AS (
  SELECT DISTINCT p.id AS id_a, p.lon AS lon_a, p.lat AS lat_a,
         (p.ix + dx.d) * {_N_GRID} + (p.iy + dy.d) AS cell
  FROM pts p
  CROSS JOIN (VALUES (-1), (0), (1)) AS dy(d)
  CROSS JOIN LATERAL (SELECT unnest(range(-p.reach, p.reach + 1)) AS d) AS dx
  WHERE p.ix + dx.d BETWEEN 0 AND {_N_GRID - 1}
    AND p.iy + dy.d BETWEEN 0 AND {_N_GRID - 1}
),
cand AS (
  SELECT id_a, id_b,
         round(2 * {_EARTH_KM!r} * asin(sqrt(
           sin((radians(lat_b) - radians(lat_a)) / 2)
             * sin((radians(lat_b) - radians(lat_a)) / 2)
           + cos(radians(lat_a)) * cos(radians(lat_b))
             * sin((radians(lon_b) - radians(lon_a)) / 2)
             * sin((radians(lon_b) - radians(lon_a)) / 2)
         )), 4) AS dist_km
  FROM probe JOIN build USING (cell)
  WHERE id_a < id_b
)
SELECT id_a, id_b, dist_km FROM cand WHERE dist_km <= {_NEIGHBOR_KM}
"""


def q_osm_poi_nearest_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor-within-radius join: for every valid node, THE
    closest other node within 3 km (haversine), with deterministic
    (rounded-distance, id) tie-break — the "snap each POI to its
    nearest station" shape, i.e. the top-1 specialization of the
    all-pairs distance join above. Candidates come from the same
    radius-aware neighbor-cell equi-join (complete cover by
    construction — the true nearest-within-R is always in a probed
    cell), but the reduction is ONE hash aggregate: min over
    struct((dist, id), row) per probe point — no per-point sort, no
    window over the candidate fan-out, so at planet scale the argmin
    partial-aggregates map-side inside the cell-keyed exchange.

    The oracle is the BRUTE-FORCE O(n²) theta-join argmin — a fully
    independent algorithm agreeing on every row certifies both the
    grid cover and the tie-break, the customer_edit_pairs two-algorithm
    pattern. Points with no neighbor within R are absent from both
    sides by construction. Unlike the all-pairs join above (which
    mirrors the RAW versioned stream), the probe/build sides dedup to
    the latest (version, tstamp) row per id first — "nearest POI" over
    a snapshot must not match a superseded coordinate of the same
    node."""
    from ..pipeline import dedup_latest
    from ..spatial import grid_cell, neighbor_cells

    nodes = dedup_latest(fx.nodes_df(spark)).filter(
        F.col("lon").isNotNull() & F.col("lat").isNotNull() & F.col("geom_valid")
    )
    build = nodes.select(
        F.col("id").alias("id_b"),
        F.col("lon").alias("lon_b"),
        F.col("lat").alias("lat_b"),
        grid_cell(F.col("lon"), F.col("lat")).alias("cell"),
    )
    probe = nodes.select(
        F.col("id").alias("id_a"),
        F.col("lon").alias("lon_a"),
        F.col("lat").alias("lat_a"),
        F.explode(
            neighbor_cells(F.col("lon"), F.col("lat"), radius_km=_NEIGHBOR_KM)
        ).alias("cell"),
    )
    rlat_a, rlat_b = F.radians("lat_a"), F.radians("lat_b")
    dlat = (rlat_b - rlat_a) / 2
    dlon = (F.radians("lon_b") - F.radians("lon_a")) / 2
    h = F.sin(dlat) * F.sin(dlat) + F.cos(rlat_a) * F.cos(rlat_b) * F.sin(
        dlon
    ) * F.sin(dlon)
    dist_km = F.round(F.lit(2 * _EARTH_KM) * F.asin(F.sqrt(h)), 4)
    cand = (
        probe.join(build, "cell")
        .filter(F.col("id_a") != F.col("id_b"))
        .withColumn("dist_km", dist_km)
        .filter(F.col("dist_km") <= _NEIGHBOR_KM)
        .select("id_a", "id_b", "dist_km")
    )
    key = F.struct(F.col("dist_km").alias("_d"), F.col("id_b").alias("_i"))
    return (
        cand.groupBy("id_a")
        .agg(
            F.min(
                F.struct(key.alias("_key"), F.struct("id_b", "dist_km").alias("_row"))
            ).alias("_b")
        )
        .select(
            F.col("id_a").alias("id"),
            F.col("_b._row.id_b").alias("nearest_id"),
            F.col("_b._row.dist_km").alias("dist_km"),
        )
    )


ORACLE_NEAREST_WITHIN = f"""
WITH raw AS ({fx.nodes_values_sql()}),
dedup AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY id
                                 ORDER BY version DESC, tstamp DESC) AS rn
    FROM raw
  ) WHERE rn = 1
),
pts AS (
  SELECT id, lon, lat FROM dedup
  WHERE lon IS NOT NULL AND lat IS NOT NULL AND geom_valid
),
cand AS (
  SELECT a.id AS id_a, b.id AS id_b,
         round(2 * {_EARTH_KM!r} * asin(sqrt(
           sin((radians(b.lat) - radians(a.lat)) / 2)
             * sin((radians(b.lat) - radians(a.lat)) / 2)
           + cos(radians(a.lat)) * cos(radians(b.lat))
             * sin((radians(b.lon) - radians(a.lon)) / 2)
             * sin((radians(b.lon) - radians(a.lon)) / 2)
         )), 4) AS dist_km
  FROM pts a JOIN pts b ON a.id <> b.id
),
best AS (
  SELECT id_a, id_b, dist_km,
         row_number() OVER (PARTITION BY id_a
                            ORDER BY dist_km ASC, id_b ASC) AS rn
  FROM cand WHERE dist_km <= {_NEIGHBOR_KM}
)
SELECT id_a AS id, id_b AS nearest_id, dist_km FROM best WHERE rn = 1
"""


_DBSCAN_MINPTS = 3  # core point: >= minPts-1 = 2 neighbors within eps


def q_osm_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed DBSCAN over the POI grid: eps = the 3 km haversine
    radius, minPts = 3. Composes three already-verified distributed
    primitives — the radius-aware neighbor-cell distance join (the eps
    neighborhood, never an all-pairs), a degree aggregate (core-point
    test), and pointer-jumping connected components over CORE-CORE
    edges (density-reachability collapses to plain reachability on the
    core subgraph; O(log diameter) rounds) — then assigns each border
    point (non-core with a core neighbor) to its adjacent cores'
    MINIMUM cluster id, a deterministic stand-in for DBSCAN's
    first-toucher. Noise (no core neighbor) is excluded by
    construction. An isolated core with only non-core neighbors keeps
    its own id as a singleton cluster (the left-join coalesce), so
    every core is clustered exactly as DBSCAN requires.

    This is the canonical "DBSCAN doesn't scale" answer: every stage is
    a cell-keyed equi-join or a key aggregate; nothing is sequential,
    and the only iteration is the log-round label closure."""
    from ..dedup import dedup_clusters

    # materialize the neighbor-pair join ONCE: five consumers (two und
    # branches, core_edges, and the border join's und reuse) would each
    # re-run the cell equi-join + haversine otherwise — the before-plan
    # showed the pair subtree expanded 5x (30 SortMergeJoins / 60
    # exchanges); one localCheckpoint collapses it (guide §2.4, §3.3)
    pairs = (
        q_osm_node_neighbor_pairs(spark, sf_dir)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    und = pairs.select(F.col("id_a").alias("id"), F.col("id_b").alias("nb")).unionByName(
        pairs.select(F.col("id_b").alias("id"), F.col("id_a").alias("nb"))
    )
    # cores feeds four consumers (both core_edges join sides, core_lab,
    # the border anti-join) — checkpoint the degree aggregate once too
    cores = (
        und.groupBy("id")
        .agg(F.count("*").alias("n_nb"))
        .filter(F.col("n_nb") >= _DBSCAN_MINPTS - 1)
        .select("id")
        .localCheckpoint(eager=False)
    )
    core_edges = (
        pairs.join(cores.withColumnRenamed("id", "id_a"), "id_a")
        .join(cores.withColumnRenamed("id", "id_b"), "id_b")
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    )
    labels = dedup_clusters(core_edges).select(
        F.col("doc_id").alias("id"), "cluster_id"
    )
    core_lab = cores.join(labels, "id", "left").select(
        "id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id")
    )
    border = (
        und.join(
            core_lab.select(
                F.col("id").alias("nb"), F.col("cluster_id").alias("nb_cl")
            ),
            "nb",
        )
        .join(cores, "id", "left_anti")
        .groupBy("id")
        .agg(F.min("nb_cl").alias("cluster_id"))
    )
    return core_lab.select(
        "id", "cluster_id", F.lit("core").alias("role")
    ).unionByName(border.select("id", "cluster_id", F.lit("border").alias("role")))


ORACLE_DBSCAN = f"""
WITH RECURSIVE pairs AS ({ORACLE_NEIGHBOR_PAIRS}),
und AS (
  SELECT id_a AS id, id_b AS nb FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
cores AS (
  SELECT id FROM (SELECT id, count(*) AS n_nb FROM und GROUP BY 1)
  WHERE n_nb >= {_DBSCAN_MINPTS - 1}
),
cedges AS (
  SELECT p.id_a, p.id_b FROM pairs p
  JOIN cores a ON a.id = p.id_a JOIN cores b ON b.id = p.id_b
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM cedges
  UNION SELECT id_b, id_a FROM cedges
),
reach(node, label) AS (
  SELECT id, id FROM cores
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
core_lab AS (SELECT node AS id, min(label) AS cluster_id FROM reach GROUP BY 1),
border AS (
  SELECT u.id, min(cl.cluster_id) AS cluster_id
  FROM und u JOIN core_lab cl ON cl.id = u.nb
  WHERE u.id NOT IN (SELECT id FROM cores)
  GROUP BY u.id
)
SELECT id, cluster_id, 'core' AS role FROM core_lab
UNION ALL
SELECT id, cluster_id, 'border' FROM border
"""


# --- O1: native PBF wire-format scan ---------------------------------------


# the scan fixtures' contents; 5 is the PBF block_size
_SCAN_FIXTURE_KEY = (fx.PBF_NODES, fx.PBF_WAYS, fx.PBF_RELATIONS, 5)


def _pbf_fixture_file() -> str:
    """The scan fixture entities as a .osm.pbf file, shared by the two
    PBF scans."""
    from .. import pbf

    return write_once(
        derived_path("pbf_fixture", *_SCAN_FIXTURE_KEY),
        lambda tmp: pbf.encode_pbf(
            tmp,
            nodes=fx.PBF_NODES,
            ways=fx.PBF_WAYS,
            relations=fx.PBF_RELATIONS,
            block_size=5,
        ),
    )


def q_osm_pbf_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end O1: encode the fixture entities to REAL .osm.pbf bytes
    (zlib blobs, DenseNodes delta columns, string tables — pbf.encode_pbf),
    then scan them back with the distributed reader (pbf.read_pbf: blob
    index on the driver, per-blob decode fanned out via mapInArrow).
    The oracle embeds the same entities as literals, so every decoded
    field — delta-coded ids, 100-nanodegree coords, string-table tags,
    relation member triples — is differentially verified.

    block_size=5 forces the fixture across 5 OSMData blobs so the reader
    exercises real multi-blob parallelism, exactly the planet-file shape
    (reference ingests the same format via pyosmium, filter.py:260)."""
    from .. import pbf

    df = pbf.read_pbf(spark, _pbf_fixture_file())
    return _entity_scan_projection(df)


def q_osm_pbf_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 through Spark's OWN source machinery: the same fixture .pbf
    read via the registered Python DataSource
    (``spark.read.format("osmpbf")`` — pbf_datasource.py), checked
    against the SAME oracle literals as q_osm_pbf_scan. One codec, two
    plumbing paths (DataSource partitions vs index+mapInArrow), both
    differentially verified — so neither path can drift from the wire
    format or from each other. blobspertask=1 makes every blob its own
    InputPartition, the maximal-parallelism planning shape."""
    from ..pbf_datasource import register

    path = _pbf_fixture_file()
    register(spark)
    df = spark.read.format("osmpbf").option("blobspertask", "1").load(path)
    return _entity_scan_projection(df)


def q_osm_xml_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1's second wire format: the same fixture entities serialized as
    .osm XML and scanned back with the splittable byte-range reader
    (osm_xml.read_osm_xml — boundary rule: parse elements that START in
    your range, finish the last past the end). chunk_bytes=256 forces
    every element across chunk boundaries, so the differential check
    (same oracle literals as osm_pbf_scan) verifies the split logic, the
    entity/attribute parse, and XML escaping end to end."""
    from .. import osm_xml

    path = write_once(
        derived_path("xml_fixture", *_SCAN_FIXTURE_KEY),
        lambda tmp: osm_xml.write_osm_xml(
            tmp,
            nodes=fx.PBF_NODES,
            ways=fx.PBF_WAYS,
            relations=fx.PBF_RELATIONS,
        ),
    )
    df = osm_xml.read_osm_xml(spark, path, chunk_bytes=256)
    return _entity_scan_projection(df)


def _entity_scan_projection(df: DataFrame) -> DataFrame:
    """Driver-hashable projection of the unified entity stream (shared by
    the PBF and XML scans — both differentially verified against the
    same oracle literals)."""
    is_way = F.col("osm_type") == "way"
    is_rel = F.col("osm_type") == "relation"
    tags_sig = F.array_join(
        F.array_sort(
            F.transform(
                F.map_entries("tags"), lambda e: F.concat(e.key, F.lit("="), e.value)
            )
        ),
        "; ",
    )
    members_sig = F.expr(
        "array_join(transform(member_types, (t, i) -> "
        "concat(t, ':', cast(member_ids[i] as string), ':', member_roles[i])), ',')"
    )
    return df.select(
        "osm_type",
        "id",
        "version",
        "user_id",
        F.date_format("tstamp", "yyyy-MM-dd HH:mm:ss").alias("tstamp_str"),
        "changeset_id",
        tags_sig.alias("tags_sig"),
        F.when(~is_way & ~is_rel, F.round("lon", 7)).alias("lon_r"),
        F.when(~is_way & ~is_rel, F.round("lat", 7)).alias("lat_r"),
        F.when(is_way, F.size("refs")).otherwise(F.lit(0)).cast("long").alias("n_refs"),
        F.when(is_way, F.aggregate("refs", F.lit(0).cast("long"), lambda a, x: a + x))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("refs_sum"),
        F.when(is_rel, members_sig).otherwise(F.lit("")).alias("members_sig"),
    )


ORACLE_PBF_SCAN = fx.pbf_scan_values_sql()


# --- O19 spatial containment: point-in-polygon join -------------------------


def _ray_cast_sql(ring: str, lon: str, lat: str) -> str:
    """Crossing-number point-in-polygon test as ONE expression — valid
    SQL in BOTH engines (element_at/list 1-based indexing). The lon
    intercept's division sits in a THEN branch whose WHEN is the
    edge-crossing test, so CASE laziness genuinely guards it: the
    crossing condition implies the edge's lat span is nonzero before
    either engine evaluates the division. Strictly-inside semantics;
    boundary points are engine-dependent FP territory and excluded by
    the fixture design."""
    return f"""
      aggregate(transform(sequence(1, size({ring}) - 1), i ->
        CASE WHEN ((element_at({ring}, i).lat > {lat})
                   != (element_at({ring}, i + 1).lat > {lat}))
        THEN CASE WHEN {lon} < element_at({ring}, i).lon
                  + ({lat} - element_at({ring}, i).lat)
                  * (element_at({ring}, i + 1).lon - element_at({ring}, i).lon)
                  / (element_at({ring}, i + 1).lat - element_at({ring}, i).lat)
             THEN 1 ELSE 0 END
        ELSE 0 END), 0, (a, x) -> a + x) % 2 = 1
    """


def q_osm_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial containment join (PostGIS ``ST_Contains`` — the spatial
    predicate the reference delegates to Postgres): which polygon
    contains each point, via bbox prefilter + exact ray-cast verify.
    Points are the valid fixture nodes plus every valid ring's shoelace
    centroid (each square's centroid must land in its own square — the
    self-containment certificate); polygons are all closed valid rings.
    The ray cast is the crossing-number test as one JVM expression, the
    identical formula the DuckDB oracle runs, so the geometry predicate
    itself is hash-gated — not just its bbox approximation.

    Plan: polygons are a broadcast dimension (bbox range join =
    BroadcastNestedLoopJoin — the index-nested-loop shape PostGIS uses;
    at 100 TB polygon counts the prefilter becomes the grid-cell
    equi-join of osm_node_neighbor_pairs, same verify step); the exact
    test runs only on bbox survivors."""
    ring = F.col("ring")
    first, last = F.element_at(ring, 1), F.element_at(ring, -1)
    valid = (
        F.col("geom_valid")
        & ring.isNotNull()
        & (F.size(ring) >= 4)
        & (first["lon"] == last["lon"])
        & (first["lat"] == last["lat"])
    )
    ways = fx.ways_df(spark).filter(valid)
    polys = ways.select(
        F.col("id").alias("way_id"),
        "ring",
        F.expr("array_min(transform(ring, p -> p.lon))").alias("lon_min"),
        F.expr("array_max(transform(ring, p -> p.lon))").alias("lon_max"),
        F.expr("array_min(transform(ring, p -> p.lat))").alias("lat_min"),
        F.expr("array_max(transform(ring, p -> p.lat))").alias("lat_max"),
    )
    node_pts = (
        fx.nodes_df(spark)
        .filter(F.col("lon").isNotNull())
        .select(
            F.lit("node").alias("point_src"),
            F.col("id").alias("point_id"),
            F.col("lon").alias("pt_lon"),
            F.col("lat").alias("pt_lat"),
        )
    )
    cent_pts = ways.withColumn("c", geo.ring_centroid(ring)).select(
        F.lit("centroid").alias("point_src"),
        F.col("id").alias("point_id"),
        F.col("c.lon").alias("pt_lon"),
        F.col("c.lat").alias("pt_lat"),
    )
    pts = node_pts.unionByName(cent_pts)
    cand = pts.join(
        F.broadcast(polys),
        (F.col("pt_lon") >= F.col("lon_min"))
        & (F.col("pt_lon") <= F.col("lon_max"))
        & (F.col("pt_lat") >= F.col("lat_min"))
        & (F.col("pt_lat") <= F.col("lat_max")),
    )
    inside = F.expr(_ray_cast_sql("ring", "pt_lon", "pt_lat"))
    return cand.filter(inside).select("point_src", "point_id", "way_id")


def _pip_oracle_sql() -> str:
    ray = (
        _ray_cast_sql("ring", "pt_lon", "pt_lat")
        .replace("aggregate(transform(sequence(1, size(ring) - 1)", "list_sum(list_transform(range(1, len(ring))")
        .replace("element_at(ring, i + 1)", "ring[i + 1]")
        .replace("element_at(ring, i)", "ring[i]")
        .replace("!=", "<>")
        .replace("), 0, (a, x) -> a + x) % 2 = 1", ")) % 2 = 1")
    )
    return f"""
WITH w AS ({fx.ways_values_sql()}),
polys AS (
  SELECT id AS way_id, ring,
         list_min(list_transform(ring, p -> p.lon)) AS lon_min,
         list_max(list_transform(ring, p -> p.lon)) AS lon_max,
         list_min(list_transform(ring, p -> p.lat)) AS lat_min,
         list_max(list_transform(ring, p -> p.lat)) AS lat_max
  FROM w
  WHERE geom_valid AND ring IS NOT NULL AND len(ring) >= 4
    AND ring[1].lon = ring[-1].lon AND ring[1].lat = ring[-1].lat
),
meas AS (
  SELECT id, ring,
    list_sum(list_transform(range(1, len(ring)), i -> {_CROSS})) AS a2,
    list_sum(list_transform(range(1, len(ring)),
             i -> (ring[i].lon + ring[i+1].lon) * {_CROSS})) AS cx,
    list_sum(list_transform(range(1, len(ring)),
             i -> (ring[i].lat + ring[i+1].lat) * {_CROSS})) AS cy,
    -- DuckDB slices are INCLUSIVE: ring[1:-2] drops only the duplicated
    -- closing vertex, matching Spark's slice(ring, 1, size-1) fallback.
    list_sum(list_transform(ring[1:-2], p -> p.lon)) / (len(ring) - 1) AS mean_lon,
    list_sum(list_transform(ring[1:-2], p -> p.lat)) / (len(ring) - 1) AS mean_lat
  FROM (SELECT way_id AS id, ring FROM polys_src)
),
pts AS (
  SELECT 'node' AS point_src, id AS point_id, lon AS pt_lon, lat AS pt_lat
  FROM ({fx.nodes_values_sql()}) WHERE lon IS NOT NULL
  UNION ALL
  SELECT 'centroid', id,
         CASE WHEN abs(a2) < 1e-12 THEN mean_lon ELSE cx / (3 * a2) END,
         CASE WHEN abs(a2) < 1e-12 THEN mean_lat ELSE cy / (3 * a2) END
  FROM meas
),
cand AS (
  SELECT p.point_src, p.point_id, q.way_id, q.ring, p.pt_lon, p.pt_lat
  FROM pts p JOIN polys q
    ON p.pt_lon >= q.lon_min AND p.pt_lon <= q.lon_max
   AND p.pt_lat >= q.lat_min AND p.pt_lat <= q.lat_max
)
SELECT point_src, point_id, way_id FROM cand
WHERE {ray}
"""


ORACLE_POINT_IN_POLYGON = _pip_oracle_sql().replace(
    "polys_src", "polys"
)


# --- EP1 composed end-to-end: scan → cascade → route → COPY rows -----------


def q_osm_poi_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's REAL deliverable as ONE Catalyst DAG (r8 verdict
    #6): the whole EP1 cascade (filter.py:255-269) — PBF wire scan (O1)
    → dedup (O13) → empty-tags / exclude-superset / TOI-threshold
    filters (O3→O5→O6, O4 off by default like the reference) → relation
    of ways to their node geometry (O10/O17 ring assembly) → hstore +
    tstamp projection (O8) → COPY text line (O11) → node/way routing
    (O16). Runs over the FULL cascade fixture serialized to real
    .osm.pbf bytes (fx.ep1_pbf_nodes/ways — invalid node geometry as an
    out-of-range coordinate sentinel, way 104 referencing nodes that
    don't exist), so every edge case the per-operator queries pin
    individually is re-verified THROUGH the composition, including the
    node-100/way-100 id collision riding the osm_type route.

    The oracle rebuilds the final routed row set — including the
    serialized COPY line — from the same entities in pure DuckDB SQL.
    Geometry bytes (WKB) stay out of the gate row (property-tested via
    shapely + golden COPY files); the gate carries lon/lat for nodes
    and ring size + spherical area for ways instead.

    Scale: one scan feeds both branches; the only shuffles are the ring
    assembly join/agg (bucketable on node_id/way_id at 100 TB) and the
    broadcast TOI semi-join — the cheap map-side predicates fuse into
    the scan stage."""
    from .. import pbf
    from ..ops import tags as tag_ops
    from ..pbf_datasource import register
    from ..pipeline import route_pois
    from ..sink import copy_line

    # Local-mode test fixture only: on a real multi-node cluster this
    # path would live on shared storage (HDFS/S3), keyed the same way.
    nodes_fx, ways_fx = fx.ep1_pbf_nodes(), fx.ep1_pbf_ways()
    path = write_once(
        derived_path("ep1_fixture", nodes_fx, ways_fx, 7),
        lambda tmp: pbf.encode_pbf(
            tmp, nodes=nodes_fx, ways=ways_fx, relations=[], block_size=7
        ),
    )
    register(spark)
    scan = spark.read.format("osmpbf").option("blobspertask", "1").load(path)
    taginfo = fx.taginfo_df(spark)

    nodes = scan.filter(F.col("osm_type") == "node").select(
        "id", "version", "user_id", "tstamp", "changeset_id", "tags", "lon", "lat",
        (
            F.col("lon").between(-180.0, 180.0) & F.col("lat").between(-90.0, 90.0)
        ).alias("geom_valid"),
    )
    nodes_out = poi_nodes(nodes, taginfo, SETTINGS).select(
        "id", "version", "user_id", "tstamp", "changeset_id", "tags_hstore",
        "lon", "lat",
        F.lit(None).cast("long").alias("n_points"),
        F.lit(None).cast("double").alias("area_r"),
    )

    ways_meta = scan.filter(F.col("osm_type") == "way").select(
        "id", "version", "user_id", "tstamp", "changeset_id", "tags", "refs"
    )
    wn = ways_meta.select(
        F.col("id").alias("way_id"),
        F.posexplode("refs").alias("sequence_id", "node_id"),
    )
    rings = geo.assemble_rings(wn, nodes.select("id", "lon", "lat"))
    ways_df = ways_meta.join(
        rings, ways_meta["id"] == rings["way_id"], "left"
    ).select(
        ways_meta["id"], "version", "user_id", "tstamp", "changeset_id", "tags",
        "ring",
        (~F.coalesce(F.col("has_missing_node"), F.lit(True))).alias("geom_valid"),
    )
    pw = poi_ways(ways_df, taginfo, SETTINGS)
    trimmed = tag_ops.trim_tag_keys(F.col("tags"), SETTINGS.trim_tags)
    ways_out = pw.select(
        "id", "version", "user_id",
        F.date_format("tstamp", "yyyy-MM-dd HH:mm:ss").alias("tstamp"),
        "changeset_id",
        tag_ops.hstore_literal(trimmed).alias("tags_hstore"),
        F.lit(None).cast("double").alias("lon"),
        F.lit(None).cast("double").alias("lat"),
        F.size("ring").cast("long").alias("n_points"),
        F.round("area_m2", 2).alias("area_r"),
    )

    routed = route_pois(nodes_out, ways_out)
    return routed.select(
        "osm_type",
        "id",
        copy_line(
            ("id", "version", "user_id", "tstamp", "changeset_id", "tags_hstore")
        ).alias("copy_line"),
        F.round("lon", 7).alias("lon_r"),
        F.round("lat", 7).alias("lat_r"),
        "n_points",
        "area_r",
    )


_COPY_ESC = (
    "replace(replace(replace(replace(CAST({x} AS VARCHAR), "
    "'\\', '\\\\'), chr(9), '\\t'), chr(10), '\\n'), chr(13), '\\r')"
)


def _copy_field(x: str) -> str:
    return f"CASE WHEN {x} IS NULL THEN '\\N' ELSE {_COPY_ESC.format(x=x)} END"


_COPY_LINE_SQL = "concat_ws(chr(9), " + ", ".join(
    _copy_field(c) for c in ("id", "version", "user_id", "ts", "changeset_id", "hs")
) + ")"


ORACLE_POI_PIPELINE_FULL = f"""
WITH raw_nodes AS ({fx.ep1_nodes_values_sql()}),
nv AS (
  SELECT *, (lon BETWEEN -180 AND 180 AND lat BETWEEN -90 AND 90) AS geom_valid
  FROM raw_nodes
),
ndedup AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY version DESC, tstamp DESC) AS rn
    FROM nv
  ) WHERE rn = 1
),
dim AS ({_DIM_SQL}),
{_matched_sql("ndedup")},
node_rows AS (
  SELECT 'node' AS osm_type, d.id, d.version, d.user_id,
         strftime(d.tstamp, '%Y-%m-%d %H:%M:%S') AS ts, d.changeset_id,
         {_hstore_sql("d.tags_json", fx.TRIM)} AS hs,
         round(d.lon, 7) AS lon_r, round(d.lat, 7) AS lat_r,
         CAST(NULL AS BIGINT) AS n_points, CAST(NULL AS DOUBLE) AS area_r
  FROM ndedup d
  WHERE d.geom_valid
    AND {_cascade_where("d.tags_json")}
    AND d.id IN (SELECT id FROM matched)
),
raw_ways AS ({fx.ep1_ways_values_sql()}),
wdedup AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY version DESC, tstamp DESC) AS rn
    FROM raw_ways
  ) WHERE rn = 1
),
wn AS ({fx.ep1_way_nodes_values_sql()}),
wj AS (
  SELECT wn.way_id, wn.sequence_id, nd.lon, nd.lat
  FROM wn LEFT JOIN raw_nodes nd ON wn.node_id = nd.id
),
wr AS (
  SELECT way_id,
         list(struct_pack(lon := lon, lat := lat) ORDER BY sequence_id) AS ring,
         max(CASE WHEN lon IS NULL THEN 1 ELSE 0 END) AS missing
  FROM wj GROUP BY way_id
),
wd AS (
  SELECT w.id, w.version, w.user_id, w.tstamp, w.changeset_id, w.tags_json,
         r.ring, coalesce(r.missing, 1) = 0 AS geom_valid
  FROM wdedup w LEFT JOIN wr r ON w.id = r.way_id
),
{_matched_sql("wd", prefix="w")},
way_rows AS (
  SELECT 'way' AS osm_type, w.id, w.version, w.user_id,
         strftime(w.tstamp, '%Y-%m-%d %H:%M:%S') AS ts, w.changeset_id,
         {_hstore_sql("w.tags_json", fx.TRIM)} AS hs,
         CAST(NULL AS DOUBLE) AS lon_r, CAST(NULL AS DOUBLE) AS lat_r,
         CAST(len(ring) AS BIGINT) AS n_points,
         round(abs(list_sum({_AREA_TERMS})) * {_R2_HALF!r}, 2) AS area_r
  FROM wd w
  WHERE w.geom_valid AND ring IS NOT NULL AND len(ring) >= 4
    AND ring[1].lon = ring[-1].lon AND ring[1].lat = ring[-1].lat
    AND {_cascade_where("w.tags_json")}
    AND w.id IN (SELECT id FROM wmatched)
),
allrows AS (
  SELECT * FROM node_rows UNION ALL SELECT * FROM way_rows
)
SELECT osm_type, CAST(id AS BIGINT) AS id,
       {_COPY_LINE_SQL} AS copy_line,
       lon_r, lat_r, n_points, area_r
FROM allrows
"""


# --- O19/O20 at-rest layout: partition-pruned cell scan ---------------------

# bbox chosen to cover 2 of the 7 grid cells the fixture nodes spread
# over at GRID_RES — the pruned scan must read 2 directories, not 7.
_CELL_BBOX = (5.095, 52.095, 5.155, 52.155)


def cell_layout_path() -> str:
    """Location of the cell-partitioned POI node table, one per fixture
    version and grid resolution."""
    from ..spatial import GRID_RES

    return derived_path("cell_layout", fx.NODES, GRID_RES, 1)


def q_osm_cell_layout_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned bbox scan over the CELL-PARTITIONED at-rest
    layout — the Spark analogue of the reference's GiST index +
    CLUSTER physical order (schema.sql:264-266,287-289), proven at the
    PLANNER level: the valid fixture nodes are written once with
    ``partitionBy("cell")`` (grid cell = spatial.grid_cell, the
    layout.py nodes/POIs row), and the query reads them back with the
    bbox's covering-cell IN-list plus the exact lon/lat predicate. The
    cell condition hits the partition column → ``PartitionFilters`` +
    pruned PartitionCount in the plan (2 of 7 directories read,
    pytest-pinned in tests/test_layout.py); the lon/lat conjuncts reach
    the parquet scan as PushedFilters. The DuckDB oracle recomputes
    each node's cell id independently and applies the same cover +
    bbox, so the layout can never silently drop a boundary row.

    Scale: this is THE 100 TB bbox plan — a planning-time directory
    prune (zero IO outside the cover) followed by row-group min/max
    skipping via the Z-order sort within partitions
    (layout.cluster_spatially); query cost rides bbox area, not table
    size."""
    from ..spatial import GRID_RES, cells_for_bbox, grid_cell

    path = write_once(
        cell_layout_path(),
        lambda tmp: fx.nodes_df(spark)
        .filter(F.col("lon").isNotNull())
        .withColumn("cell", grid_cell(F.col("lon"), F.col("lat")))
        .write.partitionBy("cell")
        .parquet(tmp),
    )
    min_lon, min_lat, max_lon, max_lat = _CELL_BBOX
    cover = cells_for_bbox(min_lon, min_lat, max_lon, max_lat, GRID_RES)
    return (
        spark.read.parquet(path)
        .filter(
            F.col("cell").isin(cover)
            & F.col("lon").between(min_lon, max_lon)
            & F.col("lat").between(min_lat, max_lat)
        )
        .select(
            "id",
            "version",
            F.round("lon", 7).alias("lon_r"),
            F.round("lat", 7).alias("lat_r"),
            F.col("cell").cast("long").alias("cell"),
        )
    )


def _cell_layout_oracle_sql() -> str:
    from ..spatial import GRID_RES, cells_for_bbox

    n = 1 << GRID_RES
    min_lon, min_lat, max_lon, max_lat = _CELL_BBOX
    cover = ", ".join(
        str(c) for c in cells_for_bbox(min_lon, min_lat, max_lon, max_lat, GRID_RES)
    )
    return f"""
WITH nodes AS ({fx.nodes_values_sql()}),
cells AS (
  SELECT id, version, lon, lat,
         GREATEST(0, LEAST({n - 1},
             CAST(floor((lon + 180.0) / 360.0 * {n}) AS BIGINT))) * {n}
         + GREATEST(0, LEAST({n - 1},
             CAST(floor((lat + 90.0) / 180.0 * {n}) AS BIGINT))) AS cell
  FROM nodes WHERE lon IS NOT NULL
)
SELECT CAST(id AS BIGINT) AS id, version,
       round(lon, 7) AS lon_r, round(lat, 7) AS lat_r,
       CAST(cell AS BIGINT) AS cell
FROM cells
WHERE cell IN ({cover})
  AND lon BETWEEN {min_lon} AND {max_lon}
  AND lat BETWEEN {min_lat} AND {max_lat}
"""


ORACLE_CELL_LAYOUT = _cell_layout_oracle_sql()


QUERIES = {
    "osm_pbf_scan": q_osm_pbf_scan,
    "osm_pbf_source_scan": q_osm_pbf_source_scan,
    "osm_xml_scan": q_osm_xml_scan,
    "osm_toi_dim": q_osm_toi_dim,
    "osm_poi_nodes": q_osm_poi_nodes,
    "osm_poi_nodes_noname": q_osm_poi_nodes_noname,
    "osm_way_assembly": q_osm_way_assembly,
    "osm_ways_centroids": q_osm_ways_centroids,
    "osm_relation_areas": q_osm_relation_areas,
    "osm_mp_centroids": q_osm_mp_centroids,
    "osm_spatial_bbox": q_osm_spatial_bbox,
    "osm_poi_density_grid": q_osm_poi_density_grid,
    "osm_node_neighbor_pairs": q_osm_node_neighbor_pairs,
    "osm_poi_nearest_within": q_osm_poi_nearest_within,
    "osm_dbscan_clusters": q_osm_dbscan_clusters,
    "osm_poi_pipeline_full": q_osm_poi_pipeline_full,
    "osm_point_in_polygon": q_osm_point_in_polygon,
    "osm_cell_layout_scan": q_osm_cell_layout_scan,
}

ORACLES = {
    "osm_pbf_scan": ORACLE_PBF_SCAN,
    "osm_pbf_source_scan": ORACLE_PBF_SCAN,
    "osm_xml_scan": ORACLE_PBF_SCAN,
    "osm_toi_dim": ORACLE_TOI_DIM,
    "osm_poi_nodes": ORACLE_POI_NODES,
    "osm_poi_nodes_noname": ORACLE_POI_NODES_NONAME,
    "osm_way_assembly": ORACLE_WAY_ASSEMBLY,
    "osm_ways_centroids": ORACLE_WAYS_CENTROIDS,
    "osm_relation_areas": ORACLE_RELATION_AREAS,
    "osm_mp_centroids": ORACLE_MP_CENTROIDS,
    "osm_spatial_bbox": ORACLE_SPATIAL_BBOX,
    "osm_poi_density_grid": ORACLE_DENSITY_GRID,
    "osm_node_neighbor_pairs": ORACLE_NEIGHBOR_PAIRS,
    "osm_poi_nearest_within": ORACLE_NEAREST_WITHIN,
    "osm_dbscan_clusters": ORACLE_DBSCAN,
    "osm_poi_pipeline_full": ORACLE_POI_PIPELINE_FULL,
    "osm_point_in_polygon": ORACLE_POINT_IN_POLYGON,
    "osm_cell_layout_scan": ORACLE_CELL_LAYOUT,
}
