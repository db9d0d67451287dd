"""Spatial bucketing and pruning — the Spark replacement for the
reference's GiST R-tree indexes + physical clustering (O19,
``schema.sql:264-266, 287-289``).

Spark has no secondary indexes; the equivalents are:

* a **grid cell id** column (equal-angle lon/lat grid) used as the
  partition/bucket key — a bbox query becomes ``cell IN (covering
  cells)``, which prunes partitions at the source (the analogue of an
  R-tree's top levels);
* a **Z-order (Morton) key** used with ``sortWithinPartitions`` so
  parquet row-group min/max statistics stay spatially tight — the
  analogue of PostgreSQL's ``CLUSTER ... USING <gist index>``;
* :func:`cluster_spatially` composes both for writing a table at rest.

Everything is pure column expressions (bit arithmetic, no UDFs); the
bbox→cells cover is computed driver-side with identical quantization so
the pruning filter provably contains the bbox.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

GRID_RES = 12  # 4096×4096 global grid: ~0.09° ≈ 10 km cells at the equator


def _quantize(coord: Column, offset: float, extent: float, n: int) -> Column:
    ix = F.floor((coord + offset) / extent * n).cast("long")
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), ix))


def _quantize_scalar(coord: float, offset: float, extent: float, n: int) -> int:
    """Driver-side twin of :func:`_quantize` — THE single scalar
    definition; cover computation and pruning must quantize bit-
    identically to the column expression or boundary rows get dropped."""
    return max(0, min(n - 1, int(math.floor((coord + offset) / extent * n))))


def grid_cell(lon: Column, lat: Column, res: int = GRID_RES) -> Column:
    """Cell id of the equal-angle lon/lat grid at 2^res × 2^res."""
    n = 1 << res
    ix = _quantize(lon, 180.0, 360.0, n)
    iy = _quantize(lat, 90.0, 180.0, n)
    return ix * n + iy


def cells_for_bbox(
    min_lon: float, min_lat: float, max_lon: float, max_lat: float, res: int = GRID_RES
) -> list[int]:
    """Driver-side covering cell set for a bbox — same quantization as
    :func:`grid_cell`, so ``cell IN cells_for_bbox(...)`` never drops a
    row inside the bbox. Cover size is O(bbox area / cell area); pick
    ``res`` so typical query boxes cover tens of cells, not thousands."""
    n = 1 << res
    x0, x1 = _quantize_scalar(min_lon, 180.0, 360.0, n), _quantize_scalar(max_lon, 180.0, 360.0, n)
    y0, y1 = _quantize_scalar(min_lat, 90.0, 180.0, n), _quantize_scalar(max_lat, 90.0, 180.0, n)
    return [ix * n + iy for ix in range(x0, x1 + 1) for iy in range(y0, y1 + 1)]


#: great-circle km per degree of latitude (2πR/360 with geo's radius) —
#: keep the literal in sync with any oracle that mirrors the reach math
KM_PER_DEG = 111.19505197490699  # = 2*pi*geo.EARTH_RADIUS_M/360/1000
#: cap on the dynamic longitude reach: within ~0.03° of a pole cos(lat)→0
#: and the required lon cover explodes; points in the top/bottom cell row
#: beyond this cap (and pairs straddling the ±180° seam, which this
#: non-wrapping grid never covers) are the documented residual.
MAX_LON_REACH = 64


def neighbor_cells(lon: Column, lat: Column, radius_km: float | None = None) -> Column:
    """Neighborhood of a point's grid cell as a distinct cell-id array —
    the probe side of a grid-bucketed distance join.

    With ``radius_km=None``: the plain 3×3 ring, complete whenever the
    local cell edge is ≥ the join radius. With ``radius_km`` given, the
    LONGITUDE reach widens per row by 1/cos(lat) — a lon cell's metric
    width shrinks toward the poles (at 80°N a GRID_RES=12 cell is
    ~1.7 km wide, so a 3 km join needs ±2 lon cells), and the fixed
    3×3 ring would silently miss within-radius pairs above ~72°. The
    latitude reach stays ±1 because a lat cell edge is latitude-
    independent (callers must keep radius ≤ that edge; ~4.9 km at
    res 12). Reach is capped at ``MAX_LON_REACH`` (polar-cap residual
    documented above). Edge cells clamp — out-of-range neighbors drop
    out via NULL + filter; the grid does not wrap at ±180°."""
    n = 1 << GRID_RES
    ix = _quantize(lon, 180.0, 360.0, n)
    iy = _quantize(lat, 90.0, 180.0, n)
    if radius_km is None:
        cells = []
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                jx, jy = ix + dx, iy + dy
                valid = (jx >= 0) & (jx < n) & (jy >= 0) & (jy < n)
                cells.append(F.when(valid, jx * n + jy))
        return F.array_distinct(
            F.filter(F.array(*cells), lambda c: c.isNotNull())
        )
    cell_deg = 360.0 / n
    lat_edge_km = (180.0 / n) * KM_PER_DEG
    if radius_km > lat_edge_km:
        raise ValueError(
            f"radius {radius_km} km exceeds the lat cell edge "
            f"{lat_edge_km:.2f} km at res={GRID_RES}; lower the radius"
        )
    # the partner may sit up to radius_km pole-ward of the probe, where
    # lon cells are NARROWER — size the reach from the worst (smallest)
    # cos within the radius, not the probe's own latitude, or a pair
    # near a reach boundary with the partner slightly pole-ward is one
    # cell short of covered
    radius_lat_deg = radius_km / KM_PER_DEG
    # clamp below 90: cos(90°)=0 would put Infinity through ceil; at
    # 89.99° the reach is astronomically large and MAX_LON_REACH caps it
    worst_lat = F.least(F.lit(89.99), F.abs(lat) + F.lit(radius_lat_deg))
    reach = (
        F.least(
            F.lit(MAX_LON_REACH),
            F.greatest(
                F.lit(1),
                F.ceil(
                    F.lit(radius_km)
                    / (F.lit(cell_deg * KM_PER_DEG) * F.cos(F.radians(worst_lat)))
                ),
            ),
        )
        .cast("int")
    )
    rows = []
    for dy in (-1, 0, 1):
        jy = iy + dy
        rows.append(
            F.when(
                (jy >= 0) & (jy < n),
                F.transform(
                    F.sequence(-reach, reach),
                    lambda dx: F.when(
                        ((ix + dx) >= 0) & ((ix + dx) < n), (ix + dx) * n + jy
                    ),
                ),
            ).otherwise(F.array().cast("array<bigint>"))
        )
    return F.array_distinct(
        F.filter(F.flatten(F.array(*rows)), lambda c: c.isNotNull())
    )


def zorder_key(lon: Column, lat: Column) -> Column:
    """Morton (Z-order) interleave of the coordinates quantized to 16
    bits each — a 1-D sort key whose ordering keeps 2-D neighbors close,
    so parquet row-group min/max stats prune tightly after
    ``sortWithinPartitions``. Pure bit-arithmetic expressions."""
    ix = _quantize(lon, 180.0, 360.0, 1 << 16)
    iy = _quantize(lat, 90.0, 180.0, 1 << 16)
    key = F.lit(0).cast("long")
    for b in range(16):
        key = (
            key
            + F.shiftleft(F.shiftright(ix, b).bitwiseAND(F.lit(1)), 2 * b)
            + F.shiftleft(F.shiftright(iy, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        )
    return key


def with_spatial_keys(df: DataFrame) -> DataFrame:
    return df.withColumn("cell", grid_cell(F.col("lon"), F.col("lat"))).withColumn(
        "zkey", zorder_key(F.col("lon"), F.col("lat"))
    )


def cluster_spatially(df: DataFrame, num_partitions: int) -> DataFrame:
    """Physically cluster for a spatial table at rest: range-partition by
    cell (keeps a cell's rows together → partition pruning), Z-order
    within partitions (tight row-group stats). Write the result with
    ``partitionBy`` omitted — the layout itself carries the locality."""
    keyed = with_spatial_keys(df)
    return keyed.repartitionByRange(num_partitions, "cell").sortWithinPartitions(
        "cell", "zkey"
    )


def bbox_filter(
    df: DataFrame,
    min_lon: float,
    min_lat: float,
    max_lon: float,
    max_lat: float,
) -> DataFrame:
    """Bbox query with cell pruning expressed as RANGE predicates, not an
    IN-list: a bbox covers a rectangle [x0..x1]×[y0..y1] of grid cells,
    so the cell condition is two BETWEENs on the cell id's components
    (cell div n = ix, cell mod n = iy) plus one coarse BETWEEN on the
    cell id itself that parquet row-group min/max stats can use. A large
    bbox at fine resolution would otherwise produce a 10⁵-element
    IN-list — a plan-size and codegen blowup. Use
    :func:`cells_for_bbox` (IN-list) only for small covers, e.g.
    partition pruning over a partitionBy(cell) layout."""
    n = 1 << GRID_RES
    x0, x1 = _quantize_scalar(min_lon, 180.0, 360.0, n), _quantize_scalar(max_lon, 180.0, 360.0, n)
    y0, y1 = _quantize_scalar(min_lat, 90.0, 180.0, n), _quantize_scalar(max_lat, 90.0, 180.0, n)
    lon, lat = F.col("lon"), F.col("lat")
    cell = grid_cell(lon, lat)
    return df.filter(
        cell.between(x0 * n + y0, x1 * n + y1)
        & F.floor(cell / n).between(x0, x1)
        & (cell % n).between(y0, y1)
        & (lon >= min_lon)
        & (lon <= max_lon)
        & (lat >= min_lat)
        & (lat <= max_lat)
    )
