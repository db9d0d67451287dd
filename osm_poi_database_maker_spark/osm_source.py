"""OSM PBF/XML → Parquet bridge (O1).

The reference scans OSM files with pyosmium callbacks (filter.py:213-232,
apply_file at :260). In a Spark-first design the scan is a one-time
*bridge* job: pyosmium streams the file once (it is inherently a
single-pass C++ reader) and spills columnar Parquet batches that every
subsequent Spark job reads in parallel. The 100 TB path: run one bridge
per PBF extract (they are independent files — embarrassingly parallel at
the file level), land partitioned Parquet, then all filtering/joining is
distributed Spark.

pyosmium is an optional dependency — this module imports lazily and
raises a clear error when it's absent. :mod:`.pbf` is the native,
always-available path: a numpy/Arrow PBF wire-format codec whose decode
distributes over executors (blob-parallel), fully tested in this
container; prefer it unless osmium's geometry assembly (areas from
relations) is specifically needed.
"""

from __future__ import annotations

import os
from typing import Any

NODE_SCHEMA_DDL = (
    "id long, version int, user_id int, tstamp timestamp, changeset_id long, "
    "tags map<string,string>, lon double, lat double, geom_valid boolean"
)
WAY_SCHEMA_DDL = (
    "id long, version int, user_id int, tstamp timestamp, changeset_id long, "
    "tags map<string,string>, nodes array<long>, "
    "ring array<struct<lon: double, lat: double>>, geom_valid boolean"
)


def _arrow_schema(kind: str):
    """Explicit Arrow schema per entity kind. Schema inference
    (`from_pylist` without a schema) would type an all-None column (e.g.
    a batch of location-less nodes) as null, making the spilled files
    unmergeable on read — the schema must be pinned, not inferred."""
    import pyarrow as pa

    base = [
        ("id", pa.int64()),
        ("version", pa.int32()),
        ("user_id", pa.int32()),
        ("tstamp", pa.timestamp("us")),
        ("changeset_id", pa.int64()),
        ("tags", pa.map_(pa.string(), pa.string())),
    ]
    if kind == "nodes":
        extra = [("lon", pa.float64()), ("lat", pa.float64()), ("geom_valid", pa.bool_())]
    else:
        extra = [
            ("nodes", pa.list_(pa.int64())),
            (
                "ring",
                pa.list_(pa.struct([("lon", pa.float64()), ("lat", pa.float64())])),
            ),
            ("geom_valid", pa.bool_()),
        ]
    return pa.schema(base + extra)


def _rows_to_parquet(rows: list[dict[str, Any]], out_path: str, kind: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pylist(rows, schema=_arrow_schema(kind))
    pq.write_table(table, out_path)


#: rows per spilled parquet file of :func:`pbf_to_parquet`
_SPILL_ROWS = 500_000


def pbf_to_parquet(pbf_path: str, out_dir: str) -> dict[str, int]:
    """Stream an OSM file once, spilling nodes/ways parquet files of
    ``_SPILL_ROWS`` rows.

    Returns counts {"nodes": n, "ways": m}. Requires pyosmium.
    """
    try:
        import osmium
    except ImportError as exc:  # pragma: no cover - osmium absent in CI
        raise ImportError(
            "pyosmium is required for the OSM bridge; install 'osmium' "
            "(reference requirements.txt pins osmium 3.4.1)"
        ) from exc

    os.makedirs(out_dir, exist_ok=True)
    counts = {"nodes": 0, "ways": 0}
    state = {"nodes": [], "ways": [], "node_files": 0, "way_files": 0}

    def flush(kind: str) -> None:
        rows = state[kind]
        if not rows:
            return
        idx = state[f"{kind[:-1]}_files"]
        _rows_to_parquet(rows, os.path.join(out_dir, f"{kind}_{idx:05d}.parquet"), kind)
        state[f"{kind[:-1]}_files"] = idx + 1
        state[kind] = []

    class Bridge(osmium.SimpleHandler):  # pragma: no cover - needs osmium
        def node(self, n):
            state["nodes"].append(
                {
                    "id": n.id,
                    "version": n.version,
                    "user_id": n.uid,
                    "tstamp": n.timestamp.replace(tzinfo=None),
                    "changeset_id": n.changeset,
                    "tags": dict(n.tags),
                    "lon": n.location.lon if n.location.valid() else None,
                    "lat": n.location.lat if n.location.valid() else None,
                    "geom_valid": n.location.valid(),
                }
            )
            counts["nodes"] += 1
            if len(state["nodes"]) >= _SPILL_ROWS:
                flush("nodes")

        def area(self, a):
            try:
                outer = next(a.outer_rings())
                ring = [{"lon": p.lon, "lat": p.lat} for p in outer]
                valid = len(ring) >= 4
            except Exception:  # noqa: BLE001 - osmium geometry failure => quarantine
                ring, valid = None, False
            state["ways"].append(
                {
                    "id": a.orig_id(),
                    "version": a.version,
                    "user_id": a.uid,
                    "tstamp": a.timestamp.replace(tzinfo=None),
                    "changeset_id": a.changeset,
                    "tags": dict(a.tags),
                    "nodes": [],
                    "ring": ring,
                    "geom_valid": valid,
                }
            )
            counts["ways"] += 1
            if len(state["ways"]) >= _SPILL_ROWS:
                flush("ways")

    Bridge().apply_file(pbf_path, locations=True)
    flush("nodes")
    flush("ways")
    return counts
