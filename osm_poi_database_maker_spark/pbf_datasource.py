"""OSM PBF as a first-class Spark data source: ``spark.read.format("osmpbf")``.

PySpark 4's Python DataSource API (pyspark.sql.datasource) lets the PBF
codec plug into Spark's own source machinery instead of the two-step
"build an index DataFrame, mapInArrow the decode" recipe in
:func:`osm_poi_database_maker_spark.pbf.read_pbf`:

* **planning** — the driver-side blob index (header seeks only, no
  payload reads) becomes ``DataSourceReader.partitions()``: one
  ``InputPartition`` per blob group, so Spark's scheduler owns task
  placement, retries, and speculative execution for the decode, and the
  scan composes with everything a real source does (``.filter``/
  ``.select`` stay Catalyst-side on the scan's output).
* **execution** — ``read(partition)`` opens its own file handle and
  yields the Arrow batches of :func:`~.pbf.decode_blobs`, the same
  executor work and the same batches as the mapInArrow path.

Both paths hand Spark :func:`~.pbf.decode_block`'s batches unchanged, so
they cannot drift apart: ``tstamp`` is a UTC instant on both, whatever
the session time zone (pinned by tests/test_pbf_datasource.py and
tests/test_pbf.py).

Reference parity: the reference ingests PBF via osmium handlers
(filter.py:260); here the same capability is a registered Spark source:
``spark.dataSource.register(OsmPbfDataSource)`` then
``spark.read.format("osmpbf").load(path)``, where ``path`` is a file,
directory or glob, or a list of them — the same specs :func:`read_pbf`
takes, resolved by the same :func:`~.pbf.resolve_osm_paths`.
"""

from __future__ import annotations

import json
from typing import Iterator

import pyarrow as pa
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from .pbf import PBF_ENTITY_DDL, decode_blobs, resolve_osm_paths, scan_blob_index


class OsmPbfInputPartition(InputPartition):
    """One decode task: a list of (path, offset, datasize) blob triples.
    Carrying triples — never blob bytes — keeps planning payloads tiny
    no matter how large the extract is."""

    def __init__(self, blobs: list[tuple[str, int, int]]):
        self.blobs = blobs


class OsmPbfReader(DataSourceReader):
    def __init__(self, options: dict[str, str]):
        # .load(p) and .load([p]) pass the option "path"; .load([a, b])
        # passes "paths", a JSON array
        path = options.get("path") or json.loads(options.get("paths") or "[]")
        if not path:
            raise ValueError("osmpbf source requires a path: .load('<file|dir|glob>')")
        self._path = path
        # blobs per task: small default so fixture-sized files still fan
        # out; a planet-scale read wants larger groups (fewer tasks)
        self._blobs_per_task = int(options.get("blobspertask", "4"))

    def partitions(self) -> list[OsmPbfInputPartition]:
        index = [
            (p, off, size)
            for p in resolve_osm_paths(self._path)
            for (btype, off, size) in scan_blob_index(p)
            if btype == "OSMData"
        ]
        k = max(1, self._blobs_per_task)
        groups = [index[i : i + k] for i in range(0, len(index), k)] or [[]]
        return [OsmPbfInputPartition(g) for g in groups]

    def read(self, partition: OsmPbfInputPartition) -> Iterator[pa.RecordBatch]:
        return decode_blobs(partition.blobs)


class OsmPbfDataSource(DataSource):
    """``format("osmpbf")``: ``.load()`` accepts a file, directory or
    glob, or a list of them; :func:`~.pbf.resolve_osm_paths` expands
    either into the file list."""

    @classmethod
    def name(cls) -> str:
        return "osmpbf"

    def schema(self) -> str:
        return PBF_ENTITY_DDL

    def reader(self, schema) -> OsmPbfReader:
        return OsmPbfReader(self.options)


def register(spark) -> None:
    """Idempotent registration helper: after this,
    ``spark.read.format('osmpbf').load(path)`` works in the session."""
    spark.dataSource.register(OsmPbfDataSource)
