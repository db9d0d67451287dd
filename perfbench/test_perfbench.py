"""The benchmark's own tests: its inputs are a pure function of the seed.

Run from the repository root with ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import hashlib
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen_osm  # noqa: E402
import gen_tables  # noqa: E402

NODES = 5_000


def _pbf_bytes(tmp_path, seed: int, name: str) -> bytes:
    path = tmp_path / name
    gen_osm.write_pbf(str(path), gen_osm.generate(seed, NODES))
    return path.read_bytes()


def _tables_digest(tmp_path, seed: int, name: str) -> str:
    out = tmp_path / name
    gen_tables.write_tables(seed, str(out))
    h = hashlib.sha256()
    for t in gen_tables.TABLES:
        h.update((out / f"{t}.parquet").read_bytes())
    return h.hexdigest()


def test_pbf_same_seed_same_bytes(tmp_path):
    assert _pbf_bytes(tmp_path, 3, "a.pbf") == _pbf_bytes(tmp_path, 3, "b.pbf")


def test_pbf_other_seed_other_bytes(tmp_path):
    assert _pbf_bytes(tmp_path, 3, "a.pbf") != _pbf_bytes(tmp_path, 4, "b.pbf")


def test_tables_same_seed_same_bytes(tmp_path):
    assert _tables_digest(tmp_path, 3, "a") == _tables_digest(tmp_path, 3, "b")


def test_tables_other_seed_other_bytes(tmp_path):
    assert _tables_digest(tmp_path, 3, "a") != _tables_digest(tmp_path, 4, "b")


def test_pbf_decodes_to_the_generated_entities(tmp_path):
    """The engine's single-process decoder reads back exactly what the
    writer was given (ids, coordinates, tags, refs, members)."""
    from osm_poi_database_maker_spark import pbf

    ents = gen_osm.generate(5, NODES)
    path = str(tmp_path / "x.pbf")
    gen_osm.write_pbf(path, ents)
    rows = []
    with open(path, "rb") as f:
        for btype, off, size in pbf.scan_blob_index(path):
            if btype == "OSMData":
                f.seek(off)
                rows += pbf.decode_primitive_block(pbf.decompress_blob(f.read(size)))
    nodes = [r for r in rows if r["osm_type"] == "node"]
    ways = [r for r in rows if r["osm_type"] == "way"]
    rels = [r for r in rows if r["osm_type"] == "relation"]
    n = ents["nodes"]
    assert [r["id"] for r in nodes] == n["id"].tolist()
    assert [r["lon"] for r in nodes] == gen_osm._deg(n["lon"]).tolist()
    assert [r["lat"] for r in nodes] == gen_osm._deg(n["lat"]).tolist()
    assert [r["tags"] for r in nodes] == n["tags"]
    assert [r["tstamp_ms"] for r in nodes] == (n["ts"] * 1000).tolist()
    assert [r["refs"] for r in ways] == ents["ways"]["refs"]
    assert [r["member_ids"] for r in rels] == [
        [m[1] for m in ms] for ms in ents["relations"]["members"]
    ]
