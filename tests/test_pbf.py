"""Native PBF codec (O1): wire-format round-trips and the distributed
reader. The encoder fabricates real .osm.pbf bytes (zlib blobs,
DenseNodes delta columns, string tables), so these tests exercise the
exact format pyosmium parses for the reference (filter.py:260) without
pyosmium being installed."""

from __future__ import annotations

import zlib

import pytest

from osm_poi_database_maker_spark import pbf
from osm_poi_database_maker_spark.osm_fixtures import (
    PBF_NODES,
    PBF_RELATIONS,
    PBF_WAYS,
)


def _write_fixture(tmp_path, **kw):
    path = str(tmp_path / "fixture.osm.pbf")
    n = pbf.encode_pbf(
        path, nodes=PBF_NODES, ways=PBF_WAYS, relations=PBF_RELATIONS, **kw
    )
    return path, n


# --- pure codec (no Spark) -------------------------------------------------


def test_varint_zigzag_roundtrip():
    for v in [0, 1, 127, 128, 300, 2**31, 2**63 - 1]:
        buf = pbf._enc_uvarint(v)
        got, i = pbf._uvarint(buf, 0)
        assert (got, i) == (v, len(buf))
    for s in [0, -1, 1, -2, 2, -(2**62), 2**62, 4611686018427387903]:
        buf = pbf._enc_zigzag(s)
        got, _ = pbf._uvarint(buf, 0)
        assert pbf._zigzag(got) == s


def test_blob_index_shape(tmp_path):
    path, n_blobs = _write_fixture(tmp_path, block_size=5)
    idx = pbf.scan_blob_index(path)
    assert len(idx) == n_blobs
    assert idx[0][0] == "OSMHeader"
    assert all(t == "OSMData" for (t, _o, _s) in idx[1:])
    # 8 nodes / block 5 -> 2 blobs; 3 ways -> 1; 2 relations -> 1
    assert len(idx) == 1 + 2 + 1 + 1
    # offsets strictly increasing and within file
    import os

    size = os.path.getsize(path)
    for _t, off, ln in idx:
        assert 0 < off and off + ln <= size


def _decode_all(path):
    rows = []
    for btype, off, size in pbf.scan_blob_index(path):
        if btype != "OSMData":
            continue
        with open(path, "rb") as f:
            f.seek(off)
            rows.extend(
                pbf.decode_primitive_block(pbf.decompress_blob(f.read(size)))
            )
    return rows


@pytest.mark.parametrize("compress", [True, False])
def test_codec_roundtrip(tmp_path, compress):
    path, _ = _write_fixture(tmp_path, compress=compress, block_size=5)
    rows = _decode_all(path)
    by_id = {(r["osm_type"], r["id"]): r for r in rows}
    assert len(by_id) == len(PBF_NODES) + len(PBF_WAYS) + len(PBF_RELATIONS)

    for n in PBF_NODES:  # delta-coded ids arrive in written (unsorted) order
        r = by_id[("node", n["id"])]
        assert r["tags"] == n["tags"]
        assert r["version"] == n["version"]
        assert r["user_id"] == n["user_id"]
        assert r["changeset_id"] == n["changeset_id"]
        assert r["tstamp_ms"] == n["tstamp_ms"]
        # 100-nanodegree grid: exact for 7-decimal fixture coords
        assert round(r["lon"], 7) == round(n["lon"], 7)
        assert round(r["lat"], 7) == round(n["lat"], 7)

    for w in PBF_WAYS:
        r = by_id[("way", w["id"])]
        assert r["refs"] == w["refs"]
        assert r["tags"] == w["tags"]
        assert r["tstamp_ms"] == w["tstamp_ms"]

    for rel in PBF_RELATIONS:
        r = by_id[("relation", rel["id"])]
        got = list(zip(r["member_types"], r["member_ids"], r["member_roles"]))
        assert got == rel["members"]
        assert r["tags"] == rel["tags"]


def test_plain_node_decode():
    """Non-dense Node messages (legal, rare) decode through the same
    block scanner: hand-build a group with one plain node."""
    st = pbf._StringTable()
    k, v = st.add("amenity"), st.add("cafe")
    node = (
        pbf._enc_uvarint(1 << 3) + pbf._enc_zigzag(-42)  # sint64 id
        + pbf._enc_field_bytes(2, pbf._enc_uvarint(k))
        + pbf._enc_field_bytes(3, pbf._enc_uvarint(v))
        + pbf._enc_uvarint(8 << 3) + pbf._enc_zigzag(525000000)
        + pbf._enc_uvarint(9 << 3) + pbf._enc_zigzag(-48000000)
    )
    group = pbf._enc_field_bytes(1, node)
    block = (
        pbf._enc_field_bytes(1, st.encode())
        + pbf._enc_field_bytes(2, group)
        + pbf._enc_field_varint(17, 100)
    )
    rows = pbf.decode_primitive_block(block)
    assert len(rows) == 1
    r = rows[0]
    assert r["osm_type"] == "node" and r["id"] == -42
    assert r["tags"] == {"amenity": "cafe"}
    assert round(r["lat"], 7) == 52.5 and round(r["lon"], 7) == -4.8


def test_corrupt_inputs_raise(tmp_path):
    path, _ = _write_fixture(tmp_path)
    data = open(path, "rb").read()
    # truncated mid-blob
    bad = tmp_path / "trunc.pbf"
    bad.write_bytes(data[: len(data) - 3])
    with pytest.raises(ValueError):
        pbf.scan_blob_index(str(bad))
    # corrupted zlib payload
    (_t, off, size) = pbf.scan_blob_index(path)[1]
    blob = data[off : off + size]
    with pytest.raises(zlib.error):
        pbf.decompress_blob(blob[:-4] + b"\x00\x00\x00\x00")
    # raw_size mismatch is detected
    payload = b"x" * 10
    raw_blob = pbf._enc_field_varint(2, 99) + pbf._enc_field_bytes(
        3, zlib.compress(payload)
    )
    with pytest.raises(ValueError, match="raw_size"):
        pbf.decompress_blob(raw_blob)

    # malformed packed data: a ValueError, never an IndexError or a row
    assert [r["id"] for r in pbf.decode_primitive_block(_dense_block())] == [10, 11, 12]
    # a way whose refs end mid-varint, before refs that would end it
    way, next_way = _enc_way(1, refs=b"\x82"), _enc_way(2, refs=b"\x01")
    relation = (
        pbf._enc_field_varint(1, 1)
        + pbf._enc_field_bytes(8, _uvs([1, 1]))
        + pbf._enc_field_bytes(9, _sdelta([5, 6]))
        + pbf._enc_field_bytes(10, _uvs([1]))
    )
    mismatch = "values for 3 ids"
    malformed = {
        "mid-varint": [
            _dense_block(ids=_sdelta([10, 11, 12]) + b"\x80"),
            _dense_block(kv=b"\x01\x02\x00\x81"),
            _block([""], pbf._enc_field_bytes(3, way) + pbf._enc_field_bytes(3, next_way)),
        ],
        "longer than 10 bytes": [
            _dense_block(ids=_sdelta([10, 11]) + b"\x80" * 10 + b"\x01"),
        ],
        f"lat column has 2 {mismatch}": [_dense_block(lat=_sdelta([1, 2]))],
        f"lon column has 1 {mismatch}": [_dense_block(lon=_sdelta([4]))],
        f"lat column has 0 {mismatch}": [_dense_block(lat=None)],
        f"version column has 2 {mismatch}": [_dense_block(version=_uvs([1, 1]))],
        f"tstamp column has 1 {mismatch}": [_dense_block(tstamp=_sdelta([5]))],
        f"changeset_id column has 2 {mismatch}": [
            _dense_block(changeset=_sdelta([8, 8]))
        ],
        f"user_id column has 0 {mismatch}": [_dense_block(uid=b"")],
        "inside a key/value pair": [_dense_block(kv=_uvs([1, 2, 0, 1]))],
        "string table index 7 outside": [_dense_block(kv=_uvs([1, 7, 0]))],
        "4 tag groups for 3 ids": [_dense_block(kv=_uvs([0, 0, 0, 0]))],
        "repeats a tag key": [_dense_block(kv=_uvs([1, 2, 1, 2, 0]))],
        "differ in length": [_block(["", "outer"], pbf._enc_field_bytes(4, relation))],
    }
    for message, blocks in malformed.items():
        for block in blocks:
            with pytest.raises(ValueError, match=message):
                pbf.decode_primitive_block(block)
    with pytest.raises(ValueError, match="10 bytes"):
        pbf._uvarint(b"\x80" * 10 + b"\x01", 0)
    with pytest.raises(ValueError, match="truncated"):
        pbf._uvarint(b"\x80\x80", 0)


def _dense_block(**over) -> bytes:
    """A block of three tagged DenseNodes; ``over`` replaces the packed
    bytes of one column (None drops the column)."""
    cols = {
        "ids": _sdelta([10, 11, 12]),
        "version": _uvs([1, 1, 1]),
        "tstamp": _sdelta([5, 6, 7]),
        "changeset": _sdelta([8, 8, 8]),
        "uid": _sdelta([9, 9, 9]),
        "lat": _sdelta([1, 2, 3]),
        "lon": _sdelta([4, 5, 6]),
        "kv": _uvs([1, 2, 0, 0, 0]),
        **over,
    }

    def fields(*numbered):
        return b"".join(
            pbf._enc_field_bytes(f, cols[name])
            for f, name in numbered
            if cols[name] is not None
        )

    info = fields((1, "version"), (2, "tstamp"), (3, "changeset"), (4, "uid"))
    dense = (
        fields((1, "ids"))
        + pbf._enc_field_bytes(5, info)
        + fields((8, "lat"), (9, "lon"), (10, "kv"))
    )
    return _block(["", "k", "v"], pbf._enc_field_bytes(2, dense))


def _enc_way(way_id: int, refs: bytes) -> bytes:
    return pbf._enc_field_varint(1, way_id) + pbf._enc_field_bytes(8, refs)


def _uvs(vals) -> bytes:
    return b"".join(pbf._enc_uvarint(v) for v in vals)


def _sdelta(vals) -> bytes:
    return b"".join(pbf._delta_zigzag(vals))


def _block(strings, *groups) -> bytes:
    """A PrimitiveBlock from a string table and encoded PrimitiveGroups."""
    table = b"".join(pbf._enc_field_bytes(1, s.encode()) for s in strings)
    return (
        pbf._enc_field_bytes(1, table)
        + b"".join(pbf._enc_field_bytes(2, g) for g in groups)
        + pbf._enc_field_varint(17, 100)
    )


def _write_blocks(path, *blocks) -> str:
    """A .osm.pbf holding hand-built PrimitiveBlocks."""
    with open(path, "wb") as f:
        f.write(pbf._enc_blob("OSMHeader", pbf._enc_field_bytes(4, b"DenseNodes"), True))
        for b in blocks:
            f.write(pbf._enc_blob("OSMData", b, True))
    return str(path)


def _dense_group(ids, kv=None) -> bytes:
    body = (
        pbf._enc_field_bytes(1, _sdelta(ids))
        + pbf._enc_field_bytes(8, _sdelta([0] * len(ids)))
        + pbf._enc_field_bytes(9, _sdelta([0] * len(ids)))
    )
    if kv is not None:
        body += pbf._enc_field_bytes(10, _uvs(kv))
    return pbf._enc_field_bytes(2, body)


def _tags_by_id(spark, path):
    direct = {}
    with open(path, "rb") as f:
        for btype, off, size in pbf.scan_blob_index(path):
            if btype == "OSMData":
                f.seek(off)
                for r in pbf.decode_primitive_block(pbf.decompress_blob(f.read(size))):
                    direct[r["id"]] = r["tags"]
    via_spark = {r.id: dict(r.tags) for r in pbf.read_pbf(spark, path).collect()}
    assert via_spark == direct
    return direct


def test_empty_string_tag_value(spark, tmp_path):
    """String-table index 0 is both the keys_vals delimiter and the index
    of "": a node tagged {"note": ""} leaves an odd run between zeros,
    and the block must be split in order, not on every zero."""
    nodes = [
        {"id": 1, "lon": 0.0, "lat": 0.0, "tags": {"amenity": "cafe"}},
        {"id": 2, "lon": 0.0, "lat": 0.0, "tags": {"note": "", "name": "x"}},
        {"id": 3, "lon": 0.0, "lat": 0.0, "tags": {}},
        {"id": 4, "lon": 0.0, "lat": 0.0, "tags": {"note": ""}},
        {"id": 5, "lon": 0.0, "lat": 0.0, "tags": {"shop": "bakery"}},
    ]
    path = str(tmp_path / "empty_value.osm.pbf")
    pbf.encode_pbf(path, nodes=nodes)
    assert _tags_by_id(spark, path) == {n["id"]: n["tags"] for n in nodes}

    # no keys_vals field at all: no node in the block has tags
    path = _write_blocks(tmp_path / "no_kv.osm.pbf", _block([""], _dense_group([7, 8])))
    assert _tags_by_id(spark, path) == {7: {}, 8: {}}

    # fewer tag groups than nodes: the trailing nodes have no tags, also
    # when the groups present hold a "" value
    path = _write_blocks(
        tmp_path / "short_kv.osm.pbf",
        _block(["", "k", "v"], _dense_group([1, 2, 3], [1, 2, 0])),
        _block(["", "k"], _dense_group([4, 5, 6], [1, 0, 0])),
    )
    assert _tags_by_id(spark, path) == {
        1: {"k": "v"}, 2: {}, 3: {}, 4: {"k": ""}, 5: {}, 6: {}
    }


def test_tstamp_is_session_zone_independent(spark, tmp_path):
    """tstamp is an instant: with a non-UTC session time zone,
    unix_millis(tstamp) still equals the encoded tstamp_ms on every
    reader."""
    from osm_poi_database_maker_spark import osm_xml
    from osm_poi_database_maker_spark.pbf_datasource import register

    path = str(tmp_path / "tz.osm.pbf")
    xml_path = str(tmp_path / "tz.osm")
    ents = dict(nodes=PBF_NODES, ways=PBF_WAYS, relations=PBF_RELATIONS)
    pbf.encode_pbf(path, **ents)
    osm_xml.write_osm_xml(xml_path, **ents)
    want = {
        (kind, e["id"]): e["tstamp_ms"]
        for kind, es in (("node", PBF_NODES), ("way", PBF_WAYS), ("relation", PBF_RELATIONS))
        for e in es
    }
    register(spark)
    key = "spark.sql.session.timeZone"
    before = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        for df in (
            pbf.read_pbf(spark, path),
            spark.read.format("osmpbf").load(path),
            osm_xml.read_osm_xml(spark, xml_path),
        ):
            got = df.selectExpr("osm_type", "id", "unix_millis(tstamp) AS ms").collect()
            assert {(r.osm_type, r.id): r.ms for r in got} == want
    finally:
        spark.conf.set(key, before)


def test_entity_schema_matches_ddl(spark):
    """decode_block's Arrow schema is PBF_ENTITY_DDL as Spark converts it."""
    from pyspark.sql.pandas.types import to_arrow_schema

    ddl = spark.createDataFrame([], pbf.PBF_ENTITY_DDL).schema
    assert to_arrow_schema(ddl) == pbf.ENTITY_SCHEMA


def test_unsupported_compression_raises():
    blob = pbf._enc_field_bytes(6, b"\x00\x01")  # lz4_data branch
    with pytest.raises(ValueError, match="compression"):
        pbf.decompress_blob(blob)


# --- distributed reader ----------------------------------------------------


def test_read_pbf_distributed(spark, tmp_path):
    path, _ = _write_fixture(tmp_path, block_size=3)  # many small blobs
    df = pbf.read_pbf(spark, path)
    rows = {(r.osm_type, r.id): r for r in df.collect()}
    assert len(rows) == 13
    n = rows[("node", 1003)]
    assert n.tags == {} and round(n.lon, 7) == -73.9897001
    w = rows[("way", 2002)]
    assert w.refs == [1002, 1004, 1005, 1006, 1007] and w.lon is None
    rel = rows[("relation", 3002)]
    assert rel.member_roles == ["", "subarea"]
    assert rel.member_types == ["way", "relation"]
    # decode is shuffle-free: every Exchange in the plan is the tiny
    # round-robin redistribution of (path, offset, size) index triples;
    # no shuffle ever moves decoded entity data
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == plan.count("RoundRobinPartitioning")


def test_pbf_kind_projections(spark, tmp_path):
    path, _ = _write_fixture(tmp_path)
    nodes = pbf.pbf_nodes(spark, path)
    assert nodes.count() == len(PBF_NODES)
    assert dict(nodes.dtypes)["geom_valid"] == "boolean"
    assert all(r.geom_valid for r in nodes.collect())
    ways = pbf.pbf_ways(spark, path)
    assert {r.id for r in ways.collect()} == {w["id"] for w in PBF_WAYS}
    rels = pbf.pbf_relations(spark, path)
    assert rels.count() == len(PBF_RELATIONS)
