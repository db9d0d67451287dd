"""Seeded OSM input for the ``ep1_pbf_to_copy`` workload.

``generate(seed, n_nodes)`` draws an OSM-shaped entity set with numpy and
``write_pbf`` serialises it to a real ``.osm.pbf`` with a writer of its
own (vectorised varints, zlib blobs), so the engine's codec never shapes
its own input. The same seed gives byte-identical files.

The entity set has:

* ``n_nodes`` nodes, about 10% tagged. Tag values follow a Zipf-like skew
  over the TOI dimension's values, so some pass the count threshold and
  the top-100 rank cut and most of the mass sits on a few values. Some
  names carry COPY/hstore escape characters, some tagged nodes have
  out-of-range latitude (quarantined), some ids repeat with a higher
  version (dedup), some carry trim keys or the excluded tag pair.
* ``n_nodes / 10`` ways, mostly closed rings over untagged nodes; some
  are open and some reference node ids that do not exist.
* ``n_nodes / 100`` relations over ways and nodes.

``oracle_rows(ents)`` computes the expected COPY rows of the pass
independently in DuckDB, following the oracle of
``queries/osm.py::osm_poi_pipeline_full``; only the WKB hex (raw IEEE
bytes, which SQL cannot express) is packed here with numpy.
"""

from __future__ import annotations

import json
import zlib

import numpy as np

GRANULARITY = 100  # nanodegrees per coordinate unit (the PBF default)
BLOCK = 8000  # entities per PrimitiveBlock, like real extracts
TS0 = 1_420_070_400  # 2015-01-01T00:00:00Z

TOI_VALUES = {
    # values of the fixture TOI dimension (osm_fixtures.TAGINFO), in the
    # skew order the generator draws them: hot values first
    "amenity": ["cafe"]
    + [f"v{i:03d}" for i in range(110)]
    + ["edge", "rare", "nowiki", "bar;pub"],
    "shop": ["bakery", "florist", "seldom"],
    "tourism": ["hotel"],
    "leisure": ["park"],  # a TOI key with no dimension rows
}
ESCAPES = ["\\", '"', "\n", "\t", "\r"]


# ---------------------------------------------------------------------------
# entity generation
# ---------------------------------------------------------------------------


def _zipf_pick(rng: np.random.Generator, n_choices: int, size: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n_choices + 1) ** 1.1
    return rng.choice(n_choices, size=size, p=w / w.sum())


def _node_tags(rng: np.random.Generator, n: int) -> list[dict[str, str]]:
    keys = rng.choice(
        ["amenity", "shop", "tourism", "leisure", "highway"],
        size=n,
        p=[0.55, 0.2, 0.1, 0.05, 0.1],
    )
    amen = _zipf_pick(rng, len(TOI_VALUES["amenity"]), n)
    shop = _zipf_pick(rng, len(TOI_VALUES["shop"]), n)
    roll = rng.random((n, 6))
    esc = rng.integers(0, len(ESCAPES), size=n)
    out = []
    for i in range(n):
        k = str(keys[i])
        if k == "amenity":
            tags = {"amenity": TOI_VALUES["amenity"][amen[i]]}
        elif k == "shop":
            tags = {"shop": TOI_VALUES["shop"][shop[i]]}
        elif k == "highway":
            tags = {"highway": "bus_stop"}
        else:
            tags = {k: TOI_VALUES[k][0]}
        r = roll[i]
        if r[0] < 0.9:
            name = f"Place {i}"
            if r[1] < 0.05:
                name = f"Pl{ESCAPES[esc[i]]}ace {i}"
            tags["name"] = name
        if r[2] < 0.05:
            tags["note"] = "check"
        if r[3] < 0.03:
            tags["fixme"] = "survey"
        if r[4] < 0.04 and k == "amenity":
            tags["access"] = "private"
            tags["amenity"] = "cafe"  # the excluded pair
        if r[5] < 0.03:
            tags["shop"] = "bakery"  # matches two TOI keys
        out.append(tags)
    return out


def generate(seed: int, n_nodes: int) -> dict:
    """The entity set for ``seed`` as column arrays (see module doc)."""
    rng = np.random.default_rng(seed)
    n = n_nodes
    ids = 1 + np.cumsum(rng.integers(1, 4, size=n)).astype(np.int64)
    lon = rng.integers(50_000_000, 55_000_000, size=n).astype(np.int64)  # 1e-7 deg
    lat = rng.integers(520_000_000, 525_000_000, size=n).astype(np.int64)
    tagged = rng.random(n) < 0.10
    tidx = np.flatnonzero(tagged)
    # out-of-range latitude on some tagged nodes: decoded, then quarantined
    bad = tidx[rng.random(len(tidx)) < 0.01]
    lat[bad] = 950_000_000
    version = rng.integers(1, 6, size=n).astype(np.int64)
    ts = TS0 + rng.integers(0, 300_000_000, size=n).astype(np.int64)
    changeset = rng.integers(1, 200_000_000, size=n).astype(np.int64)
    uid = rng.integers(1, 5_000_000, size=n).astype(np.int64)
    tags: list[dict[str, str]] = [{} for _ in range(n)]
    for i, t in zip(tidx, _node_tags(rng, len(tidx))):
        tags[i] = t
    # a newer version of some tagged nodes, written right after the original
    dup = np.sort(tidx[rng.random(len(tidx)) < 0.01])
    order = np.concatenate([np.arange(n), dup])
    order = order[np.argsort(order, kind="stable")]
    is_dup = np.zeros(len(order), dtype=bool)
    is_dup[1:] = order[1:] == order[:-1]
    nodes = {
        "id": ids[order],
        "lon": lon[order],
        "lat": lat[order],
        "version": np.where(is_dup, version[order] + 1, version[order]),
        "ts": np.where(is_dup, ts[order] + 3600, ts[order]),
        "changeset": changeset[order],
        "uid": uid[order],
        "tags": [
            {**tags[j], "name": f"Renamed {j}"} if d and tags[j] else tags[j]
            for j, d in zip(order, is_dup)
        ],
    }

    # ways over untagged nodes (unique ids, valid coordinates)
    plain = ids[~tagged]
    n_ways = n // 10
    ring_len = rng.integers(3, 9, size=n_ways)
    starts = rng.integers(0, len(plain) - 16, size=n_ways)
    kind = rng.random(n_ways)
    refs = []
    for w in range(n_ways):
        r = plain[starts[w] : starts[w] + ring_len[w]].tolist()
        if kind[w] < 0.08:  # open way
            pass
        elif kind[w] < 0.11:  # closed, one ref that no node has
            r = r + [r[0]]
            r[1] = int(ids[-1]) + 1_000 + w
        else:
            r = r + [r[0]]
        refs.append(r)
    wtagged = rng.random(n_ways) < 0.5
    wtags_src = _node_tags(rng, n_ways)
    wtags = [
        {"building": "yes", **t} if wt else {"building": "yes"}
        for t, wt in zip(wtags_src, wtagged)
    ]
    ways = {
        "id": np.arange(1, n_ways + 1, dtype=np.int64) * 2,
        "version": rng.integers(1, 6, size=n_ways).astype(np.int64),
        "ts": TS0 + rng.integers(0, 300_000_000, size=n_ways).astype(np.int64),
        "changeset": rng.integers(1, 200_000_000, size=n_ways).astype(np.int64),
        "uid": rng.integers(1, 5_000_000, size=n_ways).astype(np.int64),
        "tags": wtags,
        "refs": refs,
    }

    n_rel = max(1, n // 100)
    rel_members = []
    mcount = rng.integers(1, 5, size=n_rel)
    for r in range(n_rel):
        m = []
        for j in range(int(mcount[r])):
            if j == 0 or rng.random() < 0.7:
                m.append((1, int(ways["id"][rng.integers(0, n_ways)]), "outer"))
            else:
                m.append((0, int(ids[rng.integers(0, n)]), ""))
        rel_members.append(m)
    relations = {
        "id": np.arange(1, n_rel + 1, dtype=np.int64) * 3,
        "version": rng.integers(1, 6, size=n_rel).astype(np.int64),
        "ts": TS0 + rng.integers(0, 300_000_000, size=n_rel).astype(np.int64),
        "changeset": rng.integers(1, 200_000_000, size=n_rel).astype(np.int64),
        "uid": rng.integers(1, 5_000_000, size=n_rel).astype(np.int64),
        "tags": [{"type": "multipolygon", "amenity": "v001"}] * n_rel,
        "members": rel_members,
    }
    return {"nodes": nodes, "ways": ways, "relations": relations}


# ---------------------------------------------------------------------------
# PBF writer
# ---------------------------------------------------------------------------


def _varints(vals) -> bytes:
    """Unsigned LEB128 varints of a uint64 array, concatenated."""
    if len(vals) < 64:  # numpy's per-call cost dominates short inputs
        out = bytearray()
        for x in vals:
            x = int(x)
            while x >= 0x80:
                out.append(x & 0x7F | 0x80)
                x >>= 7
            out.append(x)
        return bytes(out)
    v = np.asarray(vals, dtype=np.uint64)
    nb = np.ones(v.size, dtype=np.int64)
    t = v >> np.uint64(7)
    while t.any():
        nb += t > 0
        t >>= np.uint64(7)
    out = np.empty(int(nb.sum()), dtype=np.uint8)
    pos = np.cumsum(nb) - nb
    for k in range(int(nb.max())):
        m = nb > k
        byte = (v[m] >> np.uint64(7 * k)) & np.uint64(0x7F)
        cont = (nb[m] > k + 1).astype(np.uint64) << np.uint64(7)
        out[pos[m] + k] = (byte | cont).astype(np.uint8)
    return out.tobytes()


def _zigzag(vals) -> np.ndarray:
    s = np.asarray(vals, dtype=np.int64)
    return ((s << 1) ^ (s >> 63)).view(np.uint64)


def _sdelta(vals) -> bytes:
    if len(vals) < 64:
        prev, zz = 0, []
        for x in vals:
            d = int(x) - prev
            prev = int(x)
            zz.append((d << 1) ^ (d >> 63))
        return _varints(zz)
    s = np.asarray(vals, dtype=np.int64)
    return _varints(_zigzag(np.diff(s, prepend=np.int64(0))))


def _key(fno: int, wire: int) -> bytes:
    return _varints([fno << 3 | wire])


def _fbytes(fno: int, payload: bytes) -> bytes:
    return _key(fno, 2) + _varints([len(payload)]) + payload


def _fvarint(fno: int, v: int) -> bytes:
    return _key(fno, 0) + _varints([v])


class _Strings:
    def __init__(self) -> None:
        self.index = {"": 0}

    def __call__(self, s: str) -> int:
        return self.index.setdefault(s, len(self.index))

    def table(self) -> bytes:
        return b"".join(_fbytes(1, s.encode("utf-8")) for s in self.index)


def _block(st: _Strings, groups: list[bytes]) -> bytes:
    body = _fbytes(1, st.table()) + b"".join(_fbytes(2, g) for g in groups)
    return body + _fvarint(17, GRANULARITY) + _fvarint(18, 1000)


def _dense_block(nodes: dict, lo: int, hi: int) -> bytes:
    st = _Strings()
    kv: list[int] = []
    for t in nodes["tags"][lo:hi]:
        for k, v in t.items():
            kv += (st(k), st(v))
        kv.append(0)
    sl = slice(lo, hi)
    info = (
        _fbytes(1, _varints(nodes["version"][sl]))
        + _fbytes(2, _sdelta(nodes["ts"][sl]))
        + _fbytes(3, _sdelta(nodes["changeset"][sl]))
        + _fbytes(4, _sdelta(nodes["uid"][sl]))
    )
    dense = (
        _fbytes(1, _sdelta(nodes["id"][sl]))
        + _fbytes(5, info)
        + _fbytes(8, _sdelta(nodes["lat"][sl]))
        + _fbytes(9, _sdelta(nodes["lon"][sl]))
        + _fbytes(10, _varints(kv))
    )
    return _block(st, [_fbytes(2, dense)])


def _info(ent: dict, i: int) -> bytes:
    return (
        _fvarint(1, int(ent["version"][i]))
        + _fvarint(2, int(ent["ts"][i]))
        + _fvarint(3, int(ent["changeset"][i]))
        + _fvarint(4, int(ent["uid"][i]))
    )


def _kv(st: _Strings, tags: dict[str, str]) -> bytes:
    return _fbytes(2, _varints([st(k) for k in tags])) + _fbytes(
        3, _varints([st(v) for v in tags.values()])
    )


def _way_block(ways: dict, lo: int, hi: int) -> bytes:
    st = _Strings()
    msgs = []
    for i in range(lo, hi):
        body = (
            _fvarint(1, int(ways["id"][i]))
            + _kv(st, ways["tags"][i])
            + _fbytes(4, _info(ways, i))
            + _fbytes(8, _sdelta(ways["refs"][i]))
        )
        msgs.append(_fbytes(3, body))
    return _block(st, [b"".join(msgs)])


def _relation_block(rels: dict, lo: int, hi: int) -> bytes:
    st = _Strings()
    msgs = []
    for i in range(lo, hi):
        m = rels["members"][i]
        body = (
            _fvarint(1, int(rels["id"][i]))
            + _kv(st, rels["tags"][i])
            + _fbytes(4, _info(rels, i))
            + _fbytes(8, _varints([st(role) for _t, _id, role in m]))
            + _fbytes(9, _sdelta([mid for _t, mid, _r in m]))
            + _fbytes(10, _varints([t for t, _id, _r in m]))
        )
        msgs.append(_fbytes(4, body))
    return _block(st, [b"".join(msgs)])


def _blob(btype: str, payload: bytes) -> bytes:
    blob = _fvarint(2, len(payload)) + _fbytes(3, zlib.compress(payload, 6))
    header = _fbytes(1, btype.encode()) + _fvarint(3, len(blob))
    return len(header).to_bytes(4, "big") + header + blob


def write_pbf(path: str, ents: dict) -> int:
    """Write ``ents`` as an .osm.pbf; returns the number of OSMData blobs."""
    header = (
        _fbytes(4, b"OsmSchema-V0.6")
        + _fbytes(4, b"DenseNodes")
        + _fbytes(16, b"perfbench")
    )
    blobs = [_blob("OSMHeader", header)]
    for key, enc in (
        ("nodes", _dense_block),
        ("ways", _way_block),
        ("relations", _relation_block),
    ):
        n = len(ents[key]["id"])
        for lo in range(0, n, BLOCK):
            blobs.append(_blob("OSMData", enc(ents[key], lo, min(n, lo + BLOCK))))
    with open(path, "wb") as f:
        for b in blobs:
            f.write(b)
    return len(blobs) - 1


def counts(ents: dict) -> dict[str, int]:
    return {k: len(v["id"]) for k, v in ents.items()}


# ---------------------------------------------------------------------------
# oracle
# ---------------------------------------------------------------------------


def _deg(raw: np.ndarray) -> np.ndarray:
    # the decoder's arithmetic: 1e-9 * (offset + granularity * raw)
    return 1e-9 * (GRANULARITY * raw).astype(np.float64)


def _point_wkb_hex(lon: np.ndarray, lat: np.ndarray) -> list[str]:
    n = len(lon)
    buf = np.zeros((n, 21), dtype=np.uint8)
    buf[:, 0] = 1
    buf[:, 1] = 1
    buf[:, 5:13] = lon.astype("<f8").view(np.uint8).reshape(n, 8)
    buf[:, 13:21] = lat.astype("<f8").view(np.uint8).reshape(n, 8)
    return [row.tobytes().hex() for row in buf]


def _polygon_wkb_hex(pts: np.ndarray) -> str:
    # byte-order flag, then type 3 (polygon), one ring, its point count
    head = b"\x01" + np.array([3, 1, len(pts)], dtype="<u4").tobytes()
    return (head + pts.astype("<f8").tobytes()).hex()


def oracle_rows(ents: dict, con=None) -> list[tuple]:
    """Expected (osm_type, id, copy_line) rows of the EP1 pass."""
    import duckdb
    import pandas as pd

    from osm_poi_database_maker_spark import osm_fixtures as fx
    from osm_poi_database_maker_spark.queries.osm import (
        _DIM_SQL,
        _cascade_where,
        _copy_field,
        _hstore_sql,
        _matched_sql,
    )

    nodes, ways = ents["nodes"], ents["ways"]
    lon, lat = _deg(nodes["lon"]), _deg(nodes["lat"])
    nd = pd.DataFrame(
        {
            "id": nodes["id"],
            "version": nodes["version"],
            "user_id": nodes["uid"],
            "ts": nodes["ts"],
            "changeset_id": nodes["changeset"],
            "tags_json": [json.dumps(t, sort_keys=True) for t in nodes["tags"]],
            "lon": lon,
            "lat": lat,
            "wkb": _point_wkb_hex(lon, lat),
        }
    )
    coord = {int(i): (x, y) for i, x, y in zip(nodes["id"], lon, lat)}
    wkb_ring = []
    for r in ways["refs"]:
        pts = [coord.get(int(i)) for i in r]
        wkb_ring.append(
            None if any(p is None for p in pts) else _polygon_wkb_hex(np.array(pts))
        )
    wd = pd.DataFrame(
        {
            "id": ways["id"],
            "version": ways["version"],
            "user_id": ways["uid"],
            "ts": ways["ts"],
            "changeset_id": ways["changeset"],
            "tags_json": [json.dumps(t, sort_keys=True) for t in ways["tags"]],
            "wkb": wkb_ring,
        }
    )
    wn = pd.DataFrame(
        [(w, s, n) for w, r in zip(ways["id"], ways["refs"]) for s, n in enumerate(r)],
        columns=["way_id", "sequence_id", "node_id"],
    )
    con = con or duckdb.connect()
    con.register("bench_nodes", nd)
    con.register("bench_ways", wd)
    con.register("bench_way_nodes", wn)
    copy_line = "concat_ws(chr(9), " + ", ".join(
        _copy_field(c)
        for c in ("id", "version", "user_id", "tstamp", "changeset_id", "hs", "wkb")
    ) + ")"
    sql = f"""
WITH raw_nodes AS (
  SELECT id, version, user_id, to_timestamp(ts)::TIMESTAMP AS tstamp,
         changeset_id, tags_json, lon, lat, wkb
  FROM bench_nodes
),
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
         strftime(d.tstamp, '%Y-%m-%d %H:%M:%S') AS tstamp, d.changeset_id,
         {_hstore_sql("d.tags_json", fx.TRIM)} AS hs, d.wkb
  FROM ndedup d
  WHERE d.geom_valid
    AND {_cascade_where("d.tags_json")}
    AND d.id IN (SELECT id FROM matched)
),
wdedup AS (
  SELECT * FROM (
    SELECT *, to_timestamp(ts)::TIMESTAMP AS tstamp,
           row_number() OVER (PARTITION BY id ORDER BY version DESC, ts DESC) AS rn
    FROM bench_ways
  ) WHERE rn = 1
),
wj AS (
  SELECT wn.way_id, wn.sequence_id, nd.lon, nd.lat
  FROM bench_way_nodes wn LEFT JOIN raw_nodes nd ON wn.node_id = nd.id
),
wr AS (
  SELECT way_id,
         list(struct_pack(lon := lon, lat := lat) ORDER BY sequence_id) AS ring,
         max(CASE WHEN lon IS NULL THEN 1 ELSE 0 END) AS missing
  FROM wj GROUP BY way_id
),
wd AS (
  SELECT w.id, w.version, w.user_id, w.tstamp, w.changeset_id, w.tags_json,
         w.wkb, r.ring, coalesce(r.missing, 1) = 0 AS geom_valid
  FROM wdedup w LEFT JOIN wr r ON w.id = r.way_id
),
{_matched_sql("wd", prefix="w")},
way_rows AS (
  SELECT 'way' AS osm_type, w.id, w.version, w.user_id,
         strftime(w.tstamp, '%Y-%m-%d %H:%M:%S') AS tstamp, w.changeset_id,
         {_hstore_sql("w.tags_json", fx.TRIM)} AS hs, w.wkb
  FROM wd w
  WHERE w.geom_valid AND ring IS NOT NULL AND len(ring) >= 4
    AND ring[1].lon = ring[-1].lon AND ring[1].lat = ring[-1].lat
    AND {_cascade_where("w.tags_json")}
    AND w.id IN (SELECT id FROM wmatched)
)
SELECT osm_type, CAST(id AS BIGINT) AS id, {copy_line} AS copy_line
FROM (SELECT * FROM node_rows UNION ALL SELECT * FROM way_rows)
"""
    return con.sql(sql).fetchall()
