"""Native OSM PBF codec + distributed Spark reader (O1, no pyosmium).

The reference ingests ``.osm.pbf`` through pyosmium's C++ reader
(reference filter.py:213-232, ``apply_file`` at :260) — an inherently
single-process stream. This module implements the public OSM PBF wire
format (the ``fileformat``/``osmformat`` protobuf schemas documented on
the OSM wiki) directly, so the scan itself distributes:

* the **blob index** is built driver-side by reading only the 4-byte
  length + ~16-byte BlobHeader of each blob and seeking past the body —
  O(#blobs) tiny reads (one blob ≈ 8 000 entities, so a 70 GB planet
  file indexes in ~100k seeks, milliseconds of data);
* the **decode** of each independent zlib-compressed PrimitiveBlock is
  fanned out over executors with ``mapInArrow`` — each task opens the
  shared file (local FS / NFS / fuse-mounted object store), seeks to its
  blob offsets, and emits Arrow batches. Throughput scales linearly with
  executors because blobs are self-contained by design (own string
  table, own delta-coding baselines).

The decode works on columns: :func:`decode_block` turns each packed
field into a numpy array in one pass (varint terminators found with one
comparison, 7-bit groups summed with ``np.add.reduceat``, zigzag and
delta undone with ``np.cumsum``) and assembles the block straight into
Arrow batches — no per-entity dicts, no pandas. The same batches feed
:func:`read_pbf`, the ``osmpbf`` DataSource and the
:func:`decode_primitive_block` row view.

This replaces the "bridge" job in :mod:`.osm_source` when pyosmium is
absent (it always is, in this container) and is pure public-format code:
protobuf wire types (varint / zigzag / length-delimited), zlib blobs,
DenseNodes delta columns. An encoder is included so tests and fixtures
can fabricate real PBF bytes — and it doubles as a PBF *sink* for
writing filtered extracts back out.
"""

from __future__ import annotations

import os
import zlib
from typing import Any, Iterable, Iterator, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# ---------------------------------------------------------------------------
# protobuf wire primitives
# ---------------------------------------------------------------------------

_MASK64 = (1 << 64) - 1


def _uvarint(buf, i: int) -> tuple[int, int]:
    """Decode one unsigned varint at ``buf[i:]`` → (value, next_index)."""
    shift = 0
    out = 0
    try:
        while True:
            b = buf[i]
            i += 1
            out |= (b & 0x7F) << shift
            if not b & 0x80:
                return out & _MASK64, i
            shift += 7
            if shift >= 70:
                raise ValueError("varint longer than 10 bytes")
    except IndexError:
        raise ValueError("truncated varint") from None


def _zigzag(n: int) -> int:
    """Decode a zigzag-encoded signed integer."""
    return (n >> 1) ^ -(n & 1)


def _int64(n: int) -> int:
    """The signed value of an ``int64``/``int32`` varint (negative values
    travel as 64-bit two's complement)."""
    return n - (1 << 64) if n >> 63 else n


def _iter_fields(buf) -> Iterator[tuple[int, int, Any]]:
    """Scan one protobuf message, yielding (field_no, wire_type, value).

    wire type 0 → int value; 2 → memoryview slice; 1/5 → raw fixed bytes.
    This generic scanner is all the schema knowledge the format needs —
    unknown fields are skipped for free, which is exactly protobuf's
    forward-compatibility contract.
    """
    i, n = 0, len(buf)
    while i < n:
        key, i = _uvarint(buf, i)
        fno, wt = key >> 3, key & 7
        if wt == 0:
            v, i = _uvarint(buf, i)
            yield fno, wt, v
            continue
        if wt == 2:
            ln, i = _uvarint(buf, i)
        elif wt == 1:
            ln = 8
        elif wt == 5:
            ln = 4
        else:
            raise ValueError(f"unsupported wire type {wt}")
        v = buf[i : i + ln]
        if len(v) != ln:
            raise ValueError("truncated field")
        i += ln
        yield fno, wt, v


def _varints(buf) -> np.ndarray:
    """Every varint of one packed field, decoded at once → uint64 array.

    A varint ends at each byte below 0x80; its 7-bit groups are shifted
    into place and summed per varint with ``np.add.reduceat``. Bits past
    the 64th drop, as in protobuf's own decoders.
    """
    b = np.frombuffer(buf, dtype=np.uint8)
    ends = np.flatnonzero(b < 0x80)
    if ends.size == b.size:  # every varint is one byte
        return b.astype(np.uint64)
    if not ends.size or ends[-1] != b.size - 1:
        raise ValueError("packed varints end mid-varint")
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    if lens.max() > 10:
        raise ValueError("varint longer than 10 bytes")
    shift = 7 * (np.arange(b.size) - np.repeat(starts, lens))
    return np.add.reduceat((b & 0x7F).astype(np.uint64) << shift.astype(np.uint64), starts)


def _unzigzag(u: np.ndarray) -> np.ndarray:
    """Zigzag-decode uint64 values → int64."""
    return (u >> np.uint64(1)).view(np.int64) ^ -(u & np.uint64(1)).view(np.int64)


def _sint_deltas(buf) -> np.ndarray:
    """Packed delta-coded sint64 (the DenseNodes columns) → int64 values.
    Sums wrap at 64 bits, so every int64 sequence round-trips."""
    return np.cumsum(_unzigzag(_varints(buf)))


def _packed_many(bufs: list) -> tuple[np.ndarray, np.ndarray]:
    """One packed field of many entities → (uint64 values, count per
    entity). The fields are joined and decoded as one buffer: a numpy
    call per way costs more than the scalar loop it replaces."""
    joined = b"".join(bufs)
    b = np.frombuffer(joined, dtype=np.uint8)
    stops = np.cumsum([len(x) for x in bufs], dtype=np.int64)
    if np.any(b[stops[np.diff(stops, prepend=0) > 0] - 1] >= 0x80):
        raise ValueError("packed varints end mid-varint")
    done = np.concatenate(([0], np.cumsum(b < 0x80)))[stops]
    return _varints(joined), np.diff(done, prepend=0)


def _restart_deltas(u: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Zigzag deltas of many entities → int64 values; the delta restarts
    at each entity (way refs, relation member ids)."""
    acc = np.concatenate(([0], np.cumsum(_unzigzag(u))))
    return acc[1:] - np.repeat(acc[np.cumsum(counts) - counts], counts)


# ---------------------------------------------------------------------------
# blob layer (fileformat.proto)
# ---------------------------------------------------------------------------


def scan_blob_index(path: str) -> list[tuple[str, int, int]]:
    """Index a PBF file without decoding it: [(blob_type, offset, size)].

    Reads 4 + len(BlobHeader) bytes per blob and seeks past the body, so
    indexing cost is proportional to the blob COUNT, not file size. The
    result is the driver-side work list the distributed reader fans out.
    """
    out = []
    file_size = os.path.getsize(path)
    with open(path, "rb") as f:
        while True:
            hdr_len = f.read(4)
            if not hdr_len:
                return out
            if len(hdr_len) < 4:
                raise ValueError("truncated BlobHeader length")
            hdr = f.read(int.from_bytes(hdr_len, "big"))
            btype, datasize = "", None
            for fno, _wt, v in _iter_fields(memoryview(hdr)):
                if fno == 1:
                    btype = bytes(v).decode("utf-8")
                elif fno == 3:
                    datasize = v
            if datasize is None:
                raise ValueError("BlobHeader missing datasize")
            off = f.tell()
            if off + datasize > file_size:
                raise ValueError("truncated Blob body")
            f.seek(datasize, os.SEEK_CUR)
            out.append((btype, off, datasize))


def decompress_blob(data) -> bytes:
    """Blob message → raw uncompressed payload (raw or zlib branches)."""
    raw = raw_size = zdata = None
    for fno, _wt, v in _iter_fields(memoryview(data)):
        if fno == 1:
            raw = bytes(v)
        elif fno == 2:
            raw_size = v
        elif fno == 3:
            zdata = bytes(v)
        elif fno in (4, 5, 6, 7):
            raise ValueError("unsupported blob compression (lzma/bzip2/lz4/zstd)")
    if raw is not None:
        return raw
    if zdata is None:
        raise ValueError("empty Blob")
    out = zlib.decompress(zdata)
    if raw_size is not None and len(out) != raw_size:
        raise ValueError(f"blob raw_size mismatch: {len(out)} != {raw_size}")
    return out


# ---------------------------------------------------------------------------
# osmformat.proto decode
# ---------------------------------------------------------------------------

MEMBER_TYPES = ("node", "way", "relation")
#: the OSM PBF defaults for a block's coordinate unit (nanodegrees) and
#: timestamp unit (ms): what :func:`encode_pbf` writes and what the
#: decoder assumes when a block omits them
GRANULARITY = 100
DATE_GRANULARITY = 1000

PBF_ENTITY_DDL = (
    "osm_type string, id long, version int, user_id int, tstamp timestamp, "
    "changeset_id long, tags map<string,string>, lon double, lat double, "
    "refs array<long>, member_ids array<long>, member_types array<string>, "
    "member_roles array<string>"
)

# PBF_ENTITY_DDL as Arrow: the type of every batch decode_block emits.
# tstamp carries its zone, so Spark reads the instant whatever the
# session time zone is.
ENTITY_SCHEMA = pa.schema(
    [
        ("osm_type", pa.string()),
        ("id", pa.int64()),
        ("version", pa.int32()),
        ("user_id", pa.int32()),
        ("tstamp", pa.timestamp("us", tz="UTC")),
        ("changeset_id", pa.int64()),
        ("tags", pa.map_(pa.string(), pa.string())),
        ("lon", pa.float64()),
        ("lat", pa.float64()),
        ("refs", pa.list_(pa.int64())),
        ("member_ids", pa.list_(pa.int64())),
        ("member_types", pa.list_(pa.string())),
        ("member_roles", pa.list_(pa.string())),
    ]
)

_COLS = ENTITY_SCHEMA.names
_MEMBER_TYPE_NAMES = pa.array(MEMBER_TYPES)
_NO_VARINTS = np.zeros(0, np.uint64)


class _Block(NamedTuple):
    """A PrimitiveBlock's string table and coordinate/time scales."""

    strings: pa.Array
    granularity: int
    lat_offset: int
    lon_offset: int
    date_granularity: int

    def degrees(self, raw: np.ndarray, offset: int) -> np.ndarray:
        # float arithmetic is exact below 2**53 (every real coordinate)
        # and cannot wrap like int64 above it
        return 1e-9 * (offset + self.granularity * raw.astype(np.float64))

    def tstamp(self, raw) -> pa.Array:
        """Timestamps in date_granularity units → UTC microseconds;
        overflow raises instead of wrapping."""
        us = pc.multiply_checked(pa.array(raw, pa.int64()), self.date_granularity * 1000)
        return us.cast(ENTITY_SCHEMA.field("tstamp").type)


def _take(table: pa.Array, idx: np.ndarray, what: str) -> pa.Array:
    if idx.size and idx.max() >= len(table):
        raise ValueError(f"{what} index {int(idx.max())} outside 0..{len(table) - 1}")
    return table.take(idx.astype(np.int64))


def _offsets(counts: np.ndarray) -> pa.Array:
    return pa.array(np.concatenate(([0], np.cumsum(counts))).astype(np.int32))


def _tag_map(block: _Block, keys, vals, counts) -> pa.MapArray:
    """String-table indexes of every entity's tags → one map column."""
    k = _take(block.strings, keys, "string table")
    v = _take(block.strings, vals, "string table")
    entity = np.repeat(np.arange(counts.size, dtype=np.int64), counts)
    if np.unique(entity * len(block.strings) + keys.astype(np.int64)).size != keys.size:
        raise ValueError("an entity repeats a tag key")
    return pa.MapArray.from_arrays(_offsets(counts), k, v)


def _dense_tags(kv: np.ndarray, n: int):
    """DenseNodes ``keys_vals`` → (keys, vals, tag count per node).

    Index 0 ends a node's tags but is also the string-table index of
    ``""``, a legal value. A split on every 0 is therefore exact only if
    the block ends with a 0 and every run between zeros is of even
    length; a ``""`` value leaves an odd run, and such a block is split
    in order instead. Nodes past the last tag group have no tags.
    """
    zeros = np.flatnonzero(kv == 0)
    runs = np.diff(zeros, prepend=-1) - 1
    if not kv.size or (kv[-1] == 0 and not np.any(runs & 1)):
        pairs = kv[kv != 0]
        keys, vals, counts = pairs[0::2], pairs[1::2], runs // 2
    else:
        keys, vals, counts = _split_keys_vals(kv.tolist())
    if counts.size > n:
        raise ValueError(f"DenseNodes keys_vals has {counts.size} tag groups for {n} ids")
    return keys, vals, np.pad(counts, (0, n - counts.size))


def _split_keys_vals(kv: list[int]):
    keys, vals, counts, c = [], [], [], 0
    it = iter(kv)
    for k in it:
        if k == 0:
            counts.append(c)
            c = 0
            continue
        v = next(it, None)
        if v is None:
            raise ValueError("DenseNodes keys_vals ends inside a key/value pair")
        keys.append(k)
        vals.append(v)
        c += 1
    if c:
        raise ValueError("DenseNodes keys_vals does not end with 0")
    return np.array(keys, np.uint64), np.array(vals, np.uint64), np.array(counts, np.int64)


def _batch(osm_type: str, n: int, **cols) -> pa.RecordBatch:
    """One ENTITY_SCHEMA batch; ``cols`` may be numpy arrays, lists or
    Arrow arrays, and absent columns are all null. Casts are safe: a
    version or user id outside int32 raises instead of wrapping."""
    cols["osm_type"] = pa.repeat(osm_type, n)
    return pa.RecordBatch.from_arrays(
        [
            _array(cols[f.name], f.type) if f.name in cols else pa.nulls(n, f.type)
            for f in ENTITY_SCHEMA
        ],
        schema=ENTITY_SCHEMA,
    )


def _array(col, typ: pa.DataType) -> pa.Array:
    return (col if isinstance(col, pa.Array) else pa.array(col)).cast(typ)


_DENSE_INFO = {1: "version", 2: "tstamp", 3: "changeset_id", 4: "user_id"}


def _dense_batch(buf, block: _Block) -> pa.RecordBatch:
    cols: dict[str, np.ndarray] = {}
    kv = _NO_VARINTS
    for fno, _wt, v in _iter_fields(buf):
        if fno == 1:
            cols["id"] = _sint_deltas(v)
        elif fno == 5:  # DenseInfo
            for f2, _w, v2 in _iter_fields(v):
                if f2 == 1:  # int32, NOT delta
                    cols["version"] = _varints(v2).view(np.int64)
                elif f2 in _DENSE_INFO:
                    cols[_DENSE_INFO[f2]] = _sint_deltas(v2)
        elif fno == 8:
            cols["lat"] = _sint_deltas(v)
        elif fno == 9:
            cols["lon"] = _sint_deltas(v)
        elif fno == 10:
            kv = _varints(v)
    n = cols.get("id", _NO_VARINTS).size
    for name in ("lat", "lon", *cols):
        got = cols.get(name, _NO_VARINTS).size
        if got != n:
            raise ValueError(f"DenseNodes {name} column has {got} values for {n} ids")
    cols["lat"] = block.degrees(cols.get("lat", _NO_VARINTS), block.lat_offset)
    cols["lon"] = block.degrees(cols.get("lon", _NO_VARINTS), block.lon_offset)
    if "tstamp" in cols:
        cols["tstamp"] = block.tstamp(cols["tstamp"])
    # an absent keys_vals means no node in the block has tags
    cols["tags"] = _tag_map(block, *_dense_tags(kv, n))
    return _batch("node", n, **cols)


def _required(fields: dict, fno: int, what: str) -> int:
    if fno not in fields:
        raise ValueError(f"{what} lacks required field {fno}")
    return fields[fno]


def _info(buf) -> list:
    """Info message → [version, timestamp, changeset_id, user_id]; an
    absent field is None."""
    out: list = [None, None, None, None]
    for fno, _wt, v in _iter_fields(buf):
        if 1 <= fno <= 4:
            out[fno - 1] = _int64(v)
    return out


# packed fields per message kind (PrimitiveGroup field number): keys and
# vals, then Way refs or Relation roles_sid/memids/types
_PACKED = {1: (2, 3), 3: (2, 3, 8), 4: (2, 3, 8, 9, 10)}
_KIND = {1: "node", 3: "way", 4: "relation"}


def _sparse_batch(kind: int, msgs: list, block: _Block) -> pa.RecordBatch:
    """A block's plain nodes, ways or relations → one batch. Per entity
    only the message's fields are scanned; each packed field of all
    entities is decoded as one buffer."""
    what = _KIND[kind]
    n = len(msgs)
    ids, info, raw_lat, raw_lon = [], [], [], []
    packed: dict[int, list] = {f: [] for f in _PACKED[kind]}
    for m in msgs:
        fields = {fno: v for fno, _wt, v in _iter_fields(m)}
        i = _required(fields, 1, what)
        ids.append(_zigzag(i) if kind == 1 else _int64(i))
        info.append(_info(fields[4]) if 4 in fields else [None] * 4)
        for f, bufs in packed.items():
            bufs.append(fields.get(f, b""))
        if kind == 1:  # plain Node: sint64 lat/lon
            raw_lat.append(_zigzag(_required(fields, 8, what)))
            raw_lon.append(_zigzag(_required(fields, 9, what)))

    dec = {f: _packed_many(bufs) for f, bufs in packed.items()}
    (keys, k_counts), (vals, v_counts) = dec[2], dec[3]
    if not np.array_equal(k_counts, v_counts):
        raise ValueError(f"{what} keys and vals differ in length")
    version, tstamp, changeset, user = zip(*info)
    cols: dict[str, Any] = {
        "id": ids,
        "version": version,
        "tstamp": block.tstamp(tstamp),
        "changeset_id": changeset,
        "user_id": user,
        "tags": _tag_map(block, keys, vals, k_counts),
    }
    if kind == 1:
        cols["lat"] = block.degrees(np.array(raw_lat, np.int64), block.lat_offset)
        cols["lon"] = block.degrees(np.array(raw_lon, np.int64), block.lon_offset)
    elif kind == 3:
        refs, counts = dec[8]
        cols["refs"] = pa.ListArray.from_arrays(
            _offsets(counts), pa.array(_restart_deltas(refs, counts))
        )
    else:
        (roles, counts), (mids, m_counts), (types, t_counts) = dec[8], dec[9], dec[10]
        if not (np.array_equal(counts, m_counts) and np.array_equal(counts, t_counts)):
            raise ValueError("relation roles, member ids and types differ in length")
        offsets = _offsets(counts)
        cols["member_ids"] = pa.ListArray.from_arrays(
            offsets, pa.array(_restart_deltas(mids, counts))
        )
        cols["member_types"] = pa.ListArray.from_arrays(
            offsets, _take(_MEMBER_TYPE_NAMES, types, "member type")
        )
        cols["member_roles"] = pa.ListArray.from_arrays(
            offsets, _take(block.strings, roles, "string table")
        )
    return _batch(what, n, **cols)


def decode_block(raw) -> list[pa.RecordBatch]:
    """One PrimitiveBlock → entity batches in :data:`ENTITY_SCHEMA`: one
    per DenseNodes group, then one each for the block's plain nodes, ways
    and relations. Malformed data raises ``ValueError``."""
    strings: list[bytes] = []
    groups = []
    params = {17: GRANULARITY, 18: DATE_GRANULARITY, 19: 0, 20: 0}
    for fno, _wt, v in _iter_fields(memoryview(raw)):
        if fno == 1:
            strings = [bytes(s) for f2, _w, s in _iter_fields(v) if f2 == 1]
        elif fno == 2:
            groups.append(v)
        elif fno in params:
            params[fno] = _int64(v)
    block = _Block(
        # the binary → string cast rejects invalid UTF-8
        pa.array(strings, pa.binary()).cast(pa.string()),
        granularity=params[17],
        lat_offset=params[19],
        lon_offset=params[20],
        date_granularity=params[18],
    )
    dense, sparse = [], {1: [], 3: [], 4: []}
    for g in groups:
        for fno, _wt, v in _iter_fields(g):
            if fno == 2:
                dense.append(v)
            elif fno in sparse:
                sparse[fno].append(v)
    out = [_dense_batch(d, block) for d in dense]
    out += [_sparse_batch(k, msgs, block) for k, msgs in sparse.items() if msgs]
    return [b for b in out if b.num_rows]


def decode_primitive_block(raw: bytes) -> list[dict[str, Any]]:
    """Row view of :func:`decode_block`: one dict per entity, with
    ``tags`` a dict and ``tstamp_ms`` (epoch ms) in place of ``tstamp``.

    Keys: osm_type, id, version, user_id, tstamp_ms, changeset_id, tags,
    lon, lat, refs, member_ids, member_types, member_roles.
    """
    rows: list[dict[str, Any]] = []
    for b in decode_block(raw):
        ms = pc.divide(b["tstamp"].cast(pa.int64()), 1000)
        rows += [
            {
                "osm_type": t, "id": i, "version": v, "user_id": u,
                "tstamp_ms": ts, "changeset_id": c, "tags": g, "lon": lo,
                "lat": la, "refs": rf, "member_ids": mi, "member_types": mt,
                "member_roles": mr,
            }
            for t, i, v, u, c, g, lo, la, rf, mi, mt, mr, ts in zip(
                *(_pylist(b[n]) for n in _COLS if n != "tstamp"), _pylist(ms)
            )
        ]
    return rows


def _pylist(col: pa.Array) -> list:
    """An unsliced column → Python values (maps as dicts). Nested columns
    are converted flat and sliced by their offsets, several times faster
    than Arrow's per-row conversion."""
    if col.null_count == len(col):
        return [None] * len(col)
    if col.null_count:
        return col.to_pylist()
    if not pa.types.is_nested(col.type):
        return col.to_numpy(zero_copy_only=False).tolist()
    off = col.offsets.to_numpy().tolist()
    if isinstance(col, pa.MapArray):
        keys, items = _pylist(col.keys), _pylist(col.items)
        return [dict(zip(keys[a:b], items[a:b])) for a, b in zip(off, off[1:])]
    vals = _pylist(col.values)
    return [vals[a:b] for a, b in zip(off, off[1:])]


# ---------------------------------------------------------------------------
# encoder (fixtures + PBF sink)
# ---------------------------------------------------------------------------


def _enc_uvarint(n: int) -> bytes:
    n &= _MASK64  # a negative int64/int32 travels as two's complement
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _enc_zigzag(n: int) -> bytes:
    n = ((n + (1 << 63)) & _MASK64) - (1 << 63)  # a delta wraps at 64 bits
    return _enc_uvarint(((n << 1) ^ (n >> 63)) & _MASK64)


def _enc_field_varint(fno: int, v: int) -> bytes:
    return _enc_uvarint(fno << 3) + _enc_uvarint(v)


def _enc_field_bytes(fno: int, b: bytes) -> bytes:
    return _enc_uvarint((fno << 3) | 2) + _enc_uvarint(len(b)) + b


def _enc_packed(fno: int, encoded: Iterable[bytes]) -> bytes:
    payload = b"".join(encoded)
    return _enc_field_bytes(fno, payload) if payload else b""


def _delta_zigzag(vals: Iterable[int]) -> list[bytes]:
    out, prev = [], 0
    for v in vals:
        out.append(_enc_zigzag(v - prev))
        prev = v
    return out


class _StringTable:
    """PBF string table builder — index 0 is reserved (the DenseNodes
    keys_vals delimiter), so real strings start at 1."""

    def __init__(self) -> None:
        self._idx: dict[str, int] = {"": 0}
        self._items: list[str] = [""]

    def add(self, s: str) -> int:
        i = self._idx.get(s)
        if i is None:
            i = len(self._items)
            self._idx[s] = i
            self._items.append(s)
        return i

    def encode(self) -> bytes:
        return b"".join(_enc_field_bytes(1, s.encode("utf-8")) for s in self._items)


def _enc_info(e: dict[str, Any], date_granularity: int) -> bytes:
    out = b""
    if e.get("version") is not None:
        out += _enc_field_varint(1, e["version"])
    if e.get("tstamp_ms") is not None:
        out += _enc_field_varint(2, e["tstamp_ms"] // date_granularity)
    if e.get("changeset_id") is not None:
        out += _enc_field_varint(3, e["changeset_id"])
    if e.get("user_id") is not None:
        out += _enc_field_varint(4, e["user_id"])
    return out


def _enc_kv(tags: dict[str, str], st: _StringTable) -> bytes:
    keys = [_enc_uvarint(st.add(k)) for k in tags]
    vals = [_enc_uvarint(st.add(v)) for v in tags.values()]
    return _enc_packed(2, keys) + _enc_packed(3, vals)


def _encode_block(
    nodes: list[dict[str, Any]],
    ways: list[dict[str, Any]],
    relations: list[dict[str, Any]],
) -> bytes:
    st = _StringTable()
    groups = []

    if nodes:
        ids = _delta_zigzag(n["id"] for n in nodes)
        lats = _delta_zigzag(round(n["lat"] * 1e9) // GRANULARITY for n in nodes)
        lons = _delta_zigzag(round(n["lon"] * 1e9) // GRANULARITY for n in nodes)
        kv: list[bytes] = []
        for n in nodes:
            for k, v in n.get("tags", {}).items():
                kv.append(_enc_uvarint(st.add(k)))
                kv.append(_enc_uvarint(st.add(v)))
            kv.append(_enc_uvarint(0))
        dense = _enc_packed(1, ids)
        info = (
            _enc_packed(1, (_enc_uvarint(n.get("version") or 0) for n in nodes))
            + _enc_packed(
                2,
                _delta_zigzag(
                    (n.get("tstamp_ms") or 0) // DATE_GRANULARITY for n in nodes
                ),
            )
            + _enc_packed(3, _delta_zigzag(n.get("changeset_id") or 0 for n in nodes))
            + _enc_packed(4, _delta_zigzag(n.get("user_id") or 0 for n in nodes))
        )
        dense += _enc_field_bytes(5, info)
        dense += _enc_packed(8, lats) + _enc_packed(9, lons) + _enc_packed(10, kv)
        groups.append(_enc_field_bytes(2, dense))

    for w in ways:
        body = _enc_field_varint(1, w["id"])
        body += _enc_kv(w.get("tags", {}), st)
        body += _enc_field_bytes(4, _enc_info(w, DATE_GRANULARITY))
        body += _enc_packed(8, _delta_zigzag(w.get("refs", [])))
        groups.append(_enc_field_bytes(3, body))

    for r in relations:
        body = _enc_field_varint(1, r["id"])
        body += _enc_kv(r.get("tags", {}), st)
        body += _enc_field_bytes(4, _enc_info(r, DATE_GRANULARITY))
        members = r.get("members", [])
        body += _enc_packed(8, (_enc_uvarint(st.add(role)) for _t, _i, role in members))
        body += _enc_packed(9, _delta_zigzag(i for _t, i, _r in members))
        body += _enc_packed(
            10, (_enc_uvarint(MEMBER_TYPES.index(t)) for t, _i, _r in members)
        )
        groups.append(_enc_field_bytes(4, body))

    block = _enc_field_bytes(1, st.encode())
    for g in groups:
        block += _enc_field_bytes(2, g)
    block += _enc_field_varint(17, GRANULARITY)
    block += _enc_field_varint(18, DATE_GRANULARITY)
    return block


def _enc_blob(btype: str, payload: bytes, compress: bool) -> bytes:
    if compress:
        blob = _enc_field_varint(2, len(payload)) + _enc_field_bytes(
            3, zlib.compress(payload, 6)
        )
    else:
        blob = _enc_field_bytes(1, payload)
    header = _enc_field_bytes(1, btype.encode("utf-8")) + _enc_field_varint(
        3, len(blob)
    )
    return len(header).to_bytes(4, "big") + header + blob


def encode_pbf(
    path: str,
    nodes: Iterable[dict[str, Any]] = (),
    ways: Iterable[dict[str, Any]] = (),
    relations: Iterable[dict[str, Any]] = (),
    compress: bool = True,
    block_size: int = 8000,
) -> int:
    """Write a well-formed .osm.pbf; returns the number of blobs written.

    Entities are dicts using the same keys the decoder emits (``tags`` a
    dict, relation ``members`` a list of (type, id, role)). Splitting
    into ``block_size``-entity PrimitiveBlocks mirrors the ~8k-entity
    blocks real planet files use and is what makes the reader's
    per-blob parallelism meaningful.
    """
    nodes, ways, relations = list(nodes), list(ways), list(relations)
    header = _enc_field_bytes(4, b"OsmSchema-V0.6") + _enc_field_bytes(
        4, b"DenseNodes"
    ) + _enc_field_bytes(16, b"osm-poi-database-maker-spark")
    blobs = [_enc_blob("OSMHeader", header, compress)]

    def chunks(xs: list) -> Iterator[list]:
        for i in range(0, len(xs), block_size):
            yield xs[i : i + block_size]

    for chunk in chunks(nodes):
        blobs.append(
            _enc_blob(
                "OSMData",
                _encode_block(chunk, [], []),
                compress,
            )
        )
    for chunk in chunks(ways):
        blobs.append(
            _enc_blob(
                "OSMData",
                _encode_block([], chunk, []),
                compress,
            )
        )
    for chunk in chunks(relations):
        blobs.append(
            _enc_blob(
                "OSMData",
                _encode_block([], [], chunk),
                compress,
            )
        )
    with open(path, "wb") as f:
        for b in blobs:
            f.write(b)
    return len(blobs)


# ---------------------------------------------------------------------------
# distributed Spark reader
# ---------------------------------------------------------------------------


def resolve_osm_paths(path, suffixes=(".pbf",)) -> list[str]:
    """Expand a path spec — single file, directory, glob, or explicit
    list — into a sorted file list (extract sets ship as many files)."""
    import glob as _glob

    if isinstance(path, (list, tuple)):
        out: list[str] = []
        for p in path:
            out.extend(resolve_osm_paths(p, suffixes))
        return sorted(dict.fromkeys(out))
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(tuple(suffixes))
        )
    if any(ch in path for ch in "*?["):
        return sorted(_glob.glob(path))
    return [path]


def read_pbf(spark, path):
    """Distributed PBF scan: blob index on the driver, blob decode on
    executors. Returns the unified entity DataFrame (PBF_ENTITY_DDL).
    ``path`` may be one file, a directory, a glob, or a list (extract
    sets ship as many .pbf files; the index concatenates them).

    Each task hands :func:`decode_block`'s Arrow batches to Spark through
    ``mapInArrow`` as they are: no pandas round-trip, and ``tstamp``
    arrives as a UTC instant whatever ``spark.sql.session.timeZone`` is.

    Scale shape: the index is O(#blobs) driver work — header seeks only,
    no payload reads (for 10⁵+-file layouts, lift the same per-file
    indexing into a first mapInArrow pass over the path list) — and the
    shuffle-free decode is embarrassingly parallel — `repartition` only
    redistributes the tiny (path, offset, size) triples, never blob
    bytes. Filters on osm_type/tags applied by the caller run Spark-side
    after Arrow conversion; at 100 TB you'd persist this scan once as
    partitioned parquet (exactly the reference's
    load-once-into-Postgres shape, filter.py:260) rather than
    re-decoding per query.
    """
    index = [
        (p, off, size)
        for p in resolve_osm_paths(path)
        for (btype, off, size) in scan_blob_index(p)
        if btype == "OSMData"
    ]
    n_tasks = max(1, min(len(index), spark.sparkContext.defaultParallelism))
    idx = spark.createDataFrame(index, "path string, offset long, datasize long")
    idx = idx.repartition(n_tasks)

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            yield from decode_blobs(zip(*b.to_pydict().values()))

    return idx.mapInArrow(decode, schema=PBF_ENTITY_DDL)


def decode_blobs(blobs: Iterable[tuple[str, int, int]]) -> Iterator[pa.RecordBatch]:
    """Decode (path, offset, datasize) OSMData blobs → entity batches,
    opening each file once. The executor side of :func:`read_pbf` and of
    the ``osmpbf`` DataSource."""
    by_path: dict[str, list[tuple[int, int]]] = {}
    for pth, off, size in blobs:
        by_path.setdefault(pth, []).append((off, size))
    for pth, spans in by_path.items():
        with open(pth, "rb") as f:
            for off, size in spans:
                f.seek(off)
                yield from decode_block(decompress_blob(f.read(size)))


def pbf_nodes(spark, path: str):
    """Node projection of :func:`read_pbf` in the :mod:`.osm_source`
    NODE_SCHEMA_DDL shape (geom_valid mirrors osmium's location check:
    lon within ±180 and lat within ±90)."""
    from pyspark.sql import functions as F

    df = read_pbf(spark, path)
    return df.filter(F.col("osm_type") == "node").select(
        "id",
        "version",
        "user_id",
        "tstamp",
        "changeset_id",
        "tags",
        "lon",
        "lat",
        (
            F.col("lon").between(-180.0, 180.0) & F.col("lat").between(-90.0, 90.0)
        ).alias("geom_valid"),
    )


def pbf_ways(spark, path: str):
    from pyspark.sql import functions as F

    df = read_pbf(spark, path)
    return df.filter(F.col("osm_type") == "way").select(
        "id", "version", "user_id", "tstamp", "changeset_id", "tags", "refs"
    )


def pbf_relations(spark, path: str):
    from pyspark.sql import functions as F

    df = read_pbf(spark, path)
    return df.filter(F.col("osm_type") == "relation").select(
        "id",
        "version",
        "user_id",
        "tstamp",
        "changeset_id",
        "tags",
        "member_ids",
        "member_types",
        "member_roles",
    )
