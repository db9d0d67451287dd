"""Distributed OSM XML (``.osm``) source — the second wire format osmium
feeds the reference (filter.py:260 `osmium.apply` accepts .osm XML as well
as .osm.pbf); same unified entity schema as :mod:`.pbf`.

Scale design — splittable XML without a driver-side parse:
the driver only computes byte-range chunks (O(1) — file size / chunk
size); each executor task seeks into its range and applies the classic
splittable-text-input boundary rule: parse exactly the top-level elements
that *start* inside your range, scanning past the range end to finish the
last one. OSM XML makes this sound because top-level element names
(``node``/``way``/``relation``) never nest inside each other — a child is
always ``tag``/``nd``/``member`` — so an opening ``<node`` match is
unambiguous and the element ends at the head's ``/>`` or at the first
``</node>``. No shuffle anywhere; the scan is embarrassingly parallel
like the PBF blob reader. (PBF remains the preferred planet format — XML
is ~8× the bytes — but history dumps and extracts still ship as .osm.)
"""

from __future__ import annotations

import os
import re
from datetime import datetime, timezone
from typing import Any, Iterator
from xml.etree import ElementTree

from .pbf import PBF_ENTITY_DDL, _COLS, resolve_osm_paths

_TOP_RE = re.compile(rb"<(node|way|relation)[\s/>]|<!--")
_COMMENT_END = b"-->"
_READ_STEP = 1 << 16  # grow window in 64 KiB steps past the range end


def _parse_ts_ms(ts: str | None) -> int | None:
    if not ts:
        return None
    return int(
        datetime.fromisoformat(ts.replace("Z", "+00:00"))
        .astimezone(timezone.utc)
        .timestamp()
        * 1000
    )


def _element_to_row(name: str, elem: ElementTree.Element) -> dict[str, Any]:
    a = elem.attrib
    row: dict[str, Any] = dict.fromkeys(
        ("lon", "lat", "refs", "member_ids", "member_types", "member_roles")
    )
    row["osm_type"] = name
    row["id"] = int(a["id"])
    row["version"] = int(a["version"]) if "version" in a else None
    row["user_id"] = int(a["uid"]) if "uid" in a else None
    row["tstamp_ms"] = _parse_ts_ms(a.get("timestamp"))
    row["changeset_id"] = int(a["changeset"]) if "changeset" in a else None
    row["tags"] = {t.attrib["k"]: t.attrib["v"] for t in elem.iter("tag")}
    if name == "node":
        row["lon"] = float(a["lon"]) if "lon" in a else None
        row["lat"] = float(a["lat"]) if "lat" in a else None
    elif name == "way":
        row["refs"] = [int(nd.attrib["ref"]) for nd in elem.iter("nd")]
    else:
        members = [
            (m.attrib["type"], int(m.attrib["ref"]), m.attrib.get("role", ""))
            for m in elem.iter("member")
        ]
        row["member_types"] = [m[0] for m in members]
        row["member_ids"] = [m[1] for m in members]
        row["member_roles"] = [m[2] for m in members]
    return row


def _tag_head_end(buf: bytes, tag_start: int) -> int:
    """Offset just past the '>' closing an opening tag's head, honoring
    quoted attribute values (a raw '>' inside quotes is legal XML and
    must not terminate the head). Returns -1 if the head is incomplete
    in ``buf``."""
    i = tag_start
    n = len(buf)
    while i < n:
        c = buf[i]
        if c in (0x22, 0x27):  # " or '
            j = buf.find(bytes((c,)), i + 1)
            if j < 0:
                return -1
            i = j + 1
            continue
        if c == 0x3E:  # >
            return i + 1
        i += 1
    return -1


_COMMENT_START = b"<!--"
_MAX_COMMENT_LOOKBACK = 1 << 20  # sound for comments up to 1 MiB


def _starts_inside_comment(f, start: int) -> bool:
    """Was byte ``start`` inside a comment? Decidable by a bounded
    BACKWARD scan because well-formed XML guarantees (a) a literal
    ``<!--`` can only be a comment start — ``<`` must be escaped in
    attribute values and text — and (b) ``--`` is forbidden inside
    comments, so ``-->`` always terminates one. The last marker before
    ``start`` therefore decides: ``<!--`` ⇒ inside, ``-->``/none ⇒
    outside."""
    lo = max(0, start - _MAX_COMMENT_LOOKBACK)
    pos = start
    # seed with the 3 bytes at/after start: a marker STRADDLING the
    # boundary (e.g. "<!--" at start-2) must still be found, and a byte
    # inside the marker itself counts as inside/outside accordingly
    f.seek(start)
    tail = f.read(3)
    while pos > lo:
        step = min(_READ_STEP, pos - lo)
        f.seek(pos - step)
        block = f.read(step) + tail
        i_open = block.rfind(_COMMENT_START)
        i_close = block.rfind(_COMMENT_END)
        if i_open >= 0 or i_close >= 0:
            return i_open > i_close
        pos -= step
        tail = block[:3]  # marker may straddle the block boundary
    return False


def parse_xml_range(path: str, start: int, end: int) -> Iterator[dict[str, Any]]:
    """Yield entity rows for every top-level element that STARTS in
    [start, end); the last one may be completed by reading past ``end``.

    Comments never yield phantom entities (an editor's
    ``<!-- <node .../> -->`` is skipped): comments starting in-range are
    consumed inline, and a range that OPENS inside a comment first skips
    to the comment's close — sound per :func:`_starts_inside_comment`
    for comments up to ``_MAX_COMMENT_LOOKBACK``.
    """
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        in_comment = start > 0 and _starts_inside_comment(f, start)
        f.seek(start)
        buf = f.read(min(end - start + _READ_STEP, size - start))

        def extend() -> bool:
            nonlocal buf
            more = f.read(_READ_STEP)
            if not more:
                return False
            buf += more
            return True

        pos = 0  # offset within buf; absolute = start + pos
        if in_comment:  # skip to the enclosing comment's close
            c_end = buf.find(_COMMENT_END)
            while c_end < 0:
                if not extend():
                    return  # comment runs to EOF — nothing in range
                c_end = buf.find(_COMMENT_END)
            pos = c_end + len(_COMMENT_END)
        while True:
            m = _TOP_RE.search(buf, pos)
            while m is None and start + len(buf) < min(end + 1, size):
                if not extend():
                    break
                m = _TOP_RE.search(buf, pos)
            if m is None or start + m.start() >= end:
                return
            if m.group(1) is None:  # a comment start — skip to its close
                c_end = buf.find(_COMMENT_END, m.end())
                while c_end < 0:
                    if not extend():
                        raise ValueError(
                            f"unterminated comment at byte {start + m.start()}"
                        )
                    c_end = buf.find(_COMMENT_END, m.end())
                pos = c_end + len(_COMMENT_END)
                continue
            name = m.group(1).decode()
            # end of the opening tag's head (quote-aware: '>' inside an
            # attribute value does not close the head)
            head_end = _tag_head_end(buf, m.start())
            while head_end < 0:
                if not extend():
                    raise ValueError(f"unterminated <{name}> at byte {start + m.start()}")
                head_end = _tag_head_end(buf, m.start())
            if buf[head_end - 2 : head_end - 1] == b"/":
                elem_end = head_end
            else:
                close = b"</" + m.group(1) + b">"
                elem_end = buf.find(close, head_end)
                while elem_end < 0:
                    if not extend():
                        raise ValueError(
                            f"missing {close.decode()} for element at byte "
                            f"{start + m.start()}"
                        )
                    elem_end = buf.find(close, head_end)
                elem_end += len(close)
            snippet = buf[m.start() : elem_end]
            yield _element_to_row(name, ElementTree.fromstring(snippet))
            pos = elem_end


def read_osm_xml(spark, path, chunk_bytes: int | None = None):
    """Distributed OSM XML scan → the unified entity DataFrame
    (:data:`~.pbf.PBF_ENTITY_DDL`, identical to :func:`~.pbf.read_pbf`).
    ``path`` may be one file, a directory, a glob, or a list.

    The driver ships only (path, start, end) byte ranges; element
    parsing happens on executors via mapInPandas. ``chunk_bytes``
    defaults to an even split across the session's parallelism (floor
    64 KiB) — pass a small value in tests to force elements across
    chunk boundaries.
    """
    import pandas as pd

    paths = resolve_osm_paths(path, suffixes=(".osm", ".xml"))
    total = sum(os.path.getsize(p) for p in paths)
    if total == 0:  # no files matched (or all empty): an empty scan
        return spark.createDataFrame([], PBF_ENTITY_DDL)
    if chunk_bytes is None:
        par = max(1, spark.sparkContext.defaultParallelism)
        chunk_bytes = max(_READ_STEP, -(-total // par))
    ranges = [
        (p, off, min(off + chunk_bytes, os.path.getsize(p)))
        for p in paths
        for off in range(0, os.path.getsize(p), chunk_bytes)
    ]
    idx = spark.createDataFrame(ranges, "path string, start long, end long")
    idx = idx.repartition(len(ranges))

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows: list[dict[str, Any]] = []
            for pth, s, e in zip(pdf["path"], pdf["start"], pdf["end"]):
                rows.extend(parse_xml_range(pth, int(s), int(e)))
            out = pd.DataFrame.from_records(rows, columns=["tstamp_ms", *_COLS])
            # UTC-aware, so Spark keeps the instant in any session zone
            out["tstamp"] = pd.to_datetime(out["tstamp_ms"], unit="ms", utc=True)
            yield out[_COLS]

    return idx.mapInPandas(decode, schema=PBF_ENTITY_DDL)


# ---------------------------------------------------------------------------
# fixture writer (driver-side; tests + differential checks vs the PBF codec)
# ---------------------------------------------------------------------------


# XML 1.0 cannot represent most C0 controls AT ALL (not even as character
# references); real OSM data never contains them (the API rejects them),
# so the writer replaces any with U+FFFD rather than emitting a file no
# parser will accept
_XML_INVALID = re.compile(
    "[\x00-\x08\x0b\x0c\x0e-\x1f\ud800-\udfff￾￿]"
)


def _esc(s: str) -> str:
    # tab/newline/CR as character references: a literal newline inside an
    # attribute is VALID XML but parsers normalize it to a space
    # (attribute-value normalization), which would silently corrupt the
    # round-trip
    return (
        _XML_INVALID.sub("�", s)
        .replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
        .replace("\t", "&#9;")
        .replace("\n", "&#10;")
        .replace("\r", "&#13;")
    )


def _fmt_ts(ms: int | None) -> str | None:
    if ms is None:
        return None
    return (
        datetime.fromtimestamp(ms / 1000, tz=timezone.utc).strftime(
            "%Y-%m-%dT%H:%M:%SZ"
        )
    )


def _common_attrs(e: dict[str, Any]) -> str:
    out = f'id="{e["id"]}"'
    if e.get("version") is not None:
        out += f' version="{e["version"]}"'
    ts = _fmt_ts(e.get("tstamp_ms"))
    if ts:
        out += f' timestamp="{ts}"'
    if e.get("changeset_id") is not None:
        out += f' changeset="{e["changeset_id"]}"'
    if e.get("user_id") is not None:
        out += f' uid="{e["user_id"]}"'
    return out


def write_osm_xml(
    path: str,
    nodes: list[dict[str, Any]] = (),
    ways: list[dict[str, Any]] = (),
    relations: list[dict[str, Any]] = (),
) -> None:
    """Write entities (the :func:`~.pbf.encode_pbf` input shape) as a
    .osm XML file — fixture generation and PBF↔XML differential tests."""

    def tag_lines(e: dict[str, Any]) -> list[str]:
        return [
            f'    <tag k="{_esc(k)}" v="{_esc(v)}"/>'
            for k, v in e.get("tags", {}).items()
        ]

    lines = ['<?xml version="1.0" encoding="UTF-8"?>', '<osm version="0.6">']
    for n in nodes:
        attrs = _common_attrs(n)
        # both or neither: a half-set coordinate pair would serialize as
        # lon="None" and crash the read-back
        if n.get("lat") is not None and n.get("lon") is not None:
            attrs += f' lat="{n["lat"]!r}" lon="{n["lon"]!r}"'
        body = tag_lines(n)
        if body:
            lines += [f"  <node {attrs}>", *body, "  </node>"]
        else:
            lines.append(f"  <node {attrs}/>")
    for w in ways:
        lines.append(f"  <way {_common_attrs(w)}>")
        lines += [f'    <nd ref="{r}"/>' for r in w.get("refs", [])]
        lines += tag_lines(w)
        lines.append("  </way>")
    for r in relations:
        lines.append(f"  <relation {_common_attrs(r)}>")
        lines += [
            f'    <member type="{t}" ref="{i}" role="{_esc(role)}"/>'
            for t, i, role in r.get("members", [])
        ]
        lines += tag_lines(r)
        lines.append("  </relation>")
    lines.append("</osm>")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
