"""Property-based tests (SURVEY §5.3): hstore escaping round-trips
through a real hstore parser; WKB codecs round-trip bit-exactly."""

from __future__ import annotations

import struct

import pandas as pd
import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from conftest import SF_SMOKE
from osm_poi_database_maker_spark.geo import wkb_point_hex, wkb_polygon_hex
from osm_poi_database_maker_spark.ops.tags import hstore_literal


def parse_hstore(s: str) -> dict[str, str]:
    """Minimal strict parser of the `"k"=>"v",...` literal grammar
    PostgreSQL accepts (backslash escapes for ``\\`` and ``"``)."""
    if s == "":
        return {}
    out: dict[str, str] = {}
    i = 0

    def read_quoted(i: int) -> tuple[str, int]:
        assert s[i] == '"', s[i:]
        i += 1
        buf: list[str] = []
        while True:
            c = s[i]
            if c == "\\":
                buf.append(s[i + 1])
                i += 2
            elif c == '"':
                return "".join(buf), i + 1
            else:
                buf.append(c)
                i += 1

    while i < len(s):
        k, i = read_quoted(i)
        assert s[i : i + 2] == "=>"
        i += 2
        v, i = read_quoted(i)
        out[k] = v
        if i < len(s):
            assert s[i] == ","
            i += 1
    return out


def _norm(s: str) -> str:
    # the reference's sanitizer maps newline/CR/tab to spaces (lossy by
    # design, filter.py:92-100); everything else must round-trip exactly
    return s.replace("\n", " ").replace("\r", " ").replace("\t", " ")


# keys exclude the normalized whitespace chars so two distinct keys can't
# collide post-normalization; values exercise the full escape surface
_KEY = st.text(
    st.characters(blacklist_characters='\n\r\t', blacklist_categories=("Cs",)),
    min_size=1,
    max_size=12,
)
_VAL = st.text(
    st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=20
)


@settings(max_examples=25, deadline=None)
@given(st.dictionaries(_KEY, _VAL, min_size=0, max_size=6))
def test_hstore_literal_roundtrips_through_parser(spark, tags):
    pairs = []
    for k, v in tags.items():
        pairs += [F.lit(k), F.lit(v)]
    m = F.create_map(*pairs) if pairs else F.create_map().cast("map<string,string>")
    lit = spark.range(1).select(hstore_literal(m).alias("h")).collect()[0].h
    assert parse_hstore(lit) == {_norm(k): _norm(v) for k, v in tags.items()}


_COORD = st.floats(
    min_value=-180.0, max_value=180.0, allow_nan=False, allow_infinity=False
)


@settings(max_examples=50, deadline=None)
@given(st.lists(st.tuples(_COORD, _COORD), min_size=1, max_size=16))
def test_wkb_point_roundtrip_bit_exact(coords):
    lon = pd.Series([c[0] for c in coords])
    lat = pd.Series([c[1] for c in coords])
    hexes = wkb_point_hex.func(lon, lat)
    for (x, y), h in zip(coords, hexes):
        raw = bytes.fromhex(h)
        assert raw[0] == 1 and raw[1:5] == b"\x01\x00\x00\x00"
        dx, dy = struct.unpack("<dd", raw[5:21])
        # bit-exact (covers -0.0, subnormals, ties)
        assert struct.pack("<d", dx) == struct.pack("<d", x)
        assert struct.pack("<d", dy) == struct.pack("<d", y)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.tuples(_COORD, _COORD), min_size=3, max_size=8))
def test_wkb_polygon_roundtrip(pts):
    ring = [{"lon": x, "lat": y} for x, y in pts] + [{"lon": pts[0][0], "lat": pts[0][1]}]
    h = wkb_polygon_hex.func(pd.Series([ring]))[0]
    raw = bytes.fromhex(h)
    order, gtype, nrings, npts = struct.unpack("<BIII", raw[:13])
    assert (order, gtype, nrings, npts) == (1, 3, 1, len(ring))
    decoded = [
        struct.unpack("<dd", raw[13 + 16 * i : 29 + 16 * i]) for i in range(npts)
    ]
    assert decoded[0] == decoded[-1]
    for (x, y), (dx, dy) in zip([(p["lon"], p["lat"]) for p in ring], decoded):
        assert struct.pack("<d", dx) == struct.pack("<d", x)
        assert struct.pack("<d", dy) == struct.pack("<d", y)


def test_pack_sequences_invariants(spark):
    """Packing invariants: offsets stay inside the context window, packs
    are monotone within a shard, and cum_before is consistent with the
    running sum of earlier docs in the shard."""
    from osm_poi_database_maker_spark.queries.text import PACK_CTX, q_doc_pack_sequences

    rows = q_doc_pack_sequences(spark, SF_SMOKE).collect()
    assert rows
    by_shard = {}
    for r in rows:
        assert 0 <= r.pack_offset < PACK_CTX
        by_shard.setdefault(r.shard, []).append(r)
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r.doc_id)
        cum = 0
        last_pack = 0
        for r in shard_rows:
            assert r.cum_before == cum
            assert r.pack_id >= last_pack
            cum += r.n_tokens
            last_pack = r.pack_id


def test_pii_scrub_plants_and_counts(spark):
    from osm_poi_database_maker_spark.queries.text import q_doc_pii_scrub

    rows = q_doc_pii_scrub(spark, SF_SMOKE).collect()
    assert rows
    # every planted doc carries exactly one email, one ip, one id run
    assert all(r.n_emails == 1 and r.n_ips == 1 and r.n_idnums == 1 for r in rows)
    assert all(len(r.scrubbed_sha) == 64 for r in rows)


@settings(max_examples=20, deadline=None)
@given(
    st.binary(min_size=0, max_size=200),
    st.integers(min_value=1, max_value=8),
)
def test_pcm_energy_matches_pure_python(spark, payload, frame_samples):
    """pcm_frame_energy == a struct-module reference for arbitrary bytes
    (sign handling, odd tails, incomplete frames)."""
    from osm_poi_database_maker_spark.multimodal import pcm_frame_energy

    df = spark.createDataFrame([(1, bytearray(payload))], "doc_id long, payload binary")
    got = {
        (r.doc_id, r.frame_idx): r.sum_sq
        for r in pcm_frame_energy(df, frame_samples).collect()
    }
    n_samples = len(payload) // 2
    vals = [
        struct.unpack_from("<h", payload, 2 * i)[0] for i in range(n_samples)
    ]
    want = {}
    for f in range(n_samples // frame_samples):
        chunk = vals[f * frame_samples:(f + 1) * frame_samples]
        want[(1, f)] = sum(v * v for v in chunk)
    assert got == want


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.binary(min_size=0, max_size=400), min_size=1, max_size=8
    )
)
def test_ahash_matches_pure_python(spark, payloads):
    """image_ahash's vectorized reduceat path must equal an independent
    pure-Python re-derivation (np.array_split boundaries, exact
    cross-multiplied mean threshold for ≥64-byte payloads / float
    threshold below, MSB-first packing) for arbitrary byte payloads."""
    from osm_poi_database_maker_spark.multimodal import image_ahash

    def expected(b: bytes) -> int | None:
        if not b:
            return None
        import numpy as np

        arr = np.frombuffer(b, dtype=np.uint8)
        cells = np.array_split(arr, 64)
        if len(arr) >= 64:
            # exact rational comparison sᵢ/cᵢ > (1/64)·Σⱼ sⱼ/cⱼ with
            # Fraction — fully independent of production's int64
            # cross-multiplication
            from fractions import Fraction

            means = [Fraction(int(c.sum()), len(c)) for c in cells]
            thresh = Fraction(sum(means), 64)
            bits = [m > thresh for m in means]
        else:
            # np.mean over the means, mirroring production's pairwise
            # reduction — a sequential Python sum can differ in the
            # last ulp and flip a threshold-straddling bit
            fmeans = np.array(
                [c.astype(np.float64).mean() if len(c) else 0.0 for c in cells]
            )
            bits = list(fmeans > fmeans.mean())
        h = 0
        for bit in bits:
            h = (h << 1) | int(bit)
        return h - (1 << 64) if h >= 1 << 63 else h

    rows = [(i, p) for i, p in enumerate(payloads)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r.ahash for r in image_ahash(df).collect()}
    want = {i: expected(p) for i, p in rows if p}
    assert got == want


@settings(max_examples=10, deadline=None)
@given(st.data())
def test_incremental_dedup_containment_bounds(spark, data):
    """hist_overlap is always in [0,1]; an incoming doc whose text IS a
    history doc has exact_dup=1; admit is exactly the documented
    predicate over the emitted columns."""
    from osm_poi_database_maker_spark.queries import dedup as D

    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
    texts = data.draw(
        st.lists(
            st.lists(st.sampled_from(vocab), min_size=3, max_size=12).map(
                " ".join
            ),
            min_size=4,
            max_size=10,
        )
    )
    rows = [(i if i % 2 == 0 else i * 10 + 8, t, "en", "s", 1)
            for i, t in enumerate(texts)]
    # ensure at least one exact cross-split duplicate
    rows.append((9998, rows[0][1], "en", "s", 1))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    import unittest.mock as mock

    with mock.patch.object(D, "load_table", lambda s, sf, n: docs):
        out = D.q_doc_incremental_dedup(spark, "x").collect()
    assert out
    for r in out:
        assert 0.0 <= r.hist_overlap <= 1.0
        assert r.admit == int(r.exact_dup == 0 and r.hist_overlap < 0.8)
    by_id = {r.doc_id: r for r in out}
    assert by_id[9998].exact_dup == 1 and by_id[9998].admit == 0


def test_round5_plan_shapes(spark):
    """Physical-plan contracts of the round-5 operators: decorrelation
    becomes semi+anti hash joins (no CartesianProduct, no per-row
    Python); RRF pools come from TakeOrderedAndProject (no global sort);
    the Q8 snowflake keeps its semi-join region prune; substring dedup
    joins on the 8-byte gram hash (SortMergeJoin/ShuffledHashJoin or
    broadcast — never a nested-loop)."""
    from tests.conftest import SF_SMOKE

    from osm_poi_database_maker_spark.queries.core import q_nation_market_share
    from osm_poi_database_maker_spark.queries.dedup import q_doc_substring_dedup
    from osm_poi_database_maker_spark.queries.events import (
        q_events_multi_exists,
        q_events_ohlc_bars,
    )
    from osm_poi_database_maker_spark.queries.text import q_doc_hybrid_rrf

    def plan_of(q):
        return q(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()

    p = plan_of(q_events_multi_exists)
    assert "LeftSemi" in p and "LeftAnti" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p

    p = plan_of(q_doc_hybrid_rrf)
    assert "TakeOrderedAndProject" in p  # pools AND final top-k
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p

    p = plan_of(q_nation_market_share)
    assert "LeftSemi" in p  # region prune is a semi-join key set
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p

    p = plan_of(q_doc_substring_dedup)
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p

    p = plan_of(q_events_ohlc_bars)
    assert "Window" not in p  # one combining aggregate, no per-bar window
    assert "min_by" in p and "max_by" in p


def test_round6_plan_shapes(spark):
    """Physical-plan contracts of the round-6 operators: the Q-shape
    decorrelations run as hash joins with broadcast dims and window-free
    top-k; the scalar-total queries use the whitelisted 1-row broadcast
    nested-loop, never a CartesianProduct; and every new operator stays
    JVM-side (no BatchEvalPython anywhere — SRP-LSH, CMS, and the Bloom
    membership test are pure expressions)."""
    from tests.conftest import SF_SMOKE

    from osm_poi_database_maker_spark.queries.core import (
        q_brand_supplier_counts,
        q_excess_shipped_suppliers,
        q_important_part_stock,
        q_min_cost_supplier,
        q_shipping_lag_buckets,
    )
    from osm_poi_database_maker_spark.queries.curation import (
        q_doc_bloom_decontaminate,
    )
    from osm_poi_database_maker_spark.queries.events import q_events_cms_counts
    from osm_poi_database_maker_spark.queries.similarity import q_emb_srp_lsh_pairs

    def plan_of(q):
        return q(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()

    for q in (
        q_min_cost_supplier,
        q_important_part_stock,
        q_shipping_lag_buckets,
        q_brand_supplier_counts,
        q_excess_shipped_suppliers,
        q_events_cms_counts,
        q_emb_srp_lsh_pairs,
        q_doc_bloom_decontaminate,
    ):
        p = plan_of(q)
        assert "CartesianProduct" not in p, q.__name__
        assert "BatchEvalPython" not in p, q.__name__

    p = plan_of(q_min_cost_supplier)
    assert "TakeOrderedAndProject" in p  # top-100, never a global sort
    assert "BroadcastHashJoin" in p  # region/nation dims broadcast

    p = plan_of(q_brand_supplier_counts)
    assert "LeftAnti" in p  # NOT IN decorrelated, not re-scanned

    p = plan_of(q_excess_shipped_suppliers)
    # the part-prefix semi-join lives inside the localCheckpointed
    # (supplier, part) frame's RDD lineage (invisible to this plan);
    # what must be visible: the dominance threshold runs as a HASH join
    # with the residual qty*2 > total condition, never a nested loop
    assert "BroadcastHashJoin" in p or "ShuffledHashJoin" in p or "SortMergeJoin" in p

    p = plan_of(q_events_cms_counts)
    assert "BroadcastHashJoin" in p  # the sketch broadcasts to probes


def test_round6b_plan_shapes(spark):
    """Physical-plan contracts of the round-6 continuation operators.

    winnow: the codepoint array must stay materialized behind its
    round-robin exchange (the CollapseProject re-split trap) and the
    window mins must flow through ONE Generate + one doc_id window —
    no Python, no cartesian. custdist: the orders side pre-aggregates
    BEFORE the outer join. gapfill: exactly one Window (the LOCF
    carry) and no cartesian spine blow-up. zoo: the four ranked
    functions share ONE Window node. containment: directions expand
    via Generate, not a self-union re-join."""
    from tests.conftest import SF_SMOKE

    from osm_poi_database_maker_spark.queries.core import (
        q_customer_order_distribution,
        q_order_window_zoo,
    )
    from osm_poi_database_maker_spark.queries.dedup import (
        q_doc_containment_pairs,
        q_doc_winnow_fingerprints,
    )
    from osm_poi_database_maker_spark.queries.events import q_events_gapfill_locf

    def plan_of(q):
        return q(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()

    for q in (
        q_doc_winnow_fingerprints,
        q_doc_containment_pairs,
        q_customer_order_distribution,
        q_events_gapfill_locf,
        q_order_window_zoo,
    ):
        p = plan_of(q)
        assert "CartesianProduct" not in p, q.__name__
        assert "BatchEvalPython" not in p, q.__name__

    p = plan_of(q_doc_winnow_fingerprints)
    assert "RoundRobinPartitioning" in p  # the barrier exchange survives
    assert p.count("Generate") == 1  # one posexplode, no array re-eval
    assert p.count("split(") <= 1  # the re-split trap stays dead

    p = plan_of(q_order_window_zoo)
    assert p.count("Window") == 1  # all four functions share one spec

    p = plan_of(q_events_gapfill_locf)
    assert p.count("Window") == 1  # only the LOCF carry

    p = plan_of(q_doc_containment_pairs)
    assert "Generate" in p  # array-side direction expansion


# --- round-8 fold operators: Misra-Gries sketch and window-funnel fold ---


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=600),
    st.integers(min_value=1, max_value=7),
)
def test_mg_sketch_superset_property(tokens, n_batches):
    """For ANY stream and ANY batch split, every item with true count
    > N/(K+1) must survive the partition sketch, counters stay ≤ K,
    and every retained lower bound is ≤ the true count (MG only
    subtracts)."""
    from collections import Counter

    from osm_poi_database_maker_spark.queries import text as T

    stream = [f"t{v}" for v in tokens]
    size = max(1, len(stream) // n_batches)
    batches = [
        pd.DataFrame({"w": stream[i : i + size]})
        for i in range(0, len(stream), size)
    ]
    out = list(T._mg_partition_sketch(iter(batches)))[0]
    lb = dict(zip(out["token"], out["lb"]))
    true = Counter(stream)
    n = len(stream)
    assert len(lb) <= T._MG_K
    for tok, c in true.items():
        if c * (T._MG_K + 1) > n:
            assert tok in lb, (tok, c, n)
    for tok, b in lb.items():
        assert 0 < b <= true[tok]


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=200),  # ts (µs scale shrunk)
            st.sampled_from(["view", "click", "purchase"]),
        ),
        min_size=1,
        max_size=40,
    ),
    st.integers(min_value=1, max_value=4),
)
def test_wfunnel_fold_matches_brute_force(evs, n_batches):
    """The suffix-min funnel fold equals a brute-force exists-chain
    search for ANY event stream and ANY micro-batch split (no
    watermark → nothing folds, the exact path)."""
    from osm_poi_database_maker_spark import streaming as S

    rows = [
        {"ts_us": t * S._WFUNNEL_WINDOW_US // 100, "event_id": i, "event_type": y}
        for i, (t, y) in enumerate(evs)
    ]
    W = S._WFUNNEL_WINDOW_US

    def brute(rs):
        rs = sorted((r["ts_us"], r["event_id"], r["event_type"]) for r in rs)
        lvl = 0
        for a, (tv, _, yv) in enumerate(rs):
            if yv != "view":
                continue
            lvl = max(lvl, 1)
            for b in range(a + 1, len(rs)):
                tc, _, yc = rs[b]
                if yc == "click" and tc - tv <= W:
                    lvl = max(lvl, 2)
                    for c in range(b + 1, len(rs)):
                        tp, _, yp = rs[c]
                        if yp == "purchase" and tp - tv <= W:
                            return 3
        return lvl

    class _St:
        exists = False
        _v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)
            self.exists = True

    st_ = _St()
    size = max(1, len(rows) // n_batches)
    out = None
    for i in range(0, len(rows), size):
        chunk = pd.DataFrame(rows[i : i + size])
        res = list(S._wfunnel_update((1,), [chunk], st_))
        if res:
            out = res[0]
    want = brute(rows)
    got = int(out["level"].iloc[0]) if out is not None else 0
    assert got == want


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.lists(
            st.floats(min_value=-10, max_value=10, allow_nan=False),
            min_size=0,
            max_size=80,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_sign_signature_matches_pure_python(spark, vecs):
    """sign_signature over arbitrary-length vectors (including >64-dim,
    the r11-advice regression class) must equal the bit-for-bit Python
    reference: bit d set iff v_d > 0, dims past 64 ignored, shorter
    vectors zero-padded."""
    from osm_poi_database_maker_spark.similarity import sign_signature

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: r.sign_sig for r in sign_signature(df).collect()}
    for i, v in enumerate(vecs):
        want = 0
        for d, x in enumerate(v[:64]):
            if x > 0:
                want |= 1 << d
        if want >= 1 << 63:
            want -= 1 << 64
        assert got[i] == want, (i, v)


def test_kn_bigram_formula_is_a_probability_distribution():
    """The interpolated Kneser-Ney formula the query implements,
    P(w2|w1) = (max(c12−D,0) + D·N1+(w1,·)·N1+(·,w2)/N1+(··)) / c1,
    must sum to EXACTLY 1 over the full bigram-type vocabulary for
    every context w1 (the identity holds because Σ max(c12−D,0) =
    c1 − D·N1+(w1,·) when every seen count ≥ 1 > D, and Σ Pcont = 1).
    A formula bug (wrong normalizer, wrong continuation table) breaks
    this identity immediately."""
    import itertools
    from collections import Counter

    corpus = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown cat sleeps",
        "a lazy dog and a lazy cat",
        "san francisco san francisco san jose",
    ]
    D = 0.75
    bigrams = []
    for doc in corpus:
        t = doc.split()
        bigrams += list(zip(t, t[1:]))
    c12 = Counter(bigrams)
    c1 = Counter(w1 for w1, _ in bigrams)
    types = set(c12)
    n_fw = Counter(w1 for w1, _ in types)
    n_bw = Counter(w2 for _, w2 in types)
    n_types = len(types)
    vocab2 = {w2 for _, w2 in types}
    for w1 in c1:
        total = sum(
            (max(c12.get((w1, w2), 0) - D, 0.0)
             + D * n_fw[w1] * n_bw[w2] / n_types) / c1[w1]
            for w2 in vocab2
        )
        assert abs(total - 1.0) < 1e-12, (w1, total)


# --- PBF codec: the numpy varint kernels against the scalar decoder -------


def _scalar_varints(pbf, buf) -> list[int]:
    out, i = [], 0
    while i < len(buf):
        v, i = pbf._uvarint(buf, i)
        out.append(v)
    return out


@settings(max_examples=100, deadline=None)
@given(st.lists(st.lists(st.integers(-(2**63), 2**63 - 1), max_size=5), max_size=6))
def test_varint_kernels_match_scalar_decoder(per_entity):
    """_varints / _sint_deltas / _packed_many + _restart_deltas equal the
    scalar _uvarint loop, with per-entity delta restarts and 64-bit
    wrap-around."""
    from osm_poi_database_maker_spark import pbf

    flat = [v for vals in per_entity for v in vals]
    raw = b"".join(pbf._enc_uvarint(v) for v in flat)
    assert pbf._varints(raw).tolist() == _scalar_varints(pbf, raw)
    assert pbf._varints(raw).view("int64").tolist() == flat

    def wrap(v):  # int64 two's complement
        return (v + 2**63) % 2**64 - 2**63

    deltas = [wrap(b - a) for a, b in zip([0, *flat], flat)]
    packed = b"".join(pbf._enc_zigzag(d) for d in deltas)
    assert [pbf._zigzag(u) for u in _scalar_varints(pbf, packed)] == deltas
    assert pbf._sint_deltas(packed).tolist() == flat

    bufs = [b"".join(pbf._delta_zigzag(vals)) for vals in per_entity]
    values, counts = pbf._packed_many(bufs)
    assert counts.tolist() == [len(vals) for vals in per_entity]
    assert pbf._restart_deltas(values, counts).tolist() == flat


# --- PBF codec: every reader returns exactly the encoded entities ----------

_I64 = st.integers(-(2**63), 2**63 - 1)  # deltas wrap; 10-byte varints
_STR = st.text(st.characters(blacklist_categories=("Cs",)), max_size=6)
# "" values share string-table index 0 with the DenseNodes delimiter
_TAGS = st.dictionaries(
    st.text(st.characters(blacklist_categories=("Cs",)), min_size=1, max_size=6),
    st.one_of(st.just(""), _STR),
    max_size=3,
)
_INFO = st.fixed_dictionaries(
    {},
    optional={
        "version": st.integers(0, 2**31 - 1),
        "user_id": st.integers(-(2**31), 2**31 - 1),
        "changeset_id": _I64,
        "tstamp_ms": st.integers(-(2**31), 2**32).map(lambda s: s * 1000),
    },
)


def _degrees(limit: int):
    # on the default 100-nanodegree grid, as the decoder computes it
    return st.integers(-limit, limit).map(lambda raw: 1e-9 * (100 * raw))


_NODE = st.builds(
    lambda info, **kw: {**info, **kw},
    _INFO,
    id=_I64,
    lon=_degrees(1_800_000_000),
    lat=_degrees(900_000_000),
    tags=_TAGS,
)
_WAY = st.builds(
    lambda info, **kw: {**info, **kw},
    _INFO,
    id=_I64,
    tags=_TAGS,
    refs=st.lists(_I64, max_size=4),
)
_RELATION = st.builds(
    lambda info, **kw: {**info, **kw},
    _INFO,
    id=_I64,
    tags=_TAGS,
    members=st.lists(
        st.tuples(st.sampled_from(["node", "way", "relation"]), _I64, _STR), max_size=3
    ),
)


def _plain_node_block(nodes) -> bytes:
    """One PrimitiveGroup of non-dense Node messages (encode_pbf writes
    DenseNodes only)."""
    from osm_poi_database_maker_spark import pbf

    strings = pbf._StringTable()
    group = b""
    for n in nodes:
        body = (
            pbf._enc_uvarint(1 << 3) + pbf._enc_zigzag(n["id"])
            + pbf._enc_kv(n["tags"], strings)
            + pbf._enc_field_bytes(4, pbf._enc_info(n, 1000))
            + pbf._enc_uvarint(8 << 3) + pbf._enc_zigzag(round(n["lat"] * 1e9) // 100)
            + pbf._enc_uvarint(9 << 3) + pbf._enc_zigzag(round(n["lon"] * 1e9) // 100)
        )
        group += pbf._enc_field_bytes(1, body)
    return pbf._enc_field_bytes(1, strings.encode()) + pbf._enc_field_bytes(2, group)


def _entity_key(kind, e, dense=False):
    info = [e.get(f) for f in ("version", "user_id", "tstamp_ms", "changeset_id")]
    if dense:  # DenseInfo is columnar: the encoder writes absent fields as 0
        info = [v or 0 for v in info]
    members = e.get("members")
    return (
        kind, e["id"], *info, tuple(e["tags"].items()), e.get("lon"), e.get("lat"),
        None if e.get("refs") is None else tuple(e["refs"]),
        None if members is None else tuple(map(tuple, members)),
    )


def _decoded_key(r):
    members = None
    if r["member_ids"] is not None:
        members = tuple(zip(r["member_types"], r["member_ids"], r["member_roles"]))
    return (
        r["osm_type"], r["id"], r["version"], r["user_id"], r["tstamp_ms"],
        r["changeset_id"], tuple(r["tags"].items()), r["lon"], r["lat"],
        None if r["refs"] is None else tuple(r["refs"]), members,
    )


def _tags_unordered(key):
    return (*key[:6], tuple(sorted(key[6])), *key[7:])


@settings(max_examples=15, deadline=None)
@given(
    nodes=st.lists(_NODE, max_size=6),
    plain_nodes=st.lists(_NODE, max_size=3),
    ways=st.lists(_WAY, max_size=4),
    relations=st.lists(_RELATION, max_size=3),
    block_size=st.integers(1, 4),
)
def test_pbf_readers_return_encoded_entities(
    spark, nodes, plain_nodes, ways, relations, block_size
):
    """encode_pbf → read_pbf, format("osmpbf") and decode_primitive_block
    each return exactly the input: negative ids, ±180/±90 coordinates,
    10-byte varint deltas, absent Info fields, empty refs and members,
    "" tag values, and plain (non-dense) nodes."""
    import os
    import tempfile

    from osm_poi_database_maker_spark import pbf
    from osm_poi_database_maker_spark.pbf_datasource import register

    want = sorted(
        [_entity_key("node", n, dense=True) for n in nodes]
        + [_entity_key("node", n) for n in plain_nodes]
        + [_entity_key("way", w) for w in ways]
        + [_entity_key("relation", r) for r in relations],
        key=repr,
    )
    register(spark)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "random.osm.pbf")
        pbf.encode_pbf(path, nodes, ways, relations, block_size=block_size)
        if plain_nodes:
            with open(path, "ab") as f:
                f.write(pbf._enc_blob("OSMData", _plain_node_block(plain_nodes), True))

        direct = []
        with open(path, "rb") as f:
            for btype, off, size in pbf.scan_blob_index(path):
                if btype == "OSMData":
                    f.seek(off)
                    raw = pbf.decompress_blob(f.read(size))
                    direct += map(_decoded_key, pbf.decode_primitive_block(raw))
        assert sorted(direct, key=repr) == want

        # a collected map's order is Spark's, so compare tags as sets there
        want = sorted(map(_tags_unordered, want), key=repr)
        for df in (pbf.read_pbf(spark, path), spark.read.format("osmpbf").load(path)):
            rows = df.selectExpr("*", "unix_millis(tstamp) AS tstamp_ms").collect()
            got = [_tags_unordered(_decoded_key(r.asDict())) for r in rows]
            assert sorted(got, key=repr) == want


# --- recursive closures: pointer jumping and min doubling vs a parent walk --

# chain depths 2^k - 1, 2^k and 2^k + 1 for k ≤ 4: the doubling boundaries
_CHAIN_DEPTHS = sorted({d for k in range(5) for d in (2**k - 1, 2**k, 2**k + 1)})


@st.composite
def _forests(draw) -> dict[int, int]:
    """Parent map of a random forest packed into one id space: a random
    recursive forest (each node's parent is an earlier node or nothing,
    so several roots) plus chains of boundary depths, relabelled by a
    random permutation so ids carry no depth order."""
    parent: dict[int, int] = {}
    n = draw(st.integers(1, 24))
    for i in range(1, n):
        p = draw(st.integers(-1, i - 1))  # -1: i is another root
        if p >= 0:
            parent[i] = p
    for d in draw(st.lists(st.sampled_from(_CHAIN_DEPTHS), min_size=1, max_size=4)):
        for j in range(d):
            parent[n + j + 1] = n + j
        n += d + 1
    ids = draw(st.permutations(range(n)))
    return {ids[c]: ids[p] for c, p in parent.items()}


def _walk_closure(parent: dict[int, int]) -> set[tuple[int, int, int]]:
    """Brute force: walk every node's parent chain up to its root."""
    out = set()
    for node in parent:
        anc, dist = parent[node], 1
        while True:
            out.add((node, anc, dist))
            if anc not in parent:
                break
            anc, dist = parent[anc], dist + 1
    return out


def _edges(spark, pairs):
    return spark.createDataFrame(list(pairs), "node long, anc long")


def _rows(df) -> set[tuple[int, int, int]]:
    return {(r.node, r.ancestor, r.dist) for r in df.collect()}


@settings(max_examples=5, deadline=None)
@given(_forests())
def test_closures_match_parent_walk(spark, parent):
    """On a functional graph the pointer-jumping ancestor closure, the
    min-distance doubling closure and a parent walk give the same
    (node, ancestor, dist) rows."""
    from osm_poi_database_maker_spark.ops.recursion import (
        ancestor_closure,
        min_dist_closure,
    )

    edges = _edges(spark, parent.items())
    want = _walk_closure(parent)
    assert _rows(ancestor_closure(edges)) == want
    assert _rows(min_dist_closure(edges)) == want


@pytest.mark.parametrize("k", range(5))
def test_ancestor_closure_converges_at_depth_pow2(spark, k):
    """Depth exactly 2^max_rounds converges."""
    from osm_poi_database_maker_spark.ops.recursion import ancestor_closure

    parent = {i + 1: i for i in range(2**k)}
    got = _rows(ancestor_closure(_edges(spark, parent.items()), max_rounds=k))
    assert got == _walk_closure(parent)


@pytest.mark.parametrize(
    "pairs, max_rounds",
    [
        ([(1, 1), (3, 2)], 12),  # self-loop beside a valid edge
        ([(1, 2), (2, 1)], 12),  # 2-cycle
        ([(7, 6), (6, 5), (5, 1), (1, 2), (2, 3), (3, 1)], 12),  # tail into a cycle
        ([(i + 1, i) for i in range(8)], 1),  # depth 8 needs 4 of the 2 rounds
    ],
    ids=["self_loop", "two_cycle", "tail_into_cycle", "too_deep"],
)
def test_ancestor_closure_raises_when_not_converging(spark, pairs, max_rounds):
    from osm_poi_database_maker_spark.ops.recursion import ancestor_closure

    with pytest.raises(RuntimeError, match="did not converge"):
        ancestor_closure(_edges(spark, pairs), max_rounds=max_rounds).collect()


# --- the two closure paths: BFS kernel and fixpoint loop vs brute force ----

_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def _on_path(spark, path, fn):
    """Run ``fn()`` on one closure path: ``kernel`` under the session's
    broadcast threshold, ``loop`` with the threshold at -1."""
    if path == "kernel":
        return fn()
    had = spark.conf.get(_THRESHOLD)
    spark.conf.set(_THRESHOLD, "-1")
    try:
        return fn()
    finally:
        spark.conf.set(_THRESHOLD, had)


def _bfs_rows(pairs) -> set[tuple[int, int, int]]:
    """Brute force: a BFS from every node over its parent edges. The
    source is not marked visited, so a cycle through it gives its
    (n, n, cycle length) row."""
    up: dict[int, set[int]] = {}
    for node, anc in pairs:
        up.setdefault(node, set()).add(anc)
    out = set()
    for src in up:
        dist: dict[int, int] = {}
        frontier, d = [src], 0
        while frontier:
            d += 1
            nxt = [a for n in frontier for a in up.get(n, ()) if a not in dist]
            for a in nxt:
                dist.setdefault(a, d)
            frontier = sorted(set(nxt))
        out |= {(src, a, k) for a, k in dist.items()}
    return out


@st.composite
def _digraphs(draw) -> list[tuple[int, int]]:
    """Random multi-parent edge lists over a few ids: cycles, self-loops
    and repeated edges all occur, and the list may be empty."""
    ids = st.integers(0, draw(st.integers(1, 12)))
    pairs = draw(st.lists(st.tuples(ids, ids), max_size=30))
    return pairs + draw(st.lists(st.sampled_from(pairs), max_size=4)) if pairs else []


@settings(max_examples=3, deadline=None)
@given(_forests())
@example({})
def test_closure_paths_match_brute_force_on_forests(spark, parent):
    """Both closures give the parent walk's rows on both paths."""
    from osm_poi_database_maker_spark.ops.recursion import (
        ancestor_closure,
        min_dist_closure,
    )

    want = _walk_closure(parent)
    assert want == _bfs_rows(parent.items())
    for path in ("kernel", "loop"):
        for closure in (ancestor_closure, min_dist_closure):
            got = _on_path(
                spark, path, lambda: _rows(closure(_edges(spark, parent.items())))
            )
            assert got == want, (path, closure.__name__)


@settings(max_examples=4, deadline=None)
@given(_digraphs())
@example([])
@example([(1, 2), (2, 3), (3, 1), (4, 4), (4, 1), (4, 1)])
def test_min_dist_closure_paths_match_bfs(spark, pairs):
    """On multi-parent graphs with cycles, self-loops and repeated edges
    min_dist_closure gives the BFS distances, (n, n, L) self-rows
    included, on both paths."""
    from osm_poi_database_maker_spark.ops.recursion import min_dist_closure

    want = _bfs_rows(pairs)
    for path in ("kernel", "loop"):
        got = _on_path(
            spark, path, lambda: _rows(min_dist_closure(_edges(spark, pairs)))
        )
        assert got == want, path


@pytest.mark.parametrize("path", ["kernel", "loop"])
@pytest.mark.parametrize("k", [1, 3])
def test_min_dist_closure_round_cap(spark, k, path):
    """With max_rounds=k a chain of depth 2^k converges and one of depth
    2^k + 1 raises "did not converge", on both paths."""
    from osm_poi_database_maker_spark.ops.recursion import min_dist_closure

    def chain(depth):
        return _edges(spark, [(i + 1, i) for i in range(depth)])

    parent = {i + 1: i for i in range(2**k)}
    got = _on_path(spark, path, lambda: _rows(min_dist_closure(chain(2**k), k)))
    assert got == _walk_closure(parent)
    with pytest.raises(RuntimeError, match="did not converge"):
        _on_path(spark, path, lambda: min_dist_closure(chain(2**k + 1), k))


@pytest.mark.parametrize("path", ["kernel", "loop"])
@pytest.mark.parametrize(
    "pairs, max_rounds",
    [
        ([(1, 1), (3, 2)], 12),
        ([(1, 2), (2, 1)], 12),
        ([(7, 6), (6, 5), (5, 1), (1, 2), (2, 3), (3, 1)], 12),
        ([(i + 1, i) for i in range(8)], 1),
    ],
    ids=["self_loop", "two_cycle", "tail_into_cycle", "too_deep"],
)
def test_ancestor_closure_raises_at_build_time(spark, pairs, max_rounds, path):
    """Each path raises "did not converge" while the closure is built:
    no action is called on its result."""
    from osm_poi_database_maker_spark.ops.recursion import ancestor_closure

    with pytest.raises(RuntimeError, match="did not converge"):
        _on_path(
            spark, path, lambda: ancestor_closure(_edges(spark, pairs), max_rounds)
        )


def test_ancestor_closure_multi_parent_input_keeps_the_loop_rows(spark):
    """Input with a repeated parent row is outside the functional
    contract; the default route runs the loop there, so both routes
    give the same rows, repeats included."""
    from osm_poi_database_maker_spark.ops.recursion import ancestor_closure

    pairs = [(3, 2), (2, 1), (2, 1)]

    def rows():
        clo = ancestor_closure(_edges(spark, pairs))
        return sorted(tuple(r) for r in clo.collect())

    want = _on_path(spark, "loop", rows)
    assert rows() == want
    assert len(want) == 6 and len(set(want)) == 3
