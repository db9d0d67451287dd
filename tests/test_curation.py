"""Curation operators: decontamination and mixture-weighted sampling.

Semantics checks on planted fixtures (the DuckDB oracle equivalence is
gated in tier-1 by tests/test_entry.py::test_query_runs_on_smoke_sf)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE


def _patched_docs(monkeypatch, docs):
    from osm_poi_database_maker_spark.queries import curation as C

    monkeypatch.setattr(C, "load_table", lambda spark_, sf_, name_: docs)


def test_decontaminate_planted_copy(spark, monkeypatch):
    """A verbatim copy of an eval doc (doc_id % 10 == 7) is flagged
    contaminated with full overlap; an unrelated doc never appears; eval
    docs themselves are excluded from the report."""
    from osm_poi_database_maker_spark.queries.curation import q_doc_decontaminate

    eval_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (7, eval_text, "en", "src0", len(eval_text)),  # eval slice
            (21, eval_text, "en", "src1", len(eval_text)),  # planted copy
            (22, "one two three four five six seven eight nine ten", "en", "src1", 49),
            (23, "tiny", "en", "src1", 4),  # shorter than the shingle width
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    _patched_docs(monkeypatch, docs)
    got = {r.doc_id: r for r in q_doc_decontaminate(spark, "x").collect()}
    assert set(got) == {21}
    r = got[21]
    assert r.n_hit == r.n_sh and r.overlap_frac == 1.0 and r.contaminated


def test_decontaminate_partial_overlap(spark, monkeypatch):
    """A doc sharing only a sub-threshold fraction of shingles is
    reported but not flagged."""
    from osm_poi_database_maker_spark.queries.curation import q_doc_decontaminate

    # doc 31 shares exactly one 5-gram window with the eval doc, then
    # diverges into unique vocabulary: overlap_frac < 0.5
    shared = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (17, shared + " zeta eta theta", "en", "src0", 10),
            (31, shared + " uno dos tres cuatro cinco seis siete ocho", "en", "src1", 10),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    _patched_docs(monkeypatch, docs)
    got = {r.doc_id: r for r in q_doc_decontaminate(spark, "x").collect()}
    assert set(got) == {31}
    assert got[31].n_hit == 1 and not got[31].contaminated


def test_decontaminate_sf_smoke(spark):
    """On the real fixture: output never contains eval docs, fractions
    are in (0, 1], and the contaminated flag matches the threshold."""
    from osm_poi_database_maker_spark.queries.curation import (
        _CONTAM_FRAC,
        _EVAL_MOD,
        _EVAL_REM,
        q_doc_decontaminate,
    )

    rows = q_doc_decontaminate(spark, SF_SMOKE).collect()
    assert rows, "fixture contains planted dups; expect some overlap"
    for r in rows:
        assert r.doc_id % _EVAL_MOD != _EVAL_REM
        assert 0 < r.n_hit <= r.n_sh
        assert r.contaminated == (r.n_hit / r.n_sh >= _CONTAM_FRAC)


def test_mixture_sample_rates(spark):
    """Boosted sources sample at a proportionally higher rate; every rate
    is in (0, 1]; the keep decision matches the reported rate exactly
    (deterministic hash, so re-running yields the identical sample)."""
    from osm_poi_database_maker_spark.queries.curation import (
        _MIX_BOOST,
        q_doc_mixture_sample,
    )

    rows = q_doc_mixture_sample(spark, SF_SMOKE).collect()
    assert rows
    rate_by_src = {}
    for r in rows:
        assert 0.0 < r.rate <= 1.0
        assert 0.0 <= r.sample_u < r.rate or r.sample_u == pytest.approx(r.rate, abs=1e-6)
        rate_by_src.setdefault(r.source, r.rate)
    boosted = [v for s, v in rate_by_src.items() if s in _MIX_BOOST]
    plain = [v for s, v in rate_by_src.items() if s not in _MIX_BOOST]
    # src0 (weight 4) must out-rate every unboosted source unless capped at 1
    if boosted and plain:
        assert max(boosted) > min(plain) or max(boosted) == 1.0

    again = q_doc_mixture_sample(spark, SF_SMOKE).collect()
    assert sorted(r.doc_id for r in again) == sorted(r.doc_id for r in rows)


def test_mixture_sample_respects_budget(spark):
    """The realized sample size is close to the 40% target budget (exact
    equality is impossible — per-source rounding and the rate cap — but
    the deterministic hash keeps it within a few percent)."""
    from osm_poi_database_maker_spark.queries.curation import (
        _MIX_TOTAL_FRAC,
        q_doc_mixture_sample,
    )
    from osm_poi_database_maker_spark.io import load_table

    n_total = load_table(spark, SF_SMOKE, "documents").count()
    n_sample = q_doc_mixture_sample(spark, SF_SMOKE).count()
    assert abs(n_sample / n_total - _MIX_TOTAL_FRAC) < 0.1


def test_shuffle_shards_partition(spark):
    """Every doc lands in exactly one shard; positions are 1..n_shard
    contiguous; re-running yields the identical assignment."""
    from osm_poi_database_maker_spark.queries.curation import (
        _N_SHARDS,
        q_doc_shuffle_shards,
    )

    rows = q_doc_shuffle_shards(spark, SF_SMOKE).collect()
    assert len({r.doc_id for r in rows}) == len(rows)
    by_shard = {}
    for r in rows:
        assert 0 <= r.shard < _N_SHARDS
        by_shard.setdefault(r.shard, []).append(r.pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # shards are reasonably balanced under the mixing hash
    sizes = [len(v) for v in by_shard.values()]
    assert max(sizes) < 3 * (len(rows) // _N_SHARDS + 1)
    again = q_doc_shuffle_shards(spark, SF_SMOKE).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def test_int8_quantize_bounds(spark):
    """Quantized checksums respect int8 bounds: q_l2 <= dim * 127^2, the
    max-|x| element saturates to exactly +-127 (so n_saturated >= 1 for
    any nonzero vector), and scale is nonnegative."""
    from osm_poi_database_maker_spark.queries.curation import (
        _Q_LEVELS,
        q_emb_int8_quantize,
    )
    from osm_poi_database_maker_spark.io import load_table

    dim = len(load_table(spark, SF_SMOKE, "embeddings").first().embedding)
    rows = q_emb_int8_quantize(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.scale >= 0.0
        assert r.q_l2 <= dim * _Q_LEVELS * _Q_LEVELS
        if r.scale > 0:
            assert r.n_saturated >= 1


def test_int8_quantize_zero_vector(spark, monkeypatch):
    """An all-zero vector quantizes to all-zero checksums, not NULLs."""
    from osm_poi_database_maker_spark.queries import curation as C
    from osm_poi_database_maker_spark.queries.curation import q_emb_int8_quantize

    emb = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0], 0), (2, [0.5, -1.0, 0.25], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    monkeypatch.setattr(C, "load_table", lambda spark_, sf_, name_: emb)
    got = {r.vec_id: r for r in q_emb_int8_quantize(spark, "x").collect()}
    assert got[1].scale == 0.0 and got[1].q_sum == 0 and got[1].q_l2 == 0
    assert got[2].n_saturated == 1  # the -1.0 element hits -127


def test_incident_windows_boundaries(spark, monkeypatch):
    """Planted timeline: events inside the 5-minute window (including
    both boundary instants and events in the NEXT time bucket) are
    counted; events outside are not — the bucket decomposition must not
    lose cross-bucket hits."""
    from datetime import datetime, timedelta

    from osm_poi_database_maker_spark.queries import events as E
    from osm_poi_database_maker_spark.queries.events import (
        _INCIDENT_WINDOW_US,
        q_events_incident_windows,
    )

    t0 = datetime(2024, 1, 1, 0, 4, 30)  # 4.5 min: window straddles buckets
    wlen = timedelta(microseconds=_INCIDENT_WINDOW_US)
    rows = [
        (1, t0, 10, "error", 1.0, None),  # the incident itself
        (2, t0 + timedelta(seconds=1), 11, "click", 1.0, None),  # same bucket
        (3, t0 + timedelta(minutes=4), 12, "view", 1.0, None),  # next bucket
        (4, t0 + wlen, 13, "click", 1.0, None),  # exact upper boundary: in
        (5, t0 + wlen + timedelta(microseconds=1), 14, "click", 1.0, None),  # out
        (6, t0 - timedelta(microseconds=1), 15, "click", 1.0, None),  # before: out
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    monkeypatch.setattr(E, "load_table", lambda spark_, sf_, name_: ev)
    got = {r.incident_id: r for r in q_events_incident_windows(spark, "x").collect()}
    assert set(got) == {1}
    assert got[1].n_events == 4  # ids 1,2,3,4
    assert got[1].n_users == 4 and got[1].n_errors == 1


def test_curation_pipeline_invariants(spark):
    """End-to-end pipeline output: no eval docs, no duplicate texts, no
    contaminated docs, valid shard/pos, and strictly fewer docs than the
    corpus (something was filtered and sampled)."""
    from osm_poi_database_maker_spark.io import load_table
    from osm_poi_database_maker_spark.queries.curation import (
        _EVAL_MOD,
        _EVAL_REM,
        _N_SHARDS,
        q_doc_curation_pipeline,
        q_doc_decontaminate,
    )

    rows = q_doc_curation_pipeline(spark, SF_SMOKE).collect()
    assert rows
    n_corpus = load_table(spark, SF_SMOKE, "documents").count()
    assert len(rows) < n_corpus
    contaminated = {
        r.doc_id
        for r in q_doc_decontaminate(spark, SF_SMOKE).collect()
        if r.contaminated
    }
    ids = [r.doc_id for r in rows]
    assert len(set(ids)) == len(ids)
    for r in rows:
        assert r.doc_id % _EVAL_MOD != _EVAL_REM
        assert r.doc_id not in contaminated
        assert 0 <= r.shard < _N_SHARDS and r.pos >= 1


def test_bigram_logprob_semantics(spark, monkeypatch):
    """A doc made of one repeated bigram scores log(1)=0 (fully
    predictable); a doc whose continuations split 50/50 scores log(0.5);
    single-token docs don't appear."""
    from osm_poi_database_maker_spark.queries import text as T
    from osm_poi_database_maker_spark.queries.text import q_doc_bigram_logprob

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b a b", "en", "s", 0),  # bigrams ab,ba only
            (2, "solo", "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(T, "load_table", lambda spark_, sf_, name_: docs)
    got = {r.doc_id: r for r in q_doc_bigram_logprob(spark, "x").collect()}
    assert set(got) == {1}
    # C(a,b)=4, C(a)=4 -> P=1; C(b,a)=3, C(b)=3 -> P=1; avg log = 0
    assert got[1].avg_logprob == 0.0 and got[1].n_bigrams == 7


def test_label_centroid_single_label(spark, monkeypatch):
    """Two symmetric vectors around a centroid: each sits at the same
    distance, so avg == max; a lone vector IS its centroid (dist 0)."""
    from osm_poi_database_maker_spark.queries import curation as C
    from osm_poi_database_maker_spark.queries.curation import q_emb_label_centroids

    emb = spark.createDataFrame(
        [
            (1, [0.0, 0.0], 7),
            (2, [2.0, 2.0], 7),
            (3, [5.0, 5.0], 9),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    monkeypatch.setattr(C, "load_table", lambda spark_, sf_, name_: emb)
    got = {r.label: r for r in q_emb_label_centroids(spark, "x").collect()}
    import math

    assert got[7].n_vecs == 2
    assert got[7].avg_dist == got[7].max_dist == round(math.sqrt(2), 4)
    assert got[9].n_vecs == 1 and got[9].avg_dist == 0.0


def test_longest_eval_overlap_streak(spark, monkeypatch):
    """A training doc embedding a verbatim 7-token run of an eval doc
    reports the full run length via the window-streak, not just the hit
    count; a doc with two disjoint short runs reports the longer one."""
    from osm_poi_database_maker_spark.queries.curation import (
        _RUN_W,
        q_doc_longest_eval_overlap,
    )

    eval_text = "alpha beta gamma delta epsilon zeta eta"  # 7 tokens
    docs = spark.createDataFrame(
        [
            (7, eval_text, "en", "src0", 1),  # eval slice
            # 21: the eval run verbatim inside unrelated context
            (21, "xx yy " + eval_text + " zz ww", "en", "src1", 1),
            # 22: two disjoint 4-token matches (streak 1 each)
            (
                22,
                "alpha beta gamma delta uno dos tres cuatro delta epsilon zeta eta",
                "en",
                "src1",
                1,
            ),
            (23, "unrelated words only here nothing shared at all", "en", "src1", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    from osm_poi_database_maker_spark.queries import curation as C

    monkeypatch.setattr(C, "load_table", lambda spark_, sf_, name_: docs)
    got = {r.doc_id: r for r in q_doc_longest_eval_overlap(spark, "x").collect()}
    assert set(got) == {21, 22}
    # 7-token run = 4 consecutive windows of width 4
    assert got[21].longest_run_tokens == 7
    assert got[21].n_hit_windows == 7 - _RUN_W + 1
    assert got[22].longest_run_tokens == _RUN_W
    assert got[22].n_hit_windows == 2


def test_weighted_sample_determinism_and_bias(spark, monkeypatch):
    """Same input → identical sample (hash-derived, no RNG); with equal
    u the heavier doc must win the last slot."""
    from osm_poi_database_maker_spark.queries.curation import (
        _WS_TOP_K,
        q_doc_weighted_sample,
    )

    a = {(r.source, r.doc_id): r.rk for r in q_doc_weighted_sample(spark, SF_SMOKE).collect()}
    b = {(r.source, r.doc_id): r.rk for r in q_doc_weighted_sample(spark, SF_SMOKE).collect()}
    assert a == b and a
    assert max(rk for rk in a.values()) <= _WS_TOP_K
    per_source: dict = {}
    for (src, _), rk in a.items():
        per_source[src] = max(per_source.get(src, 0), rk)
    assert all(v <= _WS_TOP_K for v in per_source.values())


def test_centroid_drift_identical_batches(spark, monkeypatch):
    """Identical ref/cur distributions -> cosine 1, L2 0; a planted
    shifted current batch lowers cosine and raises L2."""
    from osm_poi_database_maker_spark.queries import curation as C

    # label 0: ref (ids 0..7) and cur (ids 8,9) share the same constant
    # vector -> drift zero. label 1: cur is orthogonal to ref.
    rows = []
    for i in range(10):
        rows.append((i, [1.0, 0.0], 0))
    for i in range(10, 20):
        vec = [0.0, 1.0] if i % 10 >= 8 else [1.0, 0.0]
        rows.append((i, vec, 1))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    monkeypatch.setattr(C, "load_table", lambda s, sf, n: e)
    got = {r.label: r for r in C.q_emb_centroid_drift(spark, "x").collect()}
    assert (got[0].n_ref, got[0].n_cur) == (8, 2)
    assert got[0].centroid_cosine == 1.0
    assert got[0].centroid_l2 == 0.0
    assert got[1].centroid_cosine == 0.0
    assert abs(got[1].centroid_l2 - round(2 ** 0.5, 4)) < 1e-9


def test_split_assign_invariants(spark):
    """Splits are exhaustive, disjoint, deterministic across calls, and
    roughly 80/10/10 on the smoke fixture."""
    from osm_poi_database_maker_spark.queries.curation import q_doc_split_assign
    from tests.conftest import SF_SMOKE

    a = {r.doc_id: r.split for r in q_doc_split_assign(spark, SF_SMOKE).collect()}
    b = {r.doc_id: r.split for r in q_doc_split_assign(spark, SF_SMOKE).collect()}
    assert a == b and a
    from collections import Counter

    c = Counter(a.values())
    n = sum(c.values())
    assert set(c) <= {"train", "val", "test"}
    assert 0.6 <= c["train"] / n <= 0.95
    assert c["val"] > 0 and c["test"] > 0


def test_centroid_drift_one_sided_label(spark, monkeypatch):
    """A label present in only one batch (vanished or brand-new) must
    still emit a row — NULL cosine/l2, real counts — not silently
    disappear from the drift report."""
    from osm_poi_database_maker_spark.queries import curation as C

    rows = (
        [(i, [1.0, 0.0], 0) for i in range(10)]        # label 0: both sides
        + [(10 + i, [0.5, 0.5], 1) for i in range(8)]  # label 1: ids 10..17,
                                                        # all % 10 < 8 -> ref-only
        + [(28, [0.1, 0.9], 2), (29, [0.1, 0.9], 2)]   # label 2: cur-only
    )
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    monkeypatch.setattr(C, "load_table", lambda s, sf, n: e)
    got = {r.label: r for r in C.q_emb_centroid_drift(spark, "x").collect()}
    assert set(got) == {0, 1, 2}
    assert (got[1].n_ref, got[1].n_cur) == (8, 0)
    assert got[1].centroid_cosine is None and got[1].centroid_l2 is None
    assert (got[2].n_ref, got[2].n_cur) == (0, 2)
    assert got[2].centroid_cosine is None
    assert got[0].centroid_cosine == 1.0


def test_bloom_decontaminate_one_sided_vs_exact(spark):
    """Bloom decontamination must never under-flag: every doc's
    n_bloom_hit >= n_hit (no false negatives), the flagged superset
    contains every exact-contaminated doc, and n_false_pos is exactly
    the difference — the in-band audit the driver hashes."""
    from osm_poi_database_maker_spark.queries import curation as C
    from tests.conftest import SF_SMOKE

    rows = C.q_doc_bloom_decontaminate(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.n_bloom_hit >= r.n_hit
        assert r.n_false_pos == r.n_bloom_hit - r.n_hit
        assert 0 < r.n_bloom_hit <= r.n_sh
    bloom_docs = {r.doc_id for r in rows}
    exact_docs = {r.doc_id for r in C.q_doc_decontaminate(spark, SF_SMOKE).collect()}
    # doc_decontaminate uses 5-word shingles; 3-word shingle hits are a
    # superset of 5-word hits (any 5-gram match implies 3-gram matches),
    # and bloom hits are a superset of its own exact hits
    assert exact_docs <= bloom_docs


def test_global_index_is_dense_ordered_and_windowless(spark, monkeypatch):
    """global_id must be exactly row_number()-1 by doc_id — dense,
    0-based, gap-free — for sparse shuffled ids, and the plan must keep
    the corpus-sized window partitioned (only the 32-row offset table
    may see a single-partition exchange)."""
    from osm_poi_database_maker_spark.queries import curation as C

    ids = [977, 3, 512, 40, 41, 1000000, 7]
    rows = [(i, "t", "en", f"s{i % 2}", i) for i in ids]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(C, "load_table", lambda s_, sf_, n_: d)
    q = C.q_doc_global_index(spark, "x")
    got = {r.doc_id: r.global_id for r in q.collect()}
    assert got == {v: i for i, v in enumerate(sorted(ids))}
    # the only SinglePartition exchange allowed is the one feeding the
    # tiny offsets aggregate; the doc-side window must ride the range
    # exchange. The offsets subtree ends at its broadcast, so count
    # single-partition exchanges overall: exactly 1.
    plan = q._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both plans
    assert final.count("Exchange SinglePartition") <= 1


def test_psi_zero_for_identical_and_large_for_shifted(spark, monkeypatch):
    """A source whose length distribution mirrors the corpus scores
    near-zero PSI; a source concentrated in one far bin scores large;
    silent bins must contribute via Laplace smoothing, not blow up."""
    from osm_poi_database_maker_spark.queries import curation as C

    rows = []
    did = 0
    # two balanced sources spread over bins 0..3 identically
    for src in ("a", "b"):
        for b in range(4):
            for _ in range(10):
                did += 1
                rows.append((did, "t", "en", src, b * 60 + 10))
    # one SMALL shifted source entirely in the open-ended top bin (small
    # so it barely perturbs the corpus reference the others are judged by)
    for _ in range(4):
        did += 1
        rows.append((did, "t", "en", "weird", 9 * 60 + 50))
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(C, "load_table", lambda s_, sf_, n_: d)
    out = {r.source: r for r in C.q_doc_source_psi(spark, "x").collect()}
    assert out["a"].n_docs == 40 and out["weird"].n_docs == 4
    assert out["a"].psi == out["b"].psi < 0.25  # near the reference
    assert out["weird"].psi > 1.0  # grossly shifted


def test_quantile_normalize_equalizes_distributions(spark, monkeypatch):
    """After normalization every equal-sized source carries the SAME
    multiset of lengths (the global nearest-rank values), regardless of
    how inflated its own lengths were; ranks tie-break by doc_id so
    duplicate lengths map deterministically."""
    from osm_poi_database_maker_spark.queries import curation as C

    rows = []
    # source 'small': lengths 10,20,30,40 ; source 'big': 10x larger
    for i, v in enumerate((10, 20, 30, 40)):
        rows.append((i, "t", "en", "small", v))
    for i, v in enumerate((100, 200, 300, 400)):
        rows.append((10 + i, "t", "en", "big", v))
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(C, "load_table", lambda s_, sf_, n_: d)
    out = C.q_doc_quantile_normalize(spark, "x").collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r.norm_chars)
    # r=1..4 of 4, N=8 -> nearest-rank picks global order stats 2,4,6,8
    assert sorted(by_src["small"]) == sorted(by_src["big"]) == [20, 40, 200, 400]
