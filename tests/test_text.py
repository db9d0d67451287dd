"""Text-analysis operator semantics on planted documents (oracle
equivalence is gated in tier-1 by
tests/test_entry.py::test_query_runs_on_smoke_sf)."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_dup_ngram_fraction_planted(spark, monkeypatch):
    """Interval-union semantics: disjoint duplicate trigrams sum their
    extents, overlapping occurrences merge, clean docs report zero."""
    from osm_poi_database_maker_spark.queries import text as T

    docs = spark.createDataFrame(
        [
            # 'a b c' at positions 0 and 3: coverage [0,2] + [3,5] = 6 of 8
            (1, "a b c a b c d e", "en", "s", 15),
            # no repeated trigram
            (2, "v w x y z", "en", "s", 9),
            # 'a a a' at 0 and 1: union [0,3] = all 4 tokens
            (3, "a a a a", "en", "s", 7),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(T, "load_table", lambda spark_, sf_, name_: docs)
    got = {r.doc_id: r for r in T.q_doc_dup_ngram_fraction(spark, "x").collect()}
    assert (got[1].n_tokens, got[1].dup_tokens, got[1].dup_fraction) == (8, 6, 0.75)
    assert (got[2].n_tokens, got[2].dup_tokens, got[2].dup_fraction) == (5, 0, 0.0)
    assert (got[3].n_tokens, got[3].dup_tokens, got[3].dup_fraction) == (4, 4, 1.0)


def test_dup_ngram_fraction_bounds(spark):
    from osm_poi_database_maker_spark.queries.text import q_doc_dup_ngram_fraction

    rows = q_doc_dup_ngram_fraction(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r.dup_tokens <= r.n_tokens
        assert 0.0 <= r.dup_fraction <= 1.0


def test_bpe_merges_planted(spark, monkeypatch):
    """Greedy merge semantics on a corpus designed to exercise them:
    'abab' pairs (a,b) twice per occurrence but (b,a) only once, and the
    second round merges the new 'ab' symbol with itself."""
    from osm_poi_database_maker_spark.queries import text as T

    docs = spark.createDataFrame(
        # 'abab' x3 and 'ab' x1:
        #   step 1: (a,b) count 2*3+1 = 7 beats (b,a) count 3 -> merge 'ab'
        #   step 2: words are now [ab,ab] x3 and [ab] -> (ab,ab) count 3
        #   step 3: words are [abab] x3, [ab] -> no pairs... so plant 'cd'
        [
            (1, "abab abab abab ab cdcd", "en", "s", 22),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(T, "load_table", lambda spark_, sf_, name_: docs)
    got = {r.rk: (r.x, r.y, r.merged, r.pair_count) for r in
           T.q_doc_bpe_merges(spark, "x").collect()}
    assert got[1] == ("a", "b", "ab", 7)
    assert got[2] == ("ab", "ab", "abab", 3)
    # after merging abab, remaining pairs: (c,d) x2 in 'cdcd', (d,c) x1
    assert got[3] == ("c", "d", "cd", 2)


def test_dup_ngram_fraction_vs_bruteforce(spark, monkeypatch):
    """Differential check against an independent per-doc brute force:
    30 seeded random token streams from a 4-token alphabet (dense
    trigram repeats, heavy interval overlap)."""
    import random

    from osm_poi_database_maker_spark.queries import text as T

    rng = random.Random(42)
    docs, expected = [], {}
    for doc_id in range(30):
        n = rng.randint(3, 40)
        toks = [rng.choice("abcd") for _ in range(n)]
        grams = {}
        for i in range(n - 2):
            grams.setdefault(tuple(toks[i : i + 3]), []).append(i)
        covered = set()
        for positions in grams.values():
            if len(positions) >= 2:
                for p in positions:
                    covered.update(range(p, p + 3))
        docs.append((doc_id, " ".join(toks), "en", "s", len(toks)))
        expected[doc_id] = (n, len(covered), round(len(covered) / n, 4))
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(T, "load_table", lambda spark_, sf_, name_: df)
    got = {
        r.doc_id: (r.n_tokens, r.dup_tokens, r.dup_fraction)
        for r in T.q_doc_dup_ngram_fraction(spark, "x").collect()
    }
    assert got == expected


def test_hybrid_rrf_fusion_invariants(spark):
    """RRF invariants on the smoke fixture: the dense query vector's own
    doc holds cos_rank 1; every fused row has at least one source rank;
    scores equal 1/(60+lex) + 1/(60+cos) with 0 meaning absent; output
    is descending."""
    from osm_poi_database_maker_spark.queries import text as T
    from tests.conftest import SF_SMOKE

    rows = T.q_doc_hybrid_rrf(spark, SF_SMOKE).collect()
    assert len(rows) == T._RRF_TOPK
    by_id = {r.doc_id: r for r in rows}
    assert by_id[T._RRF_QVEC_ID].cos_rank == 1  # self-similarity tops dense
    for r in rows:
        assert r.lex_rank > 0 or r.cos_rank > 0
        expect = (1.0 / (T._RRF_K + r.lex_rank) if r.lex_rank else 0.0) + (
            1.0 / (T._RRF_K + r.cos_rank) if r.cos_rank else 0.0
        )
        assert abs(r.rrf_score - expect) < 1e-6, r
    scores = [r.rrf_score for r in rows]
    assert scores == sorted(scores, reverse=True)
    # fusion actually drew from BOTH sources
    assert any(r.lex_rank > 0 for r in rows) and any(r.cos_rank > 0 for r in rows)


def test_collapse_repeats_hand_computed(spark, monkeypatch):
    """Hand-checked run collapse: only CONSECUTIVE duplicates collapse
    (non-adjacent repeats survive), runs keep their first occurrence,
    and unchanged docs are not emitted."""
    from osm_poi_database_maker_spark.queries import text as T

    docs = spark.createDataFrame(
        [
            (1, "a a a b c c b", "en", "s", 13),
            (2, "x y x y", "en", "s", 7),  # no adjacent dupes -> absent
            (3, "z z", "en", "s", 3),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(T, "load_table", lambda s_, sf_, n_: docs)
    got = {r.doc_id: r for r in T.q_doc_collapse_repeats(spark, "x").collect()}
    assert set(got) == {1, 3}
    assert (got[1].n_tokens, got[1].n_after, got[1].n_removed) == (7, 4, 3)
    assert got[1].cleaned_prefix == "a b c b"
    assert (got[3].n_tokens, got[3].n_after) == (2, 1)
    assert got[3].cleaned_prefix == "z"


def test_mmr_rerank_demotes_near_duplicate(spark, monkeypatch):
    """MMR's reason to exist: a near-verbatim copy of the top hit must
    rank below a less-relevant but novel doc."""
    from osm_poi_database_maker_spark.queries import text as T

    tail = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lam mu nu xi omicron pi rho sigma tau upsilon "
        "phi chi psi omega one two three four five six"
    )
    base = "spark shuffle join " * 5 + tail  # rel 15
    dup = "spark shuffle join " * 4 + tail + " zz"  # rel 12, ~33 shared shingles
    novel = "spark q shuffle w cost rows stats scan"  # rel 2, disjoint shingles
    docs = spark.createDataFrame(
        [
            (1, base, "en", "s", 1),
            (2, dup, "en", "s", 1),  # rel just below doc 1, shingles shared
            (3, novel, "en", "s", 1),  # lower rel, disjoint shingles
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(T, "load_table", lambda spark_, sf_, name_: docs)
    got = [(r.rank, r.doc_id) for r in T.q_doc_mmr_rerank(spark, "x").collect()]
    order = [doc for _, doc in sorted(got)]
    assert order[0] == 1  # most relevant first
    assert order[1] == 3  # novelty beats the near-duplicate
    assert order[2] == 2


def test_phrase_search_counts_overlapping_occurrences(spark, monkeypatch):
    """Phrase occurrences are adjacent-position matches, counted with
    overlap ('b b b' contains 'b b' twice), and only the top-3 global
    bigrams are searched."""
    from osm_poi_database_maker_spark.queries import text as T

    rows = [
        (1, "b b b a c", "en", "s", 9),     # 'b b' x2
        (2, "a c a c a c x y", "en", "s", 15),  # 'a c' x3, 'c a' x2
        (3, "a c b b q q q q", "en", "s", 15),  # 'a c' + 'b b' + 'q q' x3
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(T, "load_table", lambda s_, sf_, n_: d)
    out = T.q_doc_phrase_search(spark, "x").collect()
    got = {(r.phrase, r.doc_id): r.n_matches for r in out}
    # global bigram counts: 'a c' 5 (doc1 1, doc2 3, doc3 1)... top-3 by
    # count then text: 'a c'(5), 'q q'(3), 'b b'(3) -> top3 = a c, b b, q q
    assert got == {
        ("a c", 1): 1, ("a c", 2): 3, ("a c", 3): 1,
        ("b b", 1): 2, ("b b", 3): 1,
        ("q q", 3): 3,
    }


def test_heaps_law_extremes(spark, monkeypatch):
    """Calibration: an all-novel corpus (every token unique) grows
    V = N exactly, so beta = 1, k = 1, r2 = 1; a fully-saturated corpus
    (every doc repeats doc 1's tokens) fits beta ~ 0 with the
    vocabulary endpoint stuck at the first doc's type count."""
    from osm_poi_database_maker_spark.queries import text as T

    def docs(rows):
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )

    novel = [(i, " ".join(f"u{i}_{j}" for j in range(10)), "en", "s", 0) for i in range(1, 9)]
    monkeypatch.setattr(T, "load_table", lambda s_, sf_, n_: docs(novel))
    r = T.q_doc_heaps_law(spark, "x").collect()[0]
    assert r.beta == 1.0 and r.k == 1.0 and r.r2 == 1.0
    assert r.n_tokens == 80 and r.vocabulary == 80

    flat = [(i, "a b c d e", "en", "s", 0) for i in range(1, 9)]
    monkeypatch.setattr(T, "load_table", lambda s_, sf_, n_: docs(flat))
    r2_ = T.q_doc_heaps_law(spark, "x").collect()[0]
    assert r2_.vocabulary == 5 and r2_.n_tokens == 40
    assert abs(r2_.beta) < 0.05


def test_mg_sketch_decrement_keeps_heavy_superset():
    """The Misra-Gries reduce step (subtract the (K+1)-th largest,
    drop non-positives) must keep every item with true count >
    N/(K+1) while holding ≤ K counters — exercised on a skewed stream
    whose vocabulary (200) far exceeds K (64), unlike the uniform
    fixture corpus."""
    import pandas as pd

    from osm_poi_database_maker_spark.queries import text as T

    # 3 heavy tokens (1500 each) + 197 light tokens (20 each): N = 8440,
    # N/(K+1) ≈ 130 — heavies must survive, and counters stay ≤ K
    stream = (
        ["heavy_a", "heavy_b", "heavy_c"] * 1500
        + [f"light_{i}" for i in range(197)] * 20
    )
    batches = [
        pd.DataFrame({"w": stream[i : i + 500]}) for i in range(0, len(stream), 500)
    ]
    out = list(T._mg_partition_sketch(iter(batches)))[0]
    assert len(out) <= T._MG_K
    assert {"heavy_a", "heavy_b", "heavy_c"} <= set(out["token"])
    # lower bounds never exceed true counts (MG only subtracts)
    lb = dict(zip(out["token"], out["lb"]))
    assert all(lb[t] <= 1500 for t in ("heavy_a", "heavy_b", "heavy_c"))


def test_doc_heavy_hitters_matches_exact(spark):
    """The sketch-then-verify output must equal the plain exact
    heavy-hitter aggregate (the oracle's GROUP BY/HAVING) on the
    fixture."""
    from pyspark.sql import functions as F

    from osm_poi_database_maker_spark.io import load_table
    from osm_poi_database_maker_spark.queries import text as T
    from tests.conftest import SF_SMOKE

    got = {
        (r["token"], r["n_occurrences"])
        for r in T.q_doc_heavy_hitters(spark, SF_SMOKE).collect()
    }
    toks = (
        load_table(spark, SF_SMOKE, "documents")
        .select(F.explode(F.split("text", " +")).alias("w"))
        .filter(F.col("w") != "")
    )
    n = toks.count()
    want = {
        (r["w"], r["c"])
        for r in toks.groupBy("w").agg(F.count("*").alias("c")).collect()
        if r["c"] * (T._MG_K + 1) > n
    }
    assert got == want and len(want) > 0
