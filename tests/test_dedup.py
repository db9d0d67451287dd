"""Dedup operator tests with planted near/exact duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm_poi_database_maker_spark.dedup import (
    exact_dedup,
    minhash_near_dups,
    simhash_near_dups,
    word_shingles,
)


def _docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from a warm sunny window sill nearby every single afternoon"
    )
    near = base.replace("warm sunny", "cold rainy")  # small mutation
    far = "completely different content about spark query engines and shuffles at scale"
    rows = [(1, base), (2, base), (3, near), (4, far)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_lowest_id(spark):
    d = _docs(spark)
    kept = sorted(r.doc_id for r in exact_dedup(d, ["text"], "doc_id").collect())
    assert kept == [1, 3, 4]


def test_minhash_finds_planted_near_dups(spark):
    pairs = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_near_dups(_docs(spark), threshold=0.3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # identical
    assert (1, 3) in pairs  # near duplicate
    assert not any(4 in p for p in pairs)  # unrelated doc never pairs


def test_simhash_banding_matches_bruteforce(spark):
    """The banded pipeline must return EXACTLY the brute-force pair set
    {hamming(fp_a, fp_b) <= 3} — pigeonhole losslessness verified
    end-to-end on planted data: identical docs (hamming 0), single-token
    mutations (small nonzero hamming), and unrelated content (far).
    Self-calibrating: the expected set is computed from the same
    simhash64 fingerprints, so it stays valid under hash-family
    changes."""
    from pyspark.sql import functions as F

    from osm_poi_database_maker_spark.dedup import simhash64

    base = " ".join(f"token{i:02d}" for i in range(80)) + " shared common words"
    rows = [(1, base), (2, base), (4, "completely different content about engines")]
    rows += [(100 + i, base.replace(f"token{i:02d}", f"mut{i}x")) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = {
        r.doc_id: r.sh & ((1 << 64) - 1)
        for r in df.select("doc_id", simhash64(F.col("text")).alias("sh")).collect()
    }
    ids = sorted(fp)
    expected = {
        (a, b): bin(fp[a] ^ fp[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(fp[a] ^ fp[b]).count("1") <= 3
    }
    got = {(r.doc_a, r.doc_b): r.hamming for r in simhash_near_dups(df).collect()}
    assert got == expected
    assert got[(1, 2)] == 0  # the identical pair is always in the set
    assert not any(4 in p for p in got)  # far content never pairs


def test_simhash_fingerprint_pipeline_matches_expression(spark):
    """The two-level exploded-bit aggregate (r14 opt: replaces the 64
    sum-aggregates whose generated update method exceeded HotSpot's
    8000-bytecode JIT ceiling) must produce fingerprints bit-identical
    to the per-row ``simhash64`` expression — including the count
    weighting of repeated tokens (Σ_occurrences ±1 == Σ_distinct
    cnt·(±1)) and the b=63 sign-bit mask (shiftleft(1L, 63) ==
    Long.MIN == _BIT_MASKS[63])."""
    from osm_poi_database_maker_spark.dedup import simhash64, simhash_fingerprints

    rows = [
        (1, "alpha beta gamma alpha alpha beta"),  # heavy repetition
        (2, "alpha beta gamma"),                    # same vocab, diff counts
        (3, "  leading  spaces   and gaps "),       # split('', ' +') edges
        (4, "one-token"),
        (5, ""),                                    # empty text
    ] + [(100 + i, f"word{i} " * (i + 1) + f"tail{i} mid{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    expr_fp = {
        r.doc_id: r.sh
        for r in df.select("doc_id", simhash64(F.col("text")).alias("sh")).collect()
    }
    pipe_fp = {r.id: r.sh for r in simhash_fingerprints(df).collect()}
    assert pipe_fp == expr_fp
    # the sign-bit path must actually be exercised: some fingerprint has
    # bit 63 set (reads negative as a signed long)
    assert any(v < 0 for v in pipe_fp.values())


def test_dedup_clusters_transitive(spark):
    from osm_poi_database_maker_spark.dedup import dedup_clusters

    # chain 1-2-3 (transitive: 1 and 3 never paired directly) + pair 7-9
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: (r.cluster_id, r.keep) for r in dedup_clusters(pairs).collect()}
    assert got == {
        1: (1, True),
        2: (1, False),
        3: (1, False),
        7: (7, True),
        9: (7, False),
    }


def test_dedup_clusters_raises_on_nonconvergence(spark):
    import pytest

    from osm_poi_database_maker_spark.dedup import dedup_clusters

    # a 12-node chain has diameter 11 > 2×max_iters reach with cap 2
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(chain, max_iters=2)
    # and converges fine with an adequate cap
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(chain, max_iters=15).collect()}
    assert set(got.values()) == {1}


def test_fingerprint_and_sample_edge_values(spark):
    from osm_poi_database_maker_spark.queries.text import (
        q_doc_fingerprint,
        q_doc_stratified_sample,
    )

    # NULL and empty text through the fingerprint UDF; huge doc_id
    # through the sample hash (would overflow a raw Knuth multiply)
    docs = spark.createDataFrame(
        [(1, None, "en", 0), (2, "", "en", 0), (4_000_000_000, "a b c", "en", 5)],
        "doc_id long, text string, lang string, n_chars int",
    )
    docs.createOrReplaceTempView("__edge_docs")
    from osm_poi_database_maker_spark.queries import text as T

    fake_loader = lambda spark_, sf_, name_: docs  # noqa: E731
    orig = T.load_table
    T.load_table = fake_loader
    try:
        fp = {r.doc_id: r.fingerprint for r in q_doc_fingerprint(spark, "x").collect()}
        assert fp[1] is None and fp[2] == 0 and fp[4_000_000_000] is not None
        samp = q_doc_stratified_sample(spark, "x").collect()
        assert all(0.0 <= r.sample_u < 1.0 for r in samp)
    finally:
        T.load_table = orig


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    sh = df.select(word_shingles(F.col("text"), 3).alias("s")).collect()[0].s
    assert sh == ["a b c", "b c d"]


def test_ngram_jaccard_hot_shingle_cap(spark, tmp_path):
    """A shingle planted in 60 docs (> NGRAM_DF_CAP=50) must not pair
    them — it is dropped from the shingle universe — while a genuine
    near-dup pair sharing rare shingles is still found."""
    from osm_poi_database_maker_spark.queries.dedup import (
        NGRAM_DF_CAP,
        q_doc_ngram_jaccard_pairs,
    )

    # 60 docs: shingles {(hot1 hot2 hot3), (hot2 hot3 xx{i})}. Pairwise
    # Jaccard via the hot shingle alone = 1/3 ≥ 0.25 → WITHOUT the cap
    # this emits C(60,2)=1770 pairs; with it, zero.
    rows = [(i, f"hot1 hot2 hot3 xx{i:03d}") for i in range(60)]
    # plus a rare-shingle near-dup pair: 5 shingles each, 4 shared
    rows += [(100, "p q r s t u v"), (101, "p q r s t u w")]
    assert len(rows) - 2 > NGRAM_DF_CAP
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in q_doc_ngram_jaccard_pairs(spark, str(tmp_path)).collect()
    }
    assert got == {(100, 101): 0.6667}


def test_dedup_survivors_consistent_with_clusters(spark):
    """Per-source totals reconcile with the corpus and the cluster
    decisions: every doc is counted once, survivors+removed==docs, and
    the removed total equals the number of non-representative cluster
    members."""
    from pyspark.sql import functions as F

    from osm_poi_database_maker_spark.io import load_table
    from osm_poi_database_maker_spark.queries.dedup import (
        q_doc_dedup_clusters,
        q_doc_dedup_survivors,
    )
    from tests.conftest import SF_SMOKE

    rows = q_doc_dedup_survivors(spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    assert sum(r.n_docs for r in rows) == d.count()
    assert all(r.n_survivors + r.n_removed == r.n_docs for r in rows)
    n_removed = sum(r.n_removed for r in rows)
    clusters = q_doc_dedup_clusters(spark, SF_SMOKE)
    assert n_removed == clusters.filter(~F.col("keep")).count()


def test_pagerank_star_graph(spark, monkeypatch):
    """On a star (1 hub, 3 leaves) the hub outranks the leaves; total
    mass stays 1 (the graph has no dangling nodes by construction)."""
    from pyspark.sql import functions as F

    from osm_poi_database_maker_spark.queries import dedup as D

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "doc_a long, doc_b long"
    ).withColumn("jaccard", F.lit(1.0))
    monkeypatch.setattr(
        D, "q_doc_ngram_jaccard_pairs", lambda spark_, sf_: pairs
    )
    got = {
        r.doc_id: r.pagerank for r in D.q_doc_graph_pagerank(spark, "x").collect()
    }
    assert set(got) == {1, 2, 3, 4}
    assert got[1] > max(got[2], got[3], got[4])
    assert got[2] == got[3] == got[4]
    assert abs(sum(got.values()) - 1.0) < 1e-4


@pytest.mark.parametrize(
    "change",
    [
        "untouched",
        "part_touched",
        "part_resized_mtime_kept",
        "part_added",
        "file_touched",
        "unstatable",
        "other_application",
    ],
)
def test_pairs_memo_tracks_fixture_version(spark, tmp_path, monkeypatch, change):
    """The near-dup pair set is memoized through io.session_memo under
    io.fixture_version: a second call on an untouched fixture is served
    from the memo; a rewritten, resized (old mtime restored) or added
    nested part, or a touched single-file fixture, is recomputed; a
    fixture that cannot be stat'ed is never memoized; and entries of
    another Spark application are never served."""
    import os
    from types import SimpleNamespace

    from osm_poi_database_maker_spark.queries import dedup as D

    sf = tmp_path / "sf"
    if change == "file_touched":
        part = sf / "documents.parquet"
    else:
        part = sf / "documents.parquet" / "day=1" / "part-0.parquet"
    part.parent.mkdir(parents=True)
    part.write_bytes(b"x" * 10)
    if change == "unstatable":
        sf = tmp_path / "missing"
    calls = []
    monkeypatch.setattr(
        D,
        "q_doc_ngram_jaccard_pairs",
        lambda s_, sf_: calls.append(sf_) or spark.range(1),
    )
    first = spark
    if change == "other_application":
        first = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="other"))

    D._ngram_pairs(first, str(sf))
    st = part.stat()
    if change in ("part_touched", "file_touched"):
        os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    elif change == "part_resized_mtime_kept":
        part.write_bytes(b"x" * 11)
        os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns))
    elif change == "part_added":
        (part.parent / "part-1.parquet").write_bytes(b"y")
    D._ngram_pairs(spark, str(sf))
    assert len(calls) == (1 if change == "untouched" else 2)


def test_substring_dedup_run_lengths(spark, tmp_path):
    """Anchor+diagonal-island exactness: longest shared token run and
    maximal-run count verified against hand-computed fixtures, including
    a run shared at DIFFERENT positions (diagonal offset), two disjoint
    runs in one pair, and a just-below-threshold (T-1) overlap."""
    from osm_poi_database_maker_spark.queries.dedup import q_doc_substring_dedup

    alpha = "a b c d e f g h i j"  # 10 tokens
    rows = [
        (1, alpha),
        # alpha embedded at offset 2 -> run of 10 on diagonal -2
        (2, "x y " + alpha + " z"),
        # two disjoint 8-token runs shared with doc 1: a..h and  c..j,
        # separated by unrelated tokens -> they sit on DIFFERENT
        # diagonals and must count as 2 maximal runs, max = 8
        (3, "a b c d e f g h STOP1 STOP2 c d e f g h i j"),
        # only 7 shared tokens (< T=8) with doc 1 -> no pair at all
        (4, "b c d e f g h QQ RR SS TT UU VV WW"),
        (5, "totally unrelated words only here nothing shared at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r.doc_a, r.doc_b): (r.max_run_tokens, r.n_runs)
        for r in q_doc_substring_dedup(spark, str(tmp_path)).collect()
    }
    assert got[(1, 2)] == (10, 1)
    assert got[(1, 3)] == (8, 2)
    assert (1, 4) not in got
    assert all(5 not in pair for pair in got)
    # docs 2 and 3 share the same runs as 1 and 3 (alpha is contiguous in 2)
    assert got[(2, 3)] == (8, 2)


def _doc_rows(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_winnowing_guarantee_and_short_doc(spark, monkeypatch):
    """The winnowing guarantee: any shared substring of length
    >= k + w - 1 = 8 chars yields at least one common fingerprint.
    A doc shorter than k + w - 1 (but >= k) still emits exactly one
    (truncated-window) fingerprint; a doc under k chars emits none."""
    from osm_poi_database_maker_spark.queries import dedup as D

    shared = "UNCOMMON-RUN-xyz123"  # 19 chars, well past the 8-char bound
    rows = [
        (1, "aaaa " + shared + " bbbb", "en", "s", 0),
        (2, "cccc dddd " + shared, "en", "s", 0),
        (3, "zzzzz", "en", "s", 0),   # 5 chars: single truncated window
        (4, "qq", "en", "s", 0),      # < k chars: no k-grams at all
    ]
    monkeypatch.setattr(D, "load_table", lambda s_, sf_, n_: _doc_rows(spark, rows))
    out = D.q_doc_winnow_fingerprints(spark, "x").collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[1] & by_doc[2], "shared 19-char run must share a fingerprint"
    assert len(by_doc[3]) == 1
    assert 4 not in by_doc
    # density: winnowing keeps far fewer fingerprints than k-gram count
    n_kgrams_1 = len(rows[0][1]) - 4
    assert len(by_doc[1]) < n_kgrams_1 / 2


def test_containment_is_directional(spark, monkeypatch):
    """A short doc whose shingles all appear in a long doc scores
    containment 1.0 inner->outer, while the reverse direction is the
    small fraction that falls below the 0.5 threshold and is dropped."""
    from osm_poi_database_maker_spark.queries import dedup as D

    words = [f"w{i}" for i in range(40)]
    long_text = " ".join(words)
    short_text = " ".join(words[10:15])  # 5 words => 3 shingles, all in long
    rows = [(1, long_text, "en", "s", 0), (2, short_text, "en", "s", 0)]
    monkeypatch.setattr(D, "load_table", lambda s_, sf_, n_: _doc_rows(spark, rows))
    out = {(r.doc_inner, r.doc_outer): r for r in D.q_doc_containment_pairs(spark, "x").collect()}
    assert set(out) == {(2, 1)}
    assert out[(2, 1)].containment == 1.0
    assert out[(2, 1)].shared == 3


def test_dedup_clusters_long_chain_converges_logarithmically(spark):
    """A 200-link chain (the worst-case shape verbatim replication
    produces) must converge well inside O(log n) rounds: max_iters=12
    would be hopeless for one-edge-per-round propagation (needs 199)
    but is ample with the pointer-jump shortcut."""
    from osm_poi_database_maker_spark.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "doc_a long, doc_b long"
    )
    out = dedup_clusters(pairs, max_iters=12).collect()
    assert len(out) == 201
    assert all(r.cluster_id == 0 for r in out)
    assert sum(r.keep for r in out) == 1


def test_ppjoin_is_lossless_and_length_filtered(spark, monkeypatch):
    """PPJoin must equal brute force at the threshold: a pair exactly AT
    t=0.5 survives even though the shared shingle is the globally
    HOTTEST one (it sits at the end of the frequency order and still
    reaches both prefixes — losslessness), a just-below pair drops, and
    a doc failing the length filter never pairs."""
    from osm_poi_database_maker_spark.queries import dedup as D

    # docs 1,2: 4 shingles each, sharing 'a b c'+'b c d' stream ->
    # craft via overlapping text. 1: a b c d e f (4 shingles
    # abc,bcd,cde,def); 2: a b c d x y (abc,bcd,cdx,dxy).
    # shared=2, union=6, J=0.3333 -> below 0.5, dropped.
    # docs 3,4: 3: p q r s (pqr,qrs); 4: p q r t (pqr,qrt).
    # shared=1, union=3, J=0.3333 dropped. Make an AT-threshold pair:
    # 5: m n o p q -> mno,nop,opq ; 6: m n o p z -> mno,nop,opz
    # shared=2, union=4, J=0.5 kept.
    # doc 7: tiny (1 shingle from 5's text) vs 5 (3 shingles):
    # length filter 3*0.5 > 1 prunes before any shingle join.
    rows = [
        (1, "a b c d e f", "en", "s", 0),
        (2, "a b c d x y", "en", "s", 0),
        (5, "m n o p q", "en", "s", 0),
        (6, "m n o p z", "en", "s", 0),
        (7, "m n o", "en", "s", 0),
    ]
    monkeypatch.setattr(D, "load_table", lambda s_, sf_, n_: _doc_rows(spark, rows))
    out = {(r.doc_a, r.doc_b): r for r in D.q_doc_ppjoin_pairs(spark, "x").collect()}
    assert set(out) == {(5, 6)}
    assert out[(5, 6)].shared == 2
    assert out[(5, 6)].jaccard == 0.5


def test_kcore_peels_tails_and_keeps_cliques(spark, monkeypatch):
    """2-core semantics on a planted graph: the triangle survives with
    within-core degree 2, a pendant attached to it peels in round 1
    WITHOUT dragging its anchor out, a 7-node path peels entirely from
    both ends inward (multi-round cascade), and an isolated edge dies
    immediately — all inside the fixed 8-round budget."""
    from pyspark.sql import functions as F

    from osm_poi_database_maker_spark.queries import dedup as D

    edges = [(1, 2), (1, 3), (2, 3), (3, 4)]          # triangle + pendant
    edges += [(30 + i, 31 + i) for i in range(6)]     # 7-node path
    edges += [(20, 21)]                               # isolated pair
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long").withColumn(
        "jaccard", F.lit(1.0)
    )
    monkeypatch.setattr(D, "q_doc_ngram_jaccard_pairs", lambda s_, sf_: pairs)
    out = {r.doc_id: r.core_deg for r in D.q_doc_graph_kcore(spark, "x").collect()}
    assert out == {1: 2, 2: 2, 3: 2}


def test_kcore_raises_when_the_peel_outlasts_its_rounds(spark, monkeypatch):
    """A 20-node path loses its two ends per round, so it needs 10 peel
    rounds — more than the 8-round bound the oracle unrolls. Returning
    the layer-8 survivors would agree with the oracle on a non-2-core,
    so the peel must raise instead."""
    import pytest
    from pyspark.sql import functions as F

    from osm_poi_database_maker_spark.queries import dedup as D

    assert D._KCORE_ROUNDS == 8
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(19)], "doc_a long, doc_b long"
    ).withColumn("jaccard", F.lit(1.0))
    monkeypatch.setattr(D, "q_doc_ngram_jaccard_pairs", lambda s_, sf_: pairs)
    with pytest.raises(RuntimeError, match="did not converge"):
        D.q_doc_graph_kcore(spark, "x")


def test_novelty_attributes_first_owner_by_doc_id(spark, monkeypatch):
    """An exact dup of an earlier doc scores novelty 0; the earlier doc
    keeps 1.0; a half-overlapping later doc scores its unique fraction;
    ownership follows doc_id order, not input order."""
    from osm_poi_database_maker_spark.queries import dedup as D

    a = "w1 w2 w3 w4 w5"              # 3 shingles, doc 1 owns them
    rows = [
        (5, a, "en", "s", 0),          # exact dup, HIGHER id -> novelty 0
        (1, a, "en", "s", 0),
        # doc 3: shares the w3 w4 w5 shingle, adds 2 of its own
        (3, "w3 w4 w5 x1 x2", "en", "s", 0),
    ]
    monkeypatch.setattr(D, "load_table", lambda s_, sf_, n_: _doc_rows(spark, rows))
    out = {r.doc_id: r for r in D.q_doc_ngram_novelty(spark, "x").collect()}
    assert out[1].novelty == 1.0 and out[1].n_shingles == 3
    assert out[5].novelty == 0.0
    assert out[3].n_shingles == 3 and out[3].n_novel == 2
    assert out[3].novelty == round(2 / 3, 4)
