"""Near-duplicate detection at scale: MinHash+LSH and SimHash.

All signature math is pure column expressions — no Python UDFs, no
ML-pipeline fitting step, fully deterministic. Both families hash with
the portable polynomial/Lehmer construction below (round 5), so both
whole pipelines — signatures, banding, bucket caps, thresholds — are
hash-gated against the DuckDB oracle. The LSH
banding turns O(n²) pair comparison into a shuffle on (band, bucket):

    shingles → 64 minhashes → B bands of R rows → bucket hash
    → self-join within buckets → signature-estimated Jaccard → threshold

Scale notes (the whole point of LSH):
* candidate generation is a groupBy/join on bucket keys whose cardinality
  is controlled by B and R — no cross join anywhere;
* hot buckets (degenerate content, e.g. empty docs) are capped with a
  per-bucket size limit before pairing, the standard guard against
  quadratic blowup inside a single bucket;
* signatures are fixed-width arrays (64×8 bytes), so shuffle volume per
  doc is constant regardless of document size.

Plan-shape notes (these matter more than the math):
* each shingle/token is string-hashed ONCE to a 64-bit long; the 64 hash
  functions are cheap long-hashes of (i, h) — not 64 string hashes;
* signatures are computed as explode + plain aggregates rather than
  ``transform``/``aggregate`` higher-order expressions: HOFs are
  interpreted per-element (no whole-stage codegen), while explode +
  groupBy is fully codegen'd and gets map-side partial aggregation, so
  the signature shuffle carries 64×8 bytes per doc regardless of size.
  MinHash keeps the single 64-min-aggregate groupBy (its generated
  update method is 3854 bytecodes — under HotSpot's 8000 JIT ceiling —
  and a bit-exploded two-level variant measured SLOWER steady-state);
  SimHash explodes the 64 bit indexes into rows and aggregates in two
  levels, because its 64 sum-of-CASE aggregates generated a
  9140-bytecode method that HotSpot refuses to JIT (see
  ``simhash_near_dups``);
* signatures are materialized behind a trailing ``repartition`` exchange
  that every consumer (both band-join sides, both verify-side rejoins)
  reads via ReuseExchange — the aggregation runs exactly once. Without
  the barrier, CollapseProject would inline the signature expression
  into each of the four consuming subtrees;
* the within-bucket self-join carries only (id, band, bucket) — 24 bytes
  a row; signatures are joined back by id for the verify step, instead of
  shipping two 512-byte arrays through the widest shuffle of the plan.

``minhash_signature`` and ``simhash64`` remain as single-row expression
variants of the same hash families (useful inside streaming foreachBatch
or per-row contexts); the ``*_near_dups`` pipelines use the aggregate
formulation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .ops.recursion import fixpoint, local_fixpoint, pair_graph

HASH_COUNT = 64
DEFAULT_BANDS = 16  # 16 bands × 4 rows: catches jaccard ≳ 0.3 reliably

_LONG_MAX = (1 << 63) - 1
# bit masks for a signed 64-bit long: 1<<b for b<63, sign bit as -(2^63)
_BIT_MASKS = [(1 << b) if b < 63 else -(1 << 63) for b in range(64)]


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a whitespace-tokenized text column."""
    toks = F.split(text, " +")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - k + 1, F.lit(1))),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(k)]
            ),
        )
    )


def _char_hp_step(a: Column, c: Column) -> Column:
    """One char step of the portable fold, carrying (h, p) where h is the
    polynomial hash so far and p = B^len so far (the composition
    multiplier). The empty-string pseudo-char (``split('', '')`` yields
    one ``''`` element) contributes ascii 0 to h — a no-op since h is 0
    at that point — and must multiply p by 1, not B, so the empty token
    composes as the identity (H=0, P=1), exactly as it contributes zero
    characters to the concatenated shingle."""
    return F.struct(
        ((a["h"] * _PORT_BASE + F.ascii(c)) % _PORT_M).alias("h"),
        (
            (a["p"] * F.when(c == "", F.lit(1)).otherwise(F.lit(_PORT_BASE)))
            % _PORT_M
        ).alias("p"),
    )


def shingle_hash_array(toks: Column) -> Column:
    """array<long> of portable 3-word-shingle hashes of a token array —
    value-identical to hashing each ``'w_i w_{i+1} w_{i+2}'`` string
    with :func:`portable_token_hash`, but each token is char-folded
    EXACTLY ONCE (optimization r14, guide §4.2: the char fold is an
    interpreted higher-order expression, and the string formulation
    re-folds every character ~3× through overlapping shingles plus
    pays concat_ws string building and a per-shingle re-split).

    Composition lemma for the polynomial hash: H(a ⧺ b) =
    (H(a)·B^len(b) + H(b)) mod M, so with per-token (H, P=B^len) the
    shingle hash is five multiply-add-mod steps (two of them appending
    the single space, H=32/P=31). All intermediates < M·M < 2^62 — no
    overflow. Docs with < 3 tokens yield an empty array (the ≥3-token
    gate, previously an explicit filter). The single ``aggregate``
    keeps a 2-token (h, p) window plus the output array as fold state;
    lambda variables bind evaluated values, so nothing is recomputed."""
    sp = F.lit(32).cast("long")  # ascii(' ')

    def step(acc: Column, w: Column) -> Column:
        return F.aggregate(
            F.split(w, ""),
            F.struct(F.lit(0).cast("long").alias("h"), F.lit(1).cast("long").alias("p")),
            _char_hp_step,
            lambda hp: F.struct(
                F.when(
                    F.size(acc["win"]) == 2,
                    F.concat(F.slice(acc["win"], 2, 1), F.array(hp)),
                )
                .otherwise(F.concat(acc["win"], F.array(hp)))
                .alias("win"),
                F.when(
                    F.size(acc["win"]) == 2,
                    F.concat(
                        acc["out"],
                        F.array(
                            (
                                (
                                    (
                                        (
                                            (
                                                (
                                                    F.element_at(acc["win"], 1)["h"]
                                                    * _PORT_BASE
                                                    + sp
                                                )
                                                % _PORT_M
                                            )
                                            * F.element_at(acc["win"], 2)["p"]
                                            + F.element_at(acc["win"], 2)["h"]
                                        )
                                        % _PORT_M
                                        * _PORT_BASE
                                        + sp
                                    )
                                    % _PORT_M
                                )
                                * hp["p"]
                                + hp["h"]
                            )
                            % _PORT_M
                        ),
                    ),
                )
                .otherwise(acc["out"])
                .alias("out"),
            ),
        )

    return F.aggregate(
        toks,
        F.struct(
            F.array().cast("array<struct<h:bigint,p:bigint>>").alias("win"),
            F.array().cast("array<bigint>").alias("out"),
        ),
        step,
        lambda acc: acc["out"],
    )


def distinct_shingle_hash_array(toks: Column) -> Column:
    """array<long> of portable 3-word-shingle hashes over the DISTINCT
    shingle STRINGS of a token array — value-identical to hashing each
    element of :func:`word_shingles` (which dedups the k-gram strings)
    with :func:`portable_token_hash`, but each token is char-folded
    exactly once (same composition lemma as :func:`shingle_hash_array`).

    The dedup must match string-level distinctness EXACTLY (the Bloom
    decontamination oracle counts distinct shingle strings, and the
    portable hash is only ~31 bits — intra-doc collisions of DIFFERENT
    strings are a real possibility at scale, so distinct-by-hash would
    silently shrink ``n_sh``). The fold therefore also carries the
    token strings and emits ``struct<s, h>`` pairs; ``array_distinct``
    over the structs equals distinct-by-``s`` because ``h`` is a pure
    function of ``s`` (equal strings can never carry different hashes,
    so no two structs share ``s`` and differ in ``h``), and the final
    ``transform`` projects the hashes of the distinct strings — the
    identical multiset the string formulation produced. The concat_ws
    per window is retained (string building is cheap); only the
    per-char interpreted re-fold (~3× per char, plus the per-shingle
    re-split) is eliminated."""
    sp = F.lit(32).cast("long")  # ascii(' ')

    def step(acc: Column, w: Column) -> Column:
        def finish(hp: Column) -> Column:
            entry = F.struct(
                hp["h"].alias("h"), hp["p"].alias("p"), w.alias("w")
            )
            w1, w2 = F.element_at(acc["win"], 1), F.element_at(acc["win"], 2)
            # H(w1 ⧺ ' ' ⧺ w2 ⧺ ' ' ⧺ w) by the composition lemma
            h12 = ((w1["h"] * _PORT_BASE + sp) % _PORT_M * w2["p"] + w2["h"]) % _PORT_M
            h123 = ((h12 * _PORT_BASE + sp) % _PORT_M * hp["p"] + hp["h"]) % _PORT_M
            shingle = F.struct(
                F.concat_ws(" ", w1["w"], w2["w"], w).alias("s"),
                h123.alias("h"),
            )
            full = F.size(acc["win"]) == 2
            return F.struct(
                F.when(full, F.concat(F.slice(acc["win"], 2, 1), F.array(entry)))
                .otherwise(F.concat(acc["win"], F.array(entry)))
                .alias("win"),
                F.when(full, F.concat(acc["out"], F.array(shingle)))
                .otherwise(acc["out"])
                .alias("out"),
            )

        return F.aggregate(
            F.split(w, ""),
            F.struct(F.lit(0).cast("long").alias("h"), F.lit(1).cast("long").alias("p")),
            _char_hp_step,
            finish,
        )

    folded = F.aggregate(
        toks,
        F.struct(
            F.array().cast("array<struct<h:bigint,p:bigint,w:string>>").alias("win"),
            F.array().cast("array<struct<s:string,h:bigint>>").alias("out"),
        ),
        step,
        lambda acc: acc["out"],
    )
    return F.transform(F.array_distinct(folded), lambda z: z["h"])


def minhash_signature(shingles: Column) -> Column:
    """64 independent minhashes in one pass: each shingle is char-hashed
    once (the portable polynomial family below), then hash_i =
    lehmer2(h0·64 + i) — cheap long arithmetic — and signature[i] = min
    over shingles, folded via ``aggregate``+``zip_with`` so the shingle
    array is traversed once. Portable: the DuckDB oracle recomputes the
    identical signatures, so MinHash output is hash-gated."""
    hashes = F.transform(shingles, portable_token_hash)
    init = F.array_repeat(F.lit(_LONG_MAX).cast("long"), HASH_COUNT)
    idx = F.sequence(F.lit(0), F.lit(HASH_COUNT - 1))
    return F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(idx, lambda i: _port_mix(h, i)),
            lambda a, b: F.least(a, b),
        ),
    )


def estimated_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """Fraction of matching signature positions ≈ Jaccard similarity."""
    matches = F.size(
        F.filter(F.zip_with(sig_a, sig_b, lambda a, b: a == b), lambda x: x)
    )
    return matches / F.size(sig_a)


def lsh_bands(sig: Column) -> Column:
    """array<struct<band,bucket>>: bucket = hash of the band's slice."""
    rows_per_band = HASH_COUNT // DEFAULT_BANDS
    return F.transform(
        F.sequence(F.lit(0), F.lit(DEFAULT_BANDS - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.xxhash64(
                F.concat_ws(",", F.slice(sig, b * rows_per_band + 1, rows_per_band))
            ).alias("bucket"),
        ),
    )


def _minhash_signatures(df: DataFrame) -> DataFrame:
    """(id, sig): the 64-minhash signature of every ``doc_id`` with at
    least one full shingle of its ``text`` — the one signature pipeline
    of :func:`minhash_near_dups` and :func:`minhash_cap_audit`, so both
    see the same banding equality classes."""
    # spread rows before the shingle explode (a small parquet file scans
    # as one partition); at scale this is one linear pass
    base = df.select(F.col("doc_id").alias("id"), F.col("text")).repartition(df.sparkSession.sparkContext.defaultParallelism)
    # signatures via explode + 64 plain min-aggregates: unlike a
    # transform/aggregate higher-order expression (interpreted, no
    # codegen), explode + groupBy stays inside whole-stage codegen and
    # gets map-side partial aggregation — the shuffle carries 64×8 bytes
    # per doc regardless of document size. Shingle hashes come from the
    # composed per-token fold (r14, see shingle_hash_array): same values
    # as hashing the shingle STRINGS, ~3× less interpreted char-folding.
    # array_distinct on the hash VALUES replaces the string-level
    # distinct — duplicates are harmless under min() anyway, the dedup
    # only trims the ×64 _port_mix work; docs with <3 tokens yield an
    # empty array, which explode drops (the former explicit filter).
    sh = base.select(
        "id",
        F.explode(
            F.array_distinct(shingle_hash_array(F.split(F.col("text"), " +")))
        ).alias("h"),
    )
    mins = [
        F.min(_port_mix(F.col("h"), F.lit(i).cast("long"))).alias(f"m{i}")
        for i in range(HASH_COUNT)
    ]
    return (
        sh.groupBy("id")
        .agg(*mins)
        .select("id", F.array(*[F.col(f"m{i}") for i in range(HASH_COUNT)]).alias("sig"))
    )


def minhash_near_dups(
    df: DataFrame,
    threshold: float = 0.3,
    max_bucket: int = 200,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup pairs (doc_a < doc_b, est_jaccard).

    HASH-GATED (round 5): signatures use the portable polynomial/Lehmer
    family (``portable_token_hash`` + ``_port_mix``), so the DuckDB
    oracle recomputes identical signatures, replays the same banding
    (string-joined band slices — Spark's bucket is the xxhash64 of that
    string, equality classes identical) and the same deterministic
    ``max_bucket`` cap, and applies the same est_jaccard threshold.
    Docs with fewer than 3 tokens are excluded (no full shingle — the
    same guard as the n-gram Jaccard operator), which also keeps the
    shingle construction exactly mirrorable in SQL.

    ``max_bucket`` caps pathological buckets (e.g. near-empty docs all
    hashing together) before the within-bucket self-join.
    """
    # trailing repartition = the one exchange all four consumers (two
    # band-join sides, two verify-side signature rejoins) read via
    # ReuseExchange, so the signature aggregation runs exactly once
    sigs = _minhash_signatures(df).repartition("id")

    buckets = sigs.select(
        "id", F.explode(lsh_bands(F.col("sig"))).alias("bb")
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    # cap hot buckets: deterministic keep-lowest-ids
    w_rank = F.row_number().over(Window.partitionBy("band", "bucket").orderBy("id"))
    buckets = buckets.withColumn("__r", w_rank).filter(F.col("__r") <= max_bucket).drop("__r")
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = sigs.select(F.col("id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("doc_b"), F.col("sig").alias("sig_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("est_jaccard", F.round(estimated_jaccard("sig_a", "sig_b"), 4))
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def minhash_cap_audit(df: DataFrame, max_bucket: int = 200) -> DataFrame:
    """Cap-health summary for the MinHash-LSH bucket cap (r13 verdict
    #3): one row —

    * ``n_buckets``          distinct (band, bucket) groups,
    * ``multi_buckets``      groups with ≥ 2 members (the ones that can
      emit candidates),
    * ``saturated_buckets``  groups whose size EXCEEDS ``max_bucket``
      (the cap binds there — rows past the cap are shaved before the
      within-bucket join),
    * ``max_bucket_size``    the largest group, and
    * ``capped_pair_delta``  Σ over saturated groups of C(size,2) −
      C(cap,2) — the exact count of within-bucket candidate pairs the
      cap removes (an upper bound on LOST pairs, since a shaved pair
      may still surface through another band).

    The r13 64×-twin-mass measurement found the cap-binding onset (15
    saturated buckets, 99.943% recall) only via an offline SCALE.md
    experiment; this makes cap health driver-observable at any scale.
    Same signature/banding pipeline as :func:`minhash_near_dups`
    (identical equality classes, identical ≥3-token gate), stopping at
    bucket sizes — no self-join, so the audit is cap-independent linear
    work: shingle explode → 64-min aggregate → band explode → two
    aggregations.
    """
    sizes = (
        _minhash_signatures(df)
        .select("id", F.explode(lsh_bands(F.col("sig"))).alias("bb"))
        .groupBy(F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
        .agg(F.count("*").alias("n"))
    )
    n = F.col("n")
    # C(c,2) via shiftright: c*(c-1) is even, so >>1 is exact integer
    # halving — no double rounding even when C(n,2) exceeds 2^53 (a
    # 10^9-row degenerate bucket at full scale)
    pairs = lambda c: F.shiftright(c * (c - F.lit(1)), 1)  # noqa: E731
    cap = F.lit(max_bucket).cast("long")
    return sizes.agg(
        F.count("*").alias("n_buckets"),
        F.sum((n >= 2).cast("long")).alias("multi_buckets"),
        F.sum((n > cap).cast("long")).alias("saturated_buckets"),
        F.max(n).alias("max_bucket_size"),
        F.sum(F.when(n > cap, pairs(n) - pairs(cap)).otherwise(F.lit(0)))
        .alias("capped_pair_delta"),
    )


# --------------------------------------------------------------------------
# SimHash — portable hash family
# --------------------------------------------------------------------------
#
# Both SimHash and MinHash are keyed on this PORTABLE hash family, so
# both whole operators are expressible in ANSI-ish SQL and hash-gated
# against the DuckDB oracle:
#
#   h0(token) = polynomial char-code hash, base 31, mod M = 2^31 − 1
#   sign(token, b) = +1 iff 2·lehmer2(h0·64 + b) < M else −1,
#     lehmer2(x) = ((x % M) · A % M) · A % M with A = 48271
#
# (the same Lehmer (A, M) pair the curation module's portable samplers
# use). All intermediates stay < 2^47, so 64-bit arithmetic is exact in
# both engines — no wraparound semantics to match. Each token is
# char-folded ONCE; the 64 per-bit hashes are cheap long arithmetic on h0.
_PORT_M = (1 << 31) - 1
_PORT_A = 48271
_PORT_BASE = 31


def portable_token_hash(tok: Column) -> Column:
    """Polynomial char-code hash of a string column into [0, 2^31−1) —
    byte-identical to the DuckDB fold
    ``list_reduce(list_prepend(0, list_transform(string_split(tok, ''),
    c -> ascii(c))), (a, c) -> (a*31 + c) % (2^31−1))`` (verified
    incl. the empty-string edge: both engines yield 0)."""
    return F.aggregate(
        F.split(tok, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * _PORT_BASE + F.ascii(c)) % _PORT_M,
    )


def _port_mix(h0: Column, i) -> Column:
    """i-th derived hash of a portable token/shingle hash:
    lehmer2(h0·64 + i) ∈ [0, M). The grouping
    ((x % M) * A % M) * A % M is mirrored character-for-character in
    the SQL oracles (left-assoc in both engines); all intermediates
    stay < 2^47. Shared by MinHash (signature i) and SimHash (bit i)."""
    x = h0 * HASH_COUNT + i
    return ((x % _PORT_M) * _PORT_A % _PORT_M) * _PORT_A % _PORT_M


def _port_bit_sign(h0: Column, b) -> Column:
    """±1 sign of SimHash bit ``b`` for a token's portable hash."""
    return F.when(_port_mix(h0, b) * 2 < _PORT_M, F.lit(1)).otherwise(F.lit(-1))


def simhash64(text: Column) -> Column:
    """64-bit SimHash over whitespace tokens: bit b of the output is the
    sign of Σ_tokens ±1, with the ±1 drawn from the portable hash family
    above (so fingerprints match the SQL oracle's bit for bit).

    Single-pass formulation: one ``aggregate`` over the token hashes folds
    a 64-wide array of per-bit sums (``zip_with`` against a constant bit-
    index array), then a second fold packs the signs into one long. Each
    token is char-hashed exactly once."""
    toks = F.split(text, " +")
    hashes = F.transform(toks, portable_token_hash)
    masks = F.array(*[F.lit(m).cast("long") for m in _BIT_MASKS])
    bit_idx = F.array(*[F.lit(b).cast("long") for b in range(HASH_COUNT)])
    sums = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), HASH_COUNT),
        lambda acc, h: F.zip_with(
            acc,
            bit_idx,
            lambda a, b: a + _port_bit_sign(h, b),
        ),
    )
    # positive sum → bit set; masks are disjoint so sum == bitwise OR
    # (the b=63 mask is -(2^63): adding it sets the sign bit of the long)
    return F.aggregate(
        F.zip_with(
            sums,
            masks,
            lambda s, m: F.when(s > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_fingerprints(df: DataFrame) -> DataFrame:
    """(id, sh): the 64-bit SimHash fingerprint of each ``doc_id``'s
    ``text`` — value-identical to ``simhash64(text)`` per row
    (pytest-pinned), but computed as a distributed aggregate pipeline
    instead of a per-row higher-order fold, so each token is char-hashed
    once per DISTINCT (doc, token) and the whole path stays inside
    whole-stage codegen with map-side partial aggregation."""
    base = df.select(F.col("doc_id").alias("id"), F.col("text")).repartition(df.sparkSession.sparkContext.defaultParallelism)
    # r14: fold each DISTINCT (id, token) once and weight by its count —
    # Σ_occurrences ±1 == Σ_distinct cnt·(±1) exactly, and the fixture-
    # typical ~2.3× token repetition means ~2.3× less interpreted char
    # folding and ×64 sign evaluation (guide §4.2). The (id, tok)
    # aggregation dedups map-side (a doc's tokens never span partitions),
    # so the added exchange carries only distinct tokens per doc.
    th = (
        base.select("id", F.explode(F.split(F.col("text"), " +")).alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count("*").alias("cnt"))
        .select("id", portable_token_hash(F.col("tok")).alias("th"), "cnt")
    )
    # r14 opt round 1: the former single groupBy(id) with 64 sum-aggregates
    # (one CASE + Lehmer mix per bit) generated a 9140-bytecode method —
    # above HotSpot's 8000-bytecode JIT ceiling (-XX:-DontCompileHugeMethods
    # default), so the per-row aggregate update ran INTERPRETED for the
    # life of the JVM, and the plan cost ~320 KB of Janino source per
    # session (CodegenMetrics). Exploding the 64 bit indexes into rows and
    # aggregating in two levels keeps whole-stage codegen + map-side
    # partial aggregation with tiny generated methods (max 457 bytecodes,
    # 19 KB source, all JIT-able): same-session interleaved A/B at sf0.1
    # reads 8.17 → 4.19 s median over 7 paired rounds, and the first run
    # (Janino compile included) drops 12.9 → 4.8 s. Values are identical:
    # s_b = Σ cnt·sign_b unchanged, and the per-bit masks are disjoint so
    # summing them == bitwise OR (b=63's mask is Long.MIN — in two's
    # complement shiftleft(1L, 63) IS that sign-bit mask, matching
    # _BIT_MASKS[63]). The (id, b) partial aggregate collapses to ≤ 64
    # rows per doc per partition before the exchange, so the added
    # shuffle carries ~24 bytes × 64 per doc — noise next to the token
    # explode above it.
    b = F.col("b")
    bits = th.select(
        "id",
        "th",
        "cnt",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(HASH_COUNT - 1).cast("long"))
        ).alias("b"),
    )
    sbb = bits.groupBy("id", "b").agg(
        F.sum(_port_bit_sign(F.col("th"), b) * F.col("cnt")).alias("s")
    )
    mask = F.expr("shiftleft(cast(1 as bigint), cast(b as int))")
    return sbb.groupBy("id").agg(
        F.sum(F.when(F.col("s") > 0, mask).otherwise(F.lit(0).cast("long"))).alias("sh")
    )


def simhash_near_dups(df: DataFrame, max_bucket: int = 200) -> DataFrame:
    """SimHash near-dup pairs via 4×16-bit band LSH + Hamming verify.

    Two 64-bit hashes within Hamming distance 3 must agree exactly on at
    least one of the 4 bands (pigeonhole), so banding loses nothing as
    candidate generation. The one semantic guard is ``max_bucket``: a
    degenerate band bucket (> max_bucket docs agreeing on 16 bits —
    boilerplate/empty/word-soup content) is truncated to its
    ``max_bucket`` lowest doc_ids before pairing, the standard LSH skew
    guard. The cap is deterministic and DOES bind on degenerate corpora
    (the synthetic fixture collides heavily), so the SQL oracle replays
    the identical banding + cap rather than brute force. The 8-byte
    signature is cheap enough to carry through the band join (unlike
    the MinHash array), so no verify-side rejoin is needed.
    """
    h = simhash_fingerprints(df)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("sh"), b * 16).bitwiseAND(F.lit(0xFFFF)).alias("bucket"),
            )
            for b in range(4)
        ]
    )
    banded = h.select("id", "sh", F.explode(bands).alias("bb")).select(
        "id", "sh", "bb.band", "bb.bucket"
    )
    w_rank = F.row_number().over(Window.partitionBy("band", "bucket").orderBy("id"))
    banded = banded.withColumn("__r", w_rank).filter(F.col("__r") <= max_bucket).drop("__r")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            hamming64(F.col("a.sh"), F.col("b.sh")).alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= 3)
    )


def dedup_clusters(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over near-dup pairs → dedup clusters.

    Input: (doc_a, doc_b) edges from any pair generator (n-gram Jaccard,
    MinHash, SimHash, embedding cosine). Output: (doc_id, cluster_id,
    keep) where cluster_id = min doc id reachable through the dup graph
    and keep marks the cluster representative — turning pairwise
    similarity into the actual KEEP/REMOVE decision a curation pipeline
    applies.

    Algorithm: min-label propagation WITH pointer jumping — each round
    every vertex takes the min of (its label, its neighbors' labels,
    and its LABEL'S label l(l(u))). Plain propagation walks one edge
    per round, O(diameter) rounds — a 10 000-link near-dup chain (the
    shape verbatim-replication growth produces) would need 10 000
    shuffles at scale. The l(l(u)) shortcut doubles the compression
    horizon every round, so convergence is O(log diameter): the
    200-node chain in tests converges in 7 rounds where propagation
    alone needs 199. Each round is two joins (neighbor min + pointer
    jump, both key-partitioned) + one aggregate; labels are always
    node ids inside the component (min() of reachable ids), so the
    jump join always finds its target row. The edge list is
    block-materialized once (localCheckpoint) so rounds don't recompute
    the pair generator. The rounds run on ``ops.recursion.fixpoint``:
    each round's ``__chg`` flag (some label dropped) is observed by the
    job that materialises the round, and ``max_iters`` is its round cap,
    so a non-converged run raises rather than returning bad labels.

    Below the broadcast bound (``ops.recursion.pair_graph``: at most
    ``autoBroadcastJoinThreshold // 16`` pairs, integer keys, no null
    end) the pairs are collected by one job and the same rounds run in
    numpy on the driver (``ops.recursion.local_fixpoint``: same round 0,
    same round rule, same cap and raise); the labels come back as a
    local frame, so the build runs that one job instead of a job per
    round."""
    graph = pair_graph(pairs)
    if graph is not None:
        return _clusters(_components(pairs.sparkSession, graph, max_iters))

    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )

    def step(labels: DataFrame) -> DataFrame:
        nbr = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("nbr_min"))
        )
        # pointer jump: l(l(u)) — follow the current label to ITS label;
        # every label is a reachable node id, so the lookup row exists
        jump = labels.select(
            F.col("doc_id").alias("__jn"), F.col("label").alias("jump_min")
        )
        cand = F.least(
            F.col("label"),
            F.coalesce("nbr_min", F.col("label")),
            F.coalesce("jump_min", F.col("label")),
        )
        # the changed flag rides along in the same joins that compute
        # the new label, so the convergence probe needs no extra join
        return (
            labels.join(nbr, "doc_id", "left")
            .join(jump, labels.label == F.col("__jn"), "left")
            .select(
                "doc_id",
                cand.alias("label"),
                (cand < F.col("label")).alias("__chg"),
            )
        )

    # round 0 folded into initialization: label = min(self, direct
    # neighbors) — saves one full propagation round (and its checkpoint)
    labels = fixpoint(
        edges.groupBy(F.col("src").alias("doc_id")).agg(
            F.least(F.col("src"), F.min("dst")).alias("label")
        ),
        step,
        [F.max(F.col("__chg").cast("int")).alias("changed")],
        lambda m: not m["changed"],
        max_iters,
        "dedup_clusters",
    )
    return _clusters(labels)


def _components(spark, graph, max_iters: int) -> DataFrame:
    """:func:`dedup_clusters`' rounds in numpy over ``graph`` (from
    ``ops.recursion.pair_graph``), on node indices, whose order is the
    ids' order: ``(doc_id, label)`` as a local frame in the key type."""
    import numpy as np
    import pyarrow as pa

    ids, s, t, key = graph
    # every node has an edge into it (the graph is symmetric), so each
    # node's in-edges are one non-empty run of the edges sorted by target
    order = np.argsort(t, kind="stable")
    nbr, at = s[order], np.searchsorted(t[order], np.arange(len(ids)))

    def step(label):
        cand = np.minimum(label, np.minimum.reduceat(label[nbr], at))
        cand = np.minimum(cand, label[label])
        return cand, {"changed": bool((cand < label).any())}

    label = local_fixpoint(
        np.minimum(np.arange(len(ids)), np.minimum.reduceat(nbr, at)),
        step,
        lambda m: not m["changed"],
        max_iters,
        "dedup_clusters",
    )
    return spark.createDataFrame(
        pa.table({"doc_id": ids, "label": ids[label]})
    ).select(F.col("doc_id").cast(key), F.col("label").cast(key))


def _clusters(labels: DataFrame) -> DataFrame:
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        (F.col("doc_id") == F.col("label")).alias("keep"),
    )


def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: keep the lowest id per distinct value of ``cols``."""
    w = Window.partitionBy(*cols).orderBy(id_col)
    return df.withColumn("__r", F.row_number().over(w)).filter(F.col("__r") == 1).drop("__r")
