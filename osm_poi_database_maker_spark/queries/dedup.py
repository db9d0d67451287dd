"""Deduplication operators over ``documents`` (engine [ext]).

Exact dedup (content-hash group-pick), n-gram Jaccard near-dup and
exact-substring dedup here; MinHash-LSH and SimHash live in
:mod:`osm_poi_database_maker_spark.dedup` (engine module). Both are
keyed on the portable polynomial/Lehmer hash family (round 5) and
fully hash-gated: the oracles recompute identical signatures and
replay the banding + deterministic bucket caps.

Scale notes:
* exact dedup groups on sha256(text) — a fixed-width shuffle key, never
  the full text;
* n-gram Jaccard joins docs on shared shingles — the classic
  explode→join→count formulation whose shuffle volume is bounded by
  shingle frequency (hot shingles would be dropped by a doc-frequency cap
  at real scale; see dedup module).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import fixture_version, load_table, session_memo
from ..ops.recursion import fixpoint, local_fixpoint, pair_graph


def q_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by content hash: keep the min doc_id per
    distinct text, report group size."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("text_hash", F.sha2(F.col("text"), 256))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


ORACLE_EXACT = """
SELECT sha256(text) AS text_hash,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
"""


NGRAM_DF_CAP = 50  # shingles in more docs than this are stopword-like noise


def _shingle_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared core of the shingle-overlap pair queries: distinct 3-word
    shingles per doc → df-capped universe → self-join on shingle hash →
    (doc_a, doc_b, shared, n_a, n_b) with doc_a < doc_b.

    The doc-frequency cap is the scale guard: the per-shingle self-join
    is quadratic in shingle frequency, so one boilerplate trigram shared
    by 1e5 docs would alone emit ~1e10 join rows. Capping df bounds the
    worst shingle's contribution at NGRAM_DF_CAP² rows — and hot
    shingles carry no near-dup signal anyway (they're the "the of the"
    band of the distribution). Sizes are computed over the same capped
    universe so the similarity stays a true set measure of the sets
    actually joined. The cap is deterministic and mirrored in the
    DuckDB oracles.
    """
    d = load_table(spark, sf_dir, "documents")
    # barrier: materialize the token array behind a shuffle. Without it,
    # CollapseProject inlines split() into every element_at reference in
    # the shingle lambda (3 re-splits per shingle position), and a small
    # parquet file scans as one partition, serializing the whole query.
    tok_df = d.select("doc_id", F.split(F.col("text"), " +").alias("t")).repartition(
        "doc_id"
    )
    t = F.col("t")
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(t, i),
                F.element_at(t, i + 1),
                F.element_at(t, i + 2),
            ),
        )
    )
    sh = (
        tok_df.filter(F.size(t) >= 3)
        # join on the shingle's 64-bit hash, not the string: an 8-byte
        # shuffle key instead of ~20-byte text (collision odds ~1e-9 at
        # this cardinality)
        .select("doc_id", F.explode(shingles).alias("shingle"))
        .select("doc_id", F.xxhash64("shingle").alias("h"))
        # partition on the self-join key: the doc-frequency groupBy, the
        # semi-join, and both self-join sides all reuse this one exchange
        .repartition("h")
    )
    # one df aggregation feeds both bounds through a SINGLE inner join
    # that carries df along (the h-partitioned exchange above is reused
    # by the groupBy, the join, and both self-join sides):
    # upper bound: hot (stopword-like) shingles are dropped from the
    # UNIVERSE — both the join and the per-doc sizes — bounding the
    # quadratic self-join at df² ≤ NGRAM_DF_CAP² rows per shingle
    dfs = sh.groupBy("h").agg(F.count("*").alias("df"))
    capped = sh.join(dfs.filter(F.col("df") <= NGRAM_DF_CAP), "h")
    sizes = capped.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    # lower bound: singleton shingles (the vast majority) can never
    # produce a pair — prune them before the self-join; doesn't change
    # the result, shrinks the join input by ~10x. df rides the capped
    # join, so this is a filter, not a second join.
    nonsingleton = capped.filter(F.col("df") >= 2).select("doc_id", "h")
    a = nonsingleton.alias("a")
    b = nonsingleton.alias("b")
    pairs = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return pairs.join(sa, "doc_a").join(sb, "doc_b")


def q_doc_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by 3-word-shingle Jaccard ≥ 0.25 over the
    df-capped shingle universe (see ``_shingle_pair_stats`` for the
    pipeline and its scale bounds). doc_a < doc_b keeps each pair once."""
    return (
        _shingle_pair_stats(spark, sf_dir)
        .withColumn(
            "jaccard",
            F.round(F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 4),
        )
        .filter(F.col("jaccard") >= 0.25)
        .select("doc_a", "doc_b", "shared", "jaccard")
    )


_CURVE_TAUS = (0.25, 0.30, 0.40, 0.50, 0.60, 0.70, 0.80, 0.90)


def q_doc_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold-tuning curve: for each candidate Jaccard cutoff
    τ, the pair count, the would-be-dropped doc count (keep-min rule:
    a doc drops when any LOWER-id doc is ≥ τ similar), and the corpus
    keep-rate — the sweep every dedup rollout runs BEFORE committing
    to a threshold, answering "how much corpus does each notch cost".
    One pass: the (already ≥ 0.25) pair table is ~|near-dup pairs|
    rows; each pair explodes onto the thresholds it clears (≤ 8), so
    the sweep costs 8 tiny aggregates over pairs — the raw corpus is
    touched only for the denominator count. Cutoffs compare against
    the ROUNDED jaccard both engines already agree on."""
    pairs = _ngram_pairs(spark, sf_dir).select("doc_b", "jaccard")
    taus = F.array(*[F.lit(t) for t in _CURVE_TAUS])
    hits = pairs.select(
        "doc_b", "jaccard", F.explode(taus).alias("tau")
    ).filter(F.col("jaccard") >= F.col("tau"))
    per_tau = hits.groupBy("tau").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("doc_b").alias("n_dropped"),
    )
    total = (
        load_table(spark, sf_dir, "documents")
        .groupBy()
        .agg(F.count("*").alias("n_docs"))
    )
    return (
        per_tau.crossJoin(F.broadcast(total))
        .select(
            F.round("tau", 2).alias("tau"),
            "n_pairs",
            "n_dropped",
            F.round(1.0 - F.col("n_dropped") / F.col("n_docs"), 4).alias(
                "keep_rate"
            ),
        )
    )


# ORACLE_DEDUP_CURVE is defined below ORACLE_NGRAM (it embeds it).


CONTAINMENT_MIN = 0.5


def q_doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional near-containment: containment(inner → outer) =
    |shingles(inner) ∩ shingles(outer)| / |shingles(inner)| ≥ 0.5.

    Jaccard under-scores a short document swallowed by a long one (the
    union is dominated by the long side), which is exactly the quote /
    boilerplate-wrapper / excerpt case an LLM dedup pass needs; the
    asymmetric measure normalizes by the INNER side only. Same df-capped
    shingle machinery as the Jaccard query, so the self-join bound is
    unchanged; each undirected pair is expanded to its two directions
    ARRAY-side (explode of a 2-struct literal — no second join or union
    re-scan of the pair table) and filtered per direction.
    """
    stats = _shingle_pair_stats(spark, sf_dir)
    both = F.explode(
        F.array(
            F.struct(
                F.col("doc_a").alias("doc_inner"),
                F.col("doc_b").alias("doc_outer"),
                F.round(F.col("shared") / F.col("n_a"), 4).alias("containment"),
            ),
            F.struct(
                F.col("doc_b").alias("doc_inner"),
                F.col("doc_a").alias("doc_outer"),
                F.round(F.col("shared") / F.col("n_b"), 4).alias("containment"),
            ),
        )
    )
    return (
        stats.select(F.col("shared"), both.alias("d"))
        .select("d.doc_inner", "d.doc_outer", "shared", "d.containment")
        .filter(F.col("containment") >= CONTAINMENT_MIN)
    )


_SHINGLE_STATS_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents
  WHERE len(string_split_regex(text, ' +')) >= 3
),
sh_all AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS shingle
    FROM (SELECT doc_id, t, unnest(range(len(t) - 2)) AS i FROM toks)
  )
),
dfs AS (SELECT shingle, count(*) AS df FROM sh_all GROUP BY 1),
sh AS (  -- df-capped shingle universe, mirroring NGRAM_DF_CAP = 50
  SELECT s.doc_id, s.shingle FROM sh_all s
  JOIN dfs ON dfs.shingle = s.shingle AND dfs.df <= 50
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
"""


ORACLE_CONTAINMENT = _SHINGLE_STATS_SQL + """
SELECT doc_inner, doc_outer, shared, containment FROM (
  SELECT doc_a AS doc_inner, doc_b AS doc_outer, shared,
         round(CAST(shared AS DOUBLE) / sa.n_sh, 4) AS containment
  FROM pairs JOIN sizes sa ON sa.doc_id = doc_a
  UNION ALL
  SELECT doc_b AS doc_inner, doc_a AS doc_outer, shared,
         round(CAST(shared AS DOUBLE) / sb.n_sh, 4) AS containment
  FROM pairs JOIN sizes sb ON sb.doc_id = doc_b
)
WHERE containment >= 0.5
"""


ORACLE_NGRAM = """
WITH toks AS (
  SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents
  WHERE len(string_split_regex(text, ' +')) >= 3
),
sh_all AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS shingle
    FROM (SELECT doc_id, t, unnest(range(len(t) - 2)) AS i FROM toks)
  )
),
dfs AS (SELECT shingle, count(*) AS df FROM sh_all GROUP BY 1),
sh AS (  -- df-capped shingle universe, mirroring NGRAM_DF_CAP = 50
  SELECT s.doc_id, s.shingle FROM sh_all s
  JOIN dfs ON dfs.shingle = s.shingle AND dfs.df <= 50
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared,
       round(CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared), 4) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared), 4) >= 0.25
"""


ORACLE_DEDUP_CURVE = f"""
WITH pairs AS ({ORACLE_NGRAM}),
taus AS (  -- CAST: DuckDB types bare 0.3 as DECIMAL(3,2), which compares
           -- exactly against 0.30 while Spark's double literal is
           -- 0.2999…988 — boundary pairs would diverge
  SELECT CAST(unnest([{", ".join(str(t) for t in _CURVE_TAUS)}]) AS DOUBLE)
    AS tau
),
hits AS (
  SELECT t.tau, p.doc_b, p.jaccard
  FROM pairs p JOIN taus t ON p.jaccard >= t.tau
),
total AS (SELECT count(*) AS n_docs FROM documents)
SELECT round(tau, 2) AS tau,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT doc_b) AS BIGINT) AS n_dropped,
       round(1.0 - count(DISTINCT doc_b)
             / CAST((SELECT n_docs FROM total) AS DOUBLE), 4) AS keep_rate
FROM hits
GROUP BY tau
"""


PPJOIN_T = 0.5
# Integer-rational form of PPJOIN_T: all prefix/length bounds are computed
# with exact integer arithmetic (n - ceil_div(n*NUM, DEN) + 1) so a float
# artifact like 0.1*30 = 3.0000000000000004 can never shorten the prefix
# and void the lossless-candidate guarantee. Keep NUM/DEN == PPJOIN_T.
PPJOIN_T_NUM = 1
PPJOIN_T_DEN = 2
assert PPJOIN_T_NUM / PPJOIN_T_DEN == PPJOIN_T


def q_doc_ppjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity join with LOSSLESS prefix filtering (the
    PPJoin/AllPairs candidate rule, Xiao et al. WWW'08 / Bayardo et al.
    WWW'07): pairs of documents whose 3-word-shingle Jaccard is ≥ 0.5,
    with NO df cap and NO probabilistic bands — the exact complement to
    the capped ``doc_ngram_jaccard_pairs`` and the approximate
    MinHash/SimHash/SRP family.

    Prefix-filter lemma: order the shingle universe by ascending
    document frequency (rarest first; ties by 64-bit hash — a total
    order), and take each document's first ``n - ceil(t*n) + 1``
    shingles. If J(x, y) ≥ t the two prefixes MUST share a shingle, so
    joining only on prefix shingles loses nothing. Candidates are then
    verified with the exact intersection. The prefix length is computed
    with exact integer arithmetic (n − ceil_div(n·T_NUM, T_DEN) + 1),
    never float ceil, so no threshold choice can shorten the prefix by
    a rounding artifact. Collision caveat: the engine keys shingles on
    xxhash64 while the oracle compares raw strings — a 64-bit collision
    would merge two distinct shingles engine-side only (P ≈ n²/2⁶⁵;
    immaterial at any gate SF, and at 100 TB it perturbs a candidate
    set that exact verification re-checks anyway).

    100 TB shape: the self-join explodes only the PREFIX (at t=0.5 about
    half of each doc's shingles, at t=0.9 a tenth), and a globally HOT
    shingle sits at the END of the frequency order, so it enters almost
    no prefixes — the candidate volume is bounded by the df of the RARE
    shingles, which is what makes the join feasible without the df cap
    the plain shingle join needs. One df aggregation feeds the ordering;
    the verify step is a per-candidate ``array_intersect`` over the two
    ~doc-length hash arrays, never a second explode. Reference parity:
    the engine joins on 64-bit shingle hashes (8-byte shuffle keys); the
    oracle brute-forces the same threshold over shingle strings —
    equality certifies the pruning is lossless.

    Duplicate-mass caveat (measured, SCALE.md §16x-growth): verify cost
    is Θ(candidates) and candidates are Θ(true pairs), so a corpus with
    heavy VERBATIM duplication pays dup² verify work by contract —
    1037 s at 16× twin mass vs 5.5 s at 1× on the same base corpus.
    :func:`ppjoin_pairs_collapsed` is the scale path for that regime
    (collapse exact twins → join representatives → expand), identical
    output with verify cost independent of duplicate mass — registered
    since r13 as ``doc_ppjoin_collapsed`` (same oracle, since the row
    sets are pinned identical). This query keeps the direct plan: it
    is the lossless baseline the collapsed variant is certified
    against, and the regime where the direct plan wins (no twin mass,
    e.g. after upstream exact dedup) is the curation pipeline's."""
    return ppjoin_pairs(load_table(spark, sf_dir, "documents"))


def ppjoin_pairs(d: DataFrame) -> DataFrame:
    """The PPJoin engine over any (doc_id, text, ...) frame — see
    :func:`q_doc_ppjoin_pairs` for the algorithm and guarantees."""
    tok_df = d.select("doc_id", F.split(F.col("text"), " +").alias("t")).repartition(
        "doc_id"
    )
    t = F.col("t")
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(t, i),
                F.element_at(t, i + 1),
                F.element_at(t, i + 2),
            ),
        )
    )
    sh = (
        tok_df.filter(F.size(t) >= 3)
        .select("doc_id", F.explode(shingles).alias("shingle"))
        .select("doc_id", F.xxhash64("shingle").alias("h"))
        .repartition("h")
    )
    dfs = sh.groupBy("h").agg(F.count("*").alias("df"))
    # (df, h) is a deterministic TOTAL order on the shingle universe —
    # no global row_number pass needed, the pair sorts identically on
    # every executor
    docs = (
        sh.join(dfs, "h")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("df", "h"))), lambda s: s["h"]
            ).alias("hs"),
            F.count("*").alias("n"),
        )
        .withColumn(
            "plen",
            F.expr(
                f"cast(n - ((n * {PPJOIN_T_NUM} + {PPJOIN_T_DEN} - 1)"
                f" div {PPJOIN_T_DEN}) + 1 as int)"
            ),
        )
    )
    prefix = docs.select(
        "doc_id", "n", F.explode(F.expr("slice(hs, 1, plen)")).alias("h")
    )
    a = prefix.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"), "h")
    b = prefix.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"), "h")
    cand = (
        a.join(b, "h")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            # length filter: J >= t forces t*max(|x|,|y|) <= min(|x|,|y|);
            # exact integer form of n_a*t <= n_b (cross-multiplied)
            & (F.col("n_a") * PPJOIN_T_NUM <= F.col("n_b") * PPJOIN_T_DEN)
            & (F.col("n_b") * PPJOIN_T_NUM <= F.col("n_a") * PPJOIN_T_DEN)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    ha = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"), F.col("n").alias("n_a")
    )
    hb = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"), F.col("n").alias("n_b")
    )
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .withColumn("shared", F.size(F.array_intersect("hs_a", "hs_b")).cast("long"))
        .withColumn(
            "jaccard",
            F.round(F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 4),
        )
        .filter(F.col("jaccard") >= PPJOIN_T)
        .select("doc_a", "doc_b", "shared", "jaccard")
    )


def ppjoin_pairs_collapsed(d: DataFrame) -> DataFrame:
    """Duplicate-mass-proof PPJoin: collapse VERBATIM duplicates first
    (group by text hash, keep the min-id representative), run the exact
    prefix-filtered join on representatives only, then expand rep pairs
    back to member pairs — identical output to :func:`ppjoin_pairs`
    (verbatim twins have identical shingle sets, so every member pair
    inherits its rep pair's exact shared/jaccard, and within-cluster
    pairs are jaccard 1.0 by definition), but the verify stage touches
    only UNIQUE texts: its cost is flat in duplicate mass instead of
    Θ(dup²). Measured at 16× twin mass (SCALE.md §16x-growth): the
    direct join's 80 M candidate verifies collapse to the 1× volume
    (~310 K) plus an output-sized expansion, which is owed.

    The expansion joins are equi-joins on cluster keys with fan-out
    exactly the owed output size; within-cluster pairs respect the
    ≥3-token shingle-set precondition the direct path applies (twin
    pairs of shingle-free docs emit nothing there too). Same xxhash64
    collision caveat as the shingle keys (P ≈ n²/2⁶⁵, and a collision
    only merges two texts whose pairs exact verification would
    re-separate in the direct path — the one semantic divergence,
    immaterial at corpus scale)."""
    keyed = d.select("doc_id", "text", F.xxhash64("text").alias("k"))
    clusters = keyed.groupBy("k").agg(
        F.min("doc_id").alias("rep_id"),
        F.min("text").alias("rep_text"),
        F.count("*").alias("m"),
    )
    reps = clusters.select(
        F.col("rep_id").alias("doc_id"), F.col("rep_text").alias("text")
    )
    rp = ppjoin_pairs(reps)
    members = keyed.select("k", "doc_id")
    # cross-cluster: every member pair inherits the rep pair's verdict
    ka = clusters.select(F.col("rep_id").alias("doc_a"), F.col("k").alias("ka"))
    kb = clusters.select(F.col("rep_id").alias("doc_b"), F.col("k").alias("kb"))
    cross = (
        rp.join(ka, "doc_a")
        .join(kb, "doc_b")
        .join(members.select(F.col("k").alias("ka"), F.col("doc_id").alias("a_id")), "ka")
        .join(members.select(F.col("k").alias("kb"), F.col("doc_id").alias("b_id")), "kb")
        .select(
            F.least("a_id", "b_id").alias("doc_a"),
            F.greatest("a_id", "b_id").alias("doc_b"),
            "shared",
            "jaccard",
        )
    )
    # within-cluster: C(m, 2) exact-twin pairs at jaccard 1.0, gated on
    # the same ≥3-token precondition; shared = the rep's distinct
    # shingle count, counted over xxhash64(shingle) VALUES — the exact
    # key space the direct path's array_intersect counts — so an
    # intra-doc 64-bit shingle collision perturbs `shared` identically
    # in both paths. Residual (~2^-64) asymmetry: the direct path's
    # n_a/n_b still count distinct shingle STRINGS, so under such a
    # collision the direct jaccard dips below the collapsed path's
    # literal 1.0 (possibly below the threshold). Accepted: equalizing
    # n would mean hashing every non-twin doc's shingles twice, and the
    # twins' row-identity pins run on collision-free fixtures.
    t = F.split(F.col("rep_text"), " +")
    n_sh = F.size(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 2),
                lambda i: F.xxhash64(
                    F.concat_ws(
                        " ",
                        F.element_at(t, i),
                        F.element_at(t, i + 1),
                        F.element_at(t, i + 2),
                    )
                ),
            )
        )
    )
    dup_clusters = clusters.filter(
        (F.col("m") >= 2) & (F.size(F.split(F.col("rep_text"), " +")) >= 3)
    ).select("k", n_sh.cast("long").alias("n_sh"))
    ma = members.select("k", F.col("doc_id").alias("doc_a"))
    mb = members.select("k", F.col("doc_id").alias("doc_b"))
    within = (
        dup_clusters.join(ma, "k")
        .join(mb, "k")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.col("n_sh").alias("shared"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


def q_doc_ppjoin_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered surface for :func:`ppjoin_pairs_collapsed` — the
    duplicate-mass-proof PPJoin (collapse verbatim twins → exact
    prefix-filtered join on unique texts → expand back). OUTPUT
    CONTRACT: the exact row set of :func:`q_doc_ppjoin_pairs`
    (pytest-pinned equality, tests/test_r12_queries.py), so
    ``ORACLE_PPJOIN`` applies verbatim; what changes is the COST
    SHAPE — verify work rides unique-text volume, not duplicate mass
    (measured 86× faster at 16× twin mass, SCALE.md §16x-growth).
    This is the ordering a raw ingest should run when exact dedup has
    NOT already removed verbatim twins upstream; reference parity is
    the same near-dup contract as ``doc_ppjoin_pairs``
    (SURVEY §2 dedup family)."""
    return ppjoin_pairs_collapsed(load_table(spark, sf_dir, "documents"))


ORACLE_PPJOIN = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents
  WHERE len(string_split_regex(text, ' +')) >= 3
),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS shingle
    FROM (SELECT doc_id, t, unnest(range(len(t) - 2)) AS i FROM toks)
  )
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared,
       round(CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared), 4) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared), 4) >= {PPJOIN_T}
"""


_WINNOW_K = 5  # char k-gram width
_WINNOW_W = 4  # winnowing window: one fingerprint per w consecutive k-grams
_WINNOW_MOD = 1_000_000_007


def q_doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS local-fingerprint
    scheme, Schleimer/Wilkerson/Aiken SIGMOD'03): hash every 5-char
    k-gram with the repo's portable base-31 polynomial (the same
    char-hash convention the whole-document ``doc_fingerprint`` uses),
    then keep the minimum hash of every window of 4 consecutive k-grams
    and emit the distinct mins per document.

    Winnowing guarantees any shared substring of length ≥ k + w − 1
    (= 8 chars) produces at least one common fingerprint, while keeping
    only ~2/(w+1) of all k-gram hashes — the *local* fingerprint family
    that whole-doc hashing (exact dedup) and bag-of-shingles (Jaccard)
    both miss, and the index a plagiarism / clone-detector joins on.

    Plan: the codepoint array is materialized behind one round-robin
    repartition (spread across slots AND a CollapseProject barrier —
    the k-gram lambda references it 5×, and inlining would re-split the
    text per reference); the per-position hashes then flow through ONE
    posexplode and a doc_id-partitioned running-min window frame
    (ROWS CURRENT..w−1 FOLLOWING) — per-doc-linear work, two exchanges
    total, no per-window array slicing (array-side window mins would
    re-evaluate the O(n) hash array once per window under
    CollapseProject). Tail windows shorter than w are excluded
    (pos ≤ max(nk − w + 1, 1)) except for docs with fewer than w
    k-grams, which contribute their single truncated window.
    """
    n = spark.sparkContext.defaultParallelism
    d = load_table(spark, sf_dir, "documents")
    codes = F.transform(
        F.filter(F.split(F.col("text"), ""), lambda c: c != F.lit("")),
        lambda c: F.ascii(c).cast("long"),
    )
    base = (
        d.filter(F.length("text") >= _WINNOW_K)
        .select("doc_id", codes.alias("cs"))
        .repartition(n)
    )
    cs = F.col("cs")
    kgram_hashes = F.transform(
        F.sequence(F.lit(1), F.size(cs) - (_WINNOW_K - 1)),
        lambda i: (
            F.element_at(cs, i) * 923521  # 31^4
            + F.element_at(cs, i + 1) * 29791  # 31^3
            + F.element_at(cs, i + 2) * 961  # 31^2
            + F.element_at(cs, i + 3) * 31
            + F.element_at(cs, i + 4)
        )
        % F.lit(_WINNOW_MOD),
    )
    rows = base.select(
        "doc_id",
        (F.size(cs) - (_WINNOW_K - 1)).alias("nk"),
        F.posexplode(kgram_hashes).alias("pos0", "h"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos0").rowsBetween(0, _WINNOW_W - 1)
    return (
        rows.withColumn("fingerprint", F.min("h").over(w))
        .filter(
            F.col("pos0") + 1
            <= F.greatest(F.col("nk") - (_WINNOW_W - 1), F.lit(1))
        )
        .select("doc_id", "fingerprint")
        .distinct()
    )


ORACLE_WINNOW = """
WITH codes AS (
  SELECT doc_id,
         list_transform(list_filter(string_split(text, ''), c -> c <> ''),
                        c -> ascii(c)::BIGINT) AS cs
  FROM documents
),
kh AS (
  SELECT doc_id, len(cs) - 4 AS nk,
         unnest(list_transform(range(1, len(cs) - 3), i ->
           {'pos': i,
            'h': (cs[i] * 923521 + cs[i + 1] * 29791 + cs[i + 2] * 961
                  + cs[i + 3] * 31 + cs[i + 4]) % 1000000007})) AS u
  FROM codes
  WHERE len(cs) >= 5
)
SELECT DISTINCT doc_id, fingerprint FROM (
  SELECT doc_id, u.pos AS pos, nk,
         min(u.h) OVER (PARTITION BY doc_id ORDER BY u.pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint
  FROM kh
)
WHERE pos <= greatest(nk - 3, 1)
"""


_SUBSTR_T = 8  # anchor width: report shared runs of >= T tokens
_SUBSTR_DF_CAP = 50


def q_doc_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring corpus dedup (the Lee et al. 2022 "Deduplicating
    Training Data" modality): for every document pair sharing a verbatim
    run of ≥ T=8 tokens, the length of their LONGEST shared token run
    and how many distinct maximal runs they share. Corpus-internal (all
    pairs), unlike doc_longest_eval_overlap's train-vs-eval direction.

    The suffix-array algorithm the paper uses is a single-machine
    construction; the distributed-exact equivalent here is anchor
    k-grams + diagonal islands: a shared run of length R ≥ T contains
    exactly R−T+1 consecutive anchor T-grams on one alignment diagonal
    (ia − ib), and conversely s consecutive matching anchors imply a
    shared run of T+s−1 tokens — so "longest shared run" = T − 1 + the
    longest per-(pair, diagonal) island of consecutive matching anchor
    positions, computed with joins + a gaps-and-islands window only.

    Scale shape: one token-array materialization behind a doc_id
    exchange (the CollapseProject re-split barrier, as ngram_jaccard);
    anchors join on their 64-bit hash — an 8-byte shuffle key — with the
    per-gram self-join fan-out bounded by the df ≤ 50 gram cap
    (boilerplate grams carry no dedup signal; runs passing exclusively
    through capped grams are not reported — the same deterministic
    guard as NGRAM_DF_CAP, mirrored in the oracle). The islands window
    partitions by (pair, diagonal) — group size is bounded by document
    length, never corpus size.
    """
    d = load_table(spark, sf_dir, "documents")
    tok_df = d.select("doc_id", F.split(F.col("text"), " +").alias("t")).repartition(
        "doc_id"
    )
    t = F.col("t")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - _SUBSTR_T + 1),
        lambda i: F.xxhash64(
            F.concat_ws(" ", *[F.element_at(t, i + k) for k in range(_SUBSTR_T)])
        ),
    )
    g = (
        tok_df.filter(F.size(t) >= _SUBSTR_T)
        .select("doc_id", F.posexplode(grams).alias("i", "g"))
        # partition on the join key once: the df groupBy, the cap
        # semi-join and both self-join sides all reuse this exchange
        .repartition("g")
    )
    dfs = g.groupBy("g").agg(F.countDistinct("doc_id").alias("df"))
    capped = g.join(dfs.filter(F.col("df") <= _SUBSTR_DF_CAP).select("g"), "g")
    a = capped.select(F.col("doc_id").alias("doc_a"), F.col("i").alias("ia"), "g")
    b = capped.select(
        F.col("doc_id").alias("doc_b"), F.col("i").alias("ib"), F.col("g").alias("gb")
    )
    m = a.join(
        b, (F.col("doc_a") < F.col("doc_b")) & (F.col("g") == F.col("gb"))
    ).select("doc_a", "doc_b", "ia", "ib")
    w = Window.partitionBy("doc_a", "doc_b", F.col("ia") - F.col("ib")).orderBy("ia")
    runs = (
        m.withColumn("grp", F.col("ia") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", (F.col("ia") - F.col("ib")).alias("diag"), "grp")
        .agg((F.lit(_SUBSTR_T) + F.count("*") - 1).alias("run_len"))
    )
    return runs.groupBy("doc_a", "doc_b").agg(
        F.max("run_len").alias("max_run_tokens"),
        F.count("*").alias("n_runs"),
    )


ORACLE_SUBSTRING = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents
  WHERE len(string_split_regex(text, ' +')) >= {_SUBSTR_T}
),
grams AS (
  SELECT doc_id, i, list_aggregate(t[i+1:i+{_SUBSTR_T}], 'string_agg', ' ') AS g
  FROM (SELECT doc_id, t, unnest(range(len(t) - {_SUBSTR_T} + 1)) AS i FROM toks)
),
keep AS (
  SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS df FROM grams GROUP BY 1)
  WHERE df <= {_SUBSTR_DF_CAP}
),
cg AS (SELECT gr.doc_id, gr.i, gr.g FROM grams gr JOIN keep USING (g)),
m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.i AS ia, b.i AS ib
  FROM cg a JOIN cg b ON a.g = b.g AND a.doc_id < b.doc_id
),
isl AS (
  SELECT doc_a, doc_b, ia - ib AS diag, ia,
         ia - row_number() OVER (PARTITION BY doc_a, doc_b, ia - ib
                                 ORDER BY ia) AS grp
  FROM m
),
runs AS (
  SELECT doc_a, doc_b, CAST({_SUBSTR_T} + count(*) - 1 AS BIGINT) AS run_len
  FROM isl GROUP BY doc_a, doc_b, diag, grp
)
SELECT doc_a, doc_b,
       max(run_len) AS max_run_tokens,
       CAST(count(*) AS BIGINT) AS n_runs
FROM runs GROUP BY 1, 2
"""


_MINHASH_THRESHOLD = 0.3
_MINHASH_MAX_BUCKET = 200


def q_doc_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, est_jaccard ≥ 0.3 via 16×4 banding.

    HASH-GATED (round 5, previously rows-only): signatures are 64
    Lehmer-mixed minima of the portable polynomial shingle hash, so the
    oracle recomputes them exactly, replays the identical banding
    (16 bands × 4 rows, band key = the comma-joined slice — Spark
    buckets on its xxhash64, same equality classes) with the same
    deterministic per-bucket cap, and applies the same rounded
    est_jaccard threshold. LSH's inherent false negatives (a
    qualifying pair with no fully-equal band) are therefore part of the
    CONTRACT both engines compute, not a tolerance. Semantics are
    additionally pinned by planted-duplicate tests and a recall
    cross-check vs the exact n-gram Jaccard query."""
    from ..dedup import minhash_near_dups

    d = load_table(spark, sf_dir, "documents")
    return minhash_near_dups(
        d, threshold=_MINHASH_THRESHOLD, max_bucket=_MINHASH_MAX_BUCKET
    )


def _minhash_oracle_sql() -> str:
    from ..dedup import _PORT_A, _PORT_BASE, _PORT_M, HASH_COUNT

    M, A = _PORT_M, _PORT_A
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents
  WHERE len(string_split_regex(text, ' +')) >= 3
),
sh_all AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS shingle
    FROM (SELECT doc_id, t, unnest(range(len(t) - 2)) AS i FROM toks)
  )
),
h AS (
  SELECT doc_id,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(shingle, ''),
                            c -> CAST(ascii(c) AS BIGINT))),
           (acc, c) -> (acc * {_PORT_BASE} + c) % {M}) AS h0
  FROM sh_all
),
sig AS (  -- 64 Lehmer-mixed minima, identical to _port_mix
  SELECT doc_id, i,
         min(((h0 * {HASH_COUNT} + i) % {M}) * {A} % {M} * {A} % {M}) AS m
  FROM h CROSS JOIN (SELECT unnest(range({HASH_COUNT})) AS i) idx
  GROUP BY 1, 2
),
bandsig AS (  -- band key: the comma-joined 4-row slice (Spark's concat_ws)
  SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
         string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS bm
  FROM sig GROUP BY doc_id, i // 4
),
capped AS (
  SELECT doc_id, band, bm,
         row_number() OVER (PARTITION BY band, bm ORDER BY doc_id) AS r
  FROM bandsig
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM (SELECT * FROM capped WHERE r <= {_MINHASH_MAX_BUCKET}) a
  JOIN (SELECT * FROM capped WHERE r <= {_MINHASH_MAX_BUCKET}) b
    ON a.band = b.band AND a.bm = b.bm AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.doc_a, c.doc_b,
         round(sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / {HASH_COUNT}.0, 4)
           AS est_jaccard
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, est_jaccard FROM est
WHERE est_jaccard >= {_MINHASH_THRESHOLD}
"""


ORACLE_MINHASH = _minhash_oracle_sql()


def q_doc_minhash_cap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap-health audit for the MinHash bucket cap (r13 verdict #3):
    one row with bucket counts, the saturated-bucket count (size >
    cap — where the deterministic keep-lowest-ids shave bites) and the
    exact within-bucket candidate-pair delta the cap removes. The r13
    64× twin-mass experiment located the cap-binding ONSET (15
    saturated buckets, 99.943% recall) only offline in SCALE.md; this
    registers the same measurement as a driver-observable, hash-gated
    query so cap health is monitored in-band at any scale. Shares
    :func:`~..dedup.minhash_near_dups`'s exact signature/banding
    pipeline (same ≥3-token gate, same band keys) but stops at bucket
    SIZES — no self-join, so the audit is linear in corpus size and
    independent of how hard the cap binds."""
    from ..dedup import minhash_cap_audit

    d = load_table(spark, sf_dir, "documents")
    return minhash_cap_audit(d, max_bucket=_MINHASH_MAX_BUCKET)


def _minhash_cap_audit_oracle_sql() -> str:
    """Replays the minhash oracle's signature/banding CTEs, then
    aggregates bucket sizes instead of self-joining. Buckets group on
    the comma-joined band slice (bm) — Spark groups on xxhash64(bm):
    identical equality classes modulo the accepted ~2^-64 collision
    channel shared with ORACLE_MINHASH itself."""
    base = _minhash_oracle_sql()
    head, sep, _ = base.partition("capped AS (")
    assert sep, "minhash oracle shape changed — update the cap audit"
    cap = _MINHASH_MAX_BUCKET
    return head + f"""sizes AS (
  SELECT band, bm, count(*) AS n FROM bandsig GROUP BY band, bm
)
SELECT count(*)                                           AS n_buckets,
       CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                                                          AS multi_buckets,
       CAST(sum(CASE WHEN n > {cap} THEN 1 ELSE 0 END) AS BIGINT)
                                                          AS saturated_buckets,
       max(n)                                             AS max_bucket_size,
       CAST(sum(CASE WHEN n > {cap}
                     THEN (n * (n - 1)) // 2 - {cap * (cap - 1) // 2}
                     ELSE 0 END) AS BIGINT)               AS capped_pair_delta
FROM sizes
"""


ORACLE_MINHASH_CAP_AUDIT = _minhash_cap_audit_oracle_sql()


_SIMHASH_MAX_BUCKET = 200


def q_doc_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, Hamming ≤ 3 via 4×16-bit banding.

    HASH-GATED (like MinHash since round 5): the token hash is the portable
    polynomial/Lehmer family (dedup.portable_token_hash), so the oracle
    recomputes the identical 64-bit fingerprints in SQL, replays the
    SAME 4-band bucketing with the SAME deterministic per-bucket cap
    (rank by doc_id, keep ≤ {cap}), and filters bit_count(xor) ≤ 3.
    Banding itself is a lossless candidate generator for Hamming ≤ 3
    (pigeonhole); the bucket cap is the one semantic guard — on the
    word-soup fixture fingerprints collide heavily (~20k qualifying
    pairs among 500 docs), so the cap genuinely binds and MUST be
    mirrored, which the driver hash gate now verifies end to end. The
    banded Spark plan remains the scale path: candidates come from a
    (band, bucket) equi-join, never the oracle-style O(n²) cross
    join."""
    from ..dedup import simhash_near_dups

    d = load_table(spark, sf_dir, "documents")
    return simhash_near_dups(d, max_bucket=_SIMHASH_MAX_BUCKET)


def _simhash_oracle_sql() -> str:
    from ..dedup import _PORT_A, _PORT_BASE, _PORT_M

    M, A = _PORT_M, _PORT_A
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(text, ' +')) AS tok FROM documents
),
h AS (
  SELECT doc_id,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(tok, ''),
                            c -> CAST(ascii(c) AS BIGINT))),
           (acc, c) -> (acc * {_PORT_BASE} + c) % {M}) AS h0
  FROM toks
),
signs AS (
  SELECT doc_id, b,
         sum(CASE WHEN (((h0 * 64 + b) % {M}) * {A} % {M} * {A} % {M}) * 2 < {M}
                  THEN 1 ELSE -1 END) AS s
  FROM h CROSS JOIN (SELECT unnest(range(64)) AS b) bits
  GROUP BY 1, 2
),
fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN mask ELSE CAST(0 AS BIGINT) END)
              AS BIGINT) AS sh
  FROM (
    SELECT doc_id, s,
           CASE WHEN b < 63 THEN CAST(1 AS BIGINT) << CAST(b AS INTEGER)
                ELSE CAST(-9223372036854775807 AS BIGINT) - 1 END AS mask
    FROM signs
  )
  GROUP BY 1
),
banded AS (  -- same 4x16-bit banding + deterministic bucket cap as Spark
  SELECT doc_id, sh, band, bucket,
         row_number() OVER (PARTITION BY band, bucket ORDER BY doc_id) AS r
  FROM (
    SELECT doc_id, sh, b AS band, (sh >> CAST(b * 16 AS INTEGER)) & 65535 AS bucket
    FROM fp CROSS JOIN (SELECT unnest(range(4)) AS b) bands
  )
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.sh AS sha, b.sh AS shb
  FROM (SELECT * FROM banded WHERE r <= {_SIMHASH_MAX_BUCKET}) a
  JOIN (SELECT * FROM banded WHERE r <= {_SIMHASH_MAX_BUCKET}) b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sha, shb)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(sha, shb)) <= 3
"""


ORACLE_SIMHASH = _simhash_oracle_sql()


# Several downstream operators (clusters, survivors, pagerank, …) consume
# the same near-dup pair set; its lazily-checkpointed form is memoized per
# session and documents version, so a session running several of them
# computes the pair generator once. q_doc_ngram_jaccard_pairs itself stays
# un-memoized so its own bench line keeps measuring the raw operator.
def _ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_memo(
        spark,
        ("ngram_pairs", sf_dir, fixture_version(sf_dir, "documents")),
        lambda: q_doc_ngram_jaccard_pairs(spark, sf_dir).localCheckpoint(eager=False),
    )


def q_doc_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clusters: connected components over the n-gram Jaccard
    pairs (min-reachable-id labeling + keep-representative flag) — the
    pairwise→decision step of a dedup pipeline. Oracle: recursive-CTE
    transitive closure in DuckDB over the identical pair set."""
    from ..dedup import dedup_clusters

    return dedup_clusters(_ngram_pairs(spark, sf_dir))


def q_doc_survivorship_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship merge — the attribute-level step after
    clustering: per near-dup cluster, merge member attributes into the
    record a curation pipeline keeps (member count, the longest text's
    length, total character mass, the sorted union of sources, and the
    representative's language). Entity-resolution survivorship rules as
    one aggregate over the cluster labels; the labels are pair-derived
    and tiny, so the documents join is broadcast-scale and the merge is
    a single cluster-keyed aggregate."""
    from ..dedup import dedup_clusters

    clusters = dedup_clusters(_ngram_pairs(spark, sf_dir)).select(
        "doc_id", "cluster_id"
    )
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars"
    )
    per = (
        clusters.join(d, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            F.max("n_chars").alias("max_chars"),
            F.sum("n_chars").alias("total_chars"),
            F.concat_ws(",", F.array_sort(F.collect_set("source"))).alias("sources"),
        )
    )
    rep = d.select(
        F.col("doc_id").alias("cluster_id"),
        F.col("lang").alias("rep_lang"),
    )
    return per.join(rep, "cluster_id")


ORACLE_CLUSTERS = f"""
WITH RECURSIVE pairs AS ({ORACLE_NGRAM}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id,
       min(label) AS cluster_id,
       (node = min(label)) AS keep
FROM reach
GROUP BY node
"""


ORACLE_SURVIVORSHIP = f"""
WITH RECURSIVE pairs AS ({ORACLE_NGRAM}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
labels AS (
  SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node
),
merged AS (
  SELECT l.cluster_id,
         count(*) AS n_members,
         max(d.n_chars) AS max_chars,
         CAST(sum(d.n_chars) AS BIGINT) AS total_chars,
         list_aggregate(list_sort(list(DISTINCT d.source)), 'string_agg', ',') AS sources
  FROM labels l JOIN documents d ON d.doc_id = l.doc_id
  GROUP BY 1
)
SELECT m.cluster_id, m.n_members, m.max_chars, m.total_chars, m.sources,
       r.lang AS rep_lang
FROM merged m JOIN documents r ON r.doc_id = m.cluster_id
"""


def q_doc_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION applied to the corpus: per source, how many
    docs survive near-dup removal (cluster representatives + docs in no
    cluster) — the end-to-end answer a curation pipeline acts on, closing
    the pairs → clusters → keep-set chain.

    Plan: the cluster labels are pair-derived and tiny relative to the
    corpus, so the keep-flag attaches via a broadcast LEFT join (docs
    without a label survive by definition); the corpus itself flows
    scan → join → small-key aggregate with no extra shuffle."""
    clusters = q_doc_dedup_clusters(spark, sf_dir).select("doc_id", "keep")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    keep = F.coalesce(F.col("keep"), F.lit(True))
    return (
        d.join(F.broadcast(clusters), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(keep.cast("long")).alias("n_survivors"),
            F.sum((~keep).cast("long")).alias("n_removed"),
        )
    )


ORACLE_SURVIVORS = f"""
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN coalesce(c.keep, TRUE) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_survivors,
       CAST(sum(CASE WHEN coalesce(c.keep, TRUE) THEN 0 ELSE 1 END) AS BIGINT)
         AS n_removed
FROM documents d
LEFT JOIN ({ORACLE_CLUSTERS}) c ON d.doc_id = c.doc_id
GROUP BY 1
"""


_PR_DAMPING = 0.85
_PR_ITERS = 3


def q_doc_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-dup similarity graph (fixed 3 iterations,
    damping 0.85) — centrality picks the canonical representative of a
    dup neighborhood better than min-id when clusters are star-shaped
    (the hub that everything resembles scores highest).

    Each iteration sets pr(t) = (1 - d)/N + d · Σ pr(s)/deg(s) over the
    edges s→t of the symmetrized pair list (a repeated pair counts each
    time), with N the number of vertices that have an edge and pr = 1/N
    at the start; the iteration count is fixed, so there is no
    convergence probe, and the oracle mirrors it with 3 unrolled CTEs.

    Below the broadcast bound (``ops.recursion.pair_graph``) one job
    collects the pairs and the iterations run in numpy on the driver;
    the ranks come back as a local frame and are rounded in Spark, as
    on the loop path, so the build runs that one job. Above it, each
    iteration is ONE edges⨝ranks equi-join shuffled on the source id +
    one groupBy(dst): deg is folded into the checkpointed weighted edge
    list once, every vertex is a destination of the symmetrized list
    (so contrib covers all of them without a re-anchor join), N arrives
    as a 1-row aggregate cross join, never a driver count, and each
    iteration's |V|-row rank vector is checkpointed lazily to keep the
    lineage flat.
    """
    pairs = _ngram_pairs(spark, sf_dir).select("doc_a", "doc_b")
    graph = pair_graph(pairs)
    pr = _pagerank(spark, graph) if graph is not None else _pagerank_loop(pairs)
    return pr.select(F.col("id").alias("doc_id"), F.round("pr", 6).alias("pagerank"))


def _pagerank(spark: SparkSession, graph) -> DataFrame:
    """The ``(id, pr)`` ranks of ``graph`` (from
    ``ops.recursion.pair_graph``) computed in numpy, as a local frame."""
    import numpy as np
    import pyarrow as pa

    ids, s, t, key = graph
    n = len(ids) or 1  # N; no pairs leave no rank to divide
    deg = np.bincount(s, minlength=len(ids))
    pr = np.full(len(ids), 1.0 / n)
    for _ in range(_PR_ITERS):
        contrib = np.bincount(t, weights=(pr / deg)[s], minlength=len(ids))
        pr = (1.0 - _PR_DAMPING) / n + _PR_DAMPING * contrib
    return spark.createDataFrame(pa.table({"id": ids, "pr": pr})).select(
        F.col("id").cast(key), "pr"
    )


def _pagerank_loop(pairs: DataFrame) -> DataFrame:
    """The ``(id, pr)`` ranks of ``pairs`` by Spark joins, one lazily
    checkpointed rank vector per iteration."""
    edges = (
        pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("t"))
        .unionByName(pairs.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("t")))
        .localCheckpoint(eager=False)
    )
    deg = edges.groupBy("s").agg(F.count("*").alias("deg"))
    n = deg.agg(F.count("*").alias("n"))
    # deg rides each edge once; every iteration is a single |E| join
    edges_w = edges.join(deg, "s").localCheckpoint(eager=False)
    pr = deg.crossJoin(F.broadcast(n)).select(
        F.col("s").alias("id"), (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(_PR_ITERS):
        pr = (
            edges_w.join(pr.withColumnRenamed("id", "s"), "s")
            .groupBy(F.col("t").alias("id"))
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("contrib"))
            .crossJoin(F.broadcast(n))
            .select(
                "id",
                (
                    F.lit(1.0 - _PR_DAMPING) / F.col("n")
                    + F.lit(_PR_DAMPING) * F.col("contrib")
                ).alias("pr"),
            )
            .localCheckpoint(eager=False)
        )
    return pr


def _pr_iter_sql(k: int) -> str:
    prev = f"it{k - 1}"
    return f"""
contrib{k} AS (
  SELECT e.t AS id, sum(p.pr / d.deg) AS contrib
  FROM edges e
  JOIN {prev} p ON p.id = e.s
  JOIN deg d ON d.id = e.s
  GROUP BY 1
),
it{k} AS (
  SELECT v.id,
         (1.0 - {_PR_DAMPING}) / n.n
           + {_PR_DAMPING} * coalesce(c.contrib, 0.0) AS pr
  FROM nodes v
  CROSS JOIN n
  LEFT JOIN contrib{k} c ON c.id = v.id
)"""


ORACLE_PAGERANK = f"""
WITH pairs AS MATERIALIZED ({ORACLE_NGRAM}),
-- MATERIALIZED: every power iteration references edges/deg; without
-- the hint DuckDB re-inlines the CTE chain down to the shingle pair
-- join once per reference (measured 15.5 s -> 0.8 s at sf0.1,
-- byte-identical result; pinned by tests/test_r10_queries.py).
edges AS MATERIALIZED (
  SELECT doc_a AS s, doc_b AS t FROM pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS t FROM pairs
),
nodes AS (SELECT DISTINCT s AS id FROM edges),
deg AS MATERIALIZED (SELECT s AS id, count(*) AS deg FROM edges GROUP BY 1),
n AS (SELECT count(*) AS n FROM nodes),
it0 AS (SELECT id, 1.0 / n.n AS pr FROM nodes CROSS JOIN n),
{",".join(_pr_iter_sql(k) for k in range(1, _PR_ITERS + 1))}
SELECT id AS doc_id, round(pr, 6) AS pagerank FROM it{_PR_ITERS}
"""


def q_doc_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-dup similarity graph: triangle count,
    wedge (open-triad) count, and global clustering coefficient — the
    graph-shape diagnostic that distinguishes tight dup CLIQUES (high
    clustering → safe to keep one representative) from chain-shaped
    drift (low clustering → transitive closure over-merges).

    Plan: triangles enumerate via two equi-joins over the oriented edge
    list (a<b<c ordering counts each exactly once) — shuffle keys are
    vertex ids, so worst-stage size is bounded by the hottest vertex's
    degree d (≤ d² candidate wedges), which the pair generator already
    caps via its shingle df-cap; wedges are a per-vertex degree
    aggregate (Σ deg·(deg−1)/2). Output is one row. The oracle mirrors
    the same pair set through the shared ORACLE_NGRAM CTE."""
    pairs = _ngram_pairs(spark, sf_dir).select("doc_a", "doc_b")
    e1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = pairs.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    e3 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .agg(F.count("*").alias("n_triangles"))
    )
    und = e1.select(F.col("a").alias("v")).unionAll(e1.select(F.col("b").alias("v")))
    wedges = (
        und.groupBy("v")
        .agg(F.count("*").alias("deg"))
        .agg(
            F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("long").alias("n_wedges")
        )
    )
    n_edges = pairs.agg(F.count("*").alias("n_edges"))
    return (
        n_edges.crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(wedges))
        .select(
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.round(
                F.when(
                    F.col("n_wedges") > 0,
                    3.0 * F.col("n_triangles") / F.col("n_wedges"),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("global_clustering"),
        )
    )


ORACLE_TRIANGLES = f"""
WITH pairs AS ({ORACLE_NGRAM}),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
tri AS (
  SELECT count(*) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e2.a = e1.b
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
),
deg AS (
  SELECT v, count(*) AS deg FROM (
    SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges
  ) GROUP BY 1
),
wedges AS (SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges FROM deg),
ne AS (SELECT count(*) AS n_edges FROM edges)
SELECT ne.n_edges, tri.n_triangles, wedges.n_wedges,
       round(CASE WHEN wedges.n_wedges > 0
                  THEN 3.0 * tri.n_triangles / wedges.n_wedges
                  ELSE 0.0 END, 4) AS global_clustering
FROM ne CROSS JOIN tri CROSS JOIN wedges
"""




def q_doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct shingles
    whose FIRST appearance (by doc_id order) is this doc — the marginal
    -new-content curve that tells a curation pipeline where ingest
    order stops paying (novelty ~0 ⇒ the increment is rehash) and
    ranks sources by how much genuinely new text they contribute.

    "First appearance" needs no ordered scan: first_owner(shingle) =
    min(doc_id) per shingle — one hash aggregate — and novelty is a
    per-doc ratio of two counts off the SAME exploded table (the
    ownership join rides the shingle-hash exchange the df aggregate
    already created). Linear in total shingle volume at any corpus
    size; nothing pairwise anywhere. Collision caveat: shingles are
    keyed on xxhash64 while the oracle keys raw strings, so the gate's
    agreement assumes collision-freedom (P ≈ n²/2⁶⁵ — immaterial at
    gate scale; a collision would only undercount novelty by merging
    two shingles' first-owners)."""
    d = load_table(spark, sf_dir, "documents")
    tok_df = d.select("doc_id", F.split(F.col("text"), " +").alias("t")).repartition(
        "doc_id"
    )
    t = F.col("t")
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(t, i),
                F.element_at(t, i + 1),
                F.element_at(t, i + 2),
            ),
        )
    )
    sh = (
        tok_df.filter(F.size(t) >= 3)
        .select("doc_id", F.explode(shingles).alias("shingle"))
        .select("doc_id", F.xxhash64("shingle").alias("h"))
        .repartition("h")
    )
    owners = sh.groupBy("h").agg(F.min("doc_id").alias("first_owner"))
    return (
        sh.join(owners, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                (F.col("first_owner") == F.col("doc_id")).cast("long")
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_shingles"), 4).alias("novelty"),
        )
    )


ORACLE_NOVELTY = """
WITH toks AS (
  SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents
  WHERE len(string_split_regex(text, ' +')) >= 3
),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS shingle
    FROM (SELECT doc_id, t, unnest(range(len(t) - 2)) AS i FROM toks)
  )
),
owners AS (SELECT shingle, min(doc_id) AS first_owner FROM sh GROUP BY 1)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN o.first_owner = s.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       round(sum(CASE WHEN o.first_owner = s.doc_id THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS novelty
FROM sh s JOIN owners o USING (shingle)
GROUP BY 1
"""


_KCORE_K = 2
_KCORE_ROUNDS = 8


def q_doc_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=2, bounded 8-round peel) of the near-dup
    similarity graph: iteratively delete vertices of degree < k until
    stable; what remains is the graph's cohesive backbone — dup
    CLUSTERS survive, dangling one-off pairs peel away, so the core is
    the "worth a human look" neighborhood list a curation review queue
    wants.

    Distributed peel on ``ops.recursion.fixpoint``: the state is the
    ``(v, core_deg)`` survivor frame; each round re-filters the edge
    list by an inner join against the survivors on BOTH endpoints,
    recomputes degrees (one groupBy) and keeps vertices with deg ≥ k.
    The round count is BOUNDED at 8 — the oracle mirrors the peel with
    8 unrolled CTE layers, and since rounds past the fixed point are
    identities, the engine stops as soon as the survivor count repeats
    and still lands byte-for-byte on the oracle's layer-8 set. At that
    point the survivors' degrees were counted over the same survivor
    set, so the state is the answer: each core member with its
    within-core degree. On dup-cluster graphs (near-cliques) the
    cascade settles in 1-2 rounds; a path graph needs O(diameter).

    Truncation guard: because the oracle unrolls the SAME fixed layer
    count, a cascade needing more rounds would make both engines agree
    on a non-2-core — undetectable by the gate. The survivor set is a
    subset of the previous round's, so equal counts ⇒ identical sets ⇒
    fixed point; each round observes its survivor count in the job
    that materialises it, and a peel that has not repeated a count
    after 8 rounds raises "did not converge".

    Below the broadcast bound (``ops.recursion.pair_graph``) one job
    collects the pairs and the same peel runs in numpy on the driver
    (``ops.recursion.local_fixpoint``, with the same ``done`` rule, cap
    and raise); the core comes back as a local frame, so the build runs
    that one job instead of a job per round."""
    pairs = _ngram_pairs(spark, sf_dir).select("doc_a", "doc_b")
    counts: list[int] = []

    def done(m: dict) -> bool:
        counts.append(m["n"])
        return len(counts) >= 2 and counts[-1] == counts[-2]

    graph = pair_graph(pairs)
    if graph is not None:
        return _kcore(spark, graph, done)
    edges = (
        pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("t"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("t"))
        )
        .localCheckpoint(eager=True)
    )

    def step(alive: DataFrame) -> DataFrame:
        return (
            edges.join(alive.select(F.col("v").alias("s")), "s")
            .join(alive.select(F.col("v").alias("t")), "t")
            .groupBy(F.col("s").alias("v"))
            .agg(F.count("*").alias("core_deg"))
            .filter(F.col("core_deg") >= _KCORE_K)
        )

    core = fixpoint(
        edges.select(F.col("s").alias("v")).distinct(),
        step,
        [F.count("*").alias("n")],
        done,
        _KCORE_ROUNDS,
        "doc_graph_kcore peel",
    )
    return core.select(F.col("v").alias("doc_id"), "core_deg")


def _kcore(spark: SparkSession, graph, done) -> DataFrame:
    """:func:`q_doc_graph_kcore`'s peel in numpy over ``graph`` (from
    ``ops.recursion.pair_graph``), stopped by the same ``done``: the
    ``(doc_id, core_deg)`` core as a local frame."""
    import numpy as np
    import pyarrow as pa

    ids, s, t, key = graph

    # the state is each node's core degree, 0 once peeled
    def step(deg):
        live = (deg[s] > 0) & (deg[t] > 0)
        deg = np.bincount(s[live], minlength=len(ids))
        deg[deg < _KCORE_K] = 0
        return deg, {"n": int(np.count_nonzero(deg))}

    deg = local_fixpoint(
        np.ones(len(ids), np.int64), step, done, _KCORE_ROUNDS, "doc_graph_kcore peel"
    )
    core = deg > 0
    return spark.createDataFrame(
        pa.table({"doc_id": ids[core], "core_deg": deg[core]})
    ).select(F.col("doc_id").cast(key), "core_deg")


def _kcore_oracle_sql() -> str:
    # every alive_{r} is referenced TWICE by deg_{r+1}; without
    # MATERIALIZED DuckDB inlines the references and the plan doubles
    # per layer — 2^8 copies of the pair CTE (measured: minutes). The
    # engine-side mirror of the same hazard is the eager localCheckpoint
    # in q_doc_graph_kcore.
    layers = [
        "edges AS MATERIALIZED (SELECT doc_a AS s, doc_b AS t FROM pairs "
        "UNION ALL SELECT doc_b, doc_a FROM pairs)",
        "alive_0 AS MATERIALIZED (SELECT DISTINCT s AS v FROM edges)",
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        layers.append(
            f"deg_{r} AS MATERIALIZED (SELECT e.s AS v, count(*) AS core_deg "
            f"FROM edges e JOIN alive_{r - 1} x ON x.v = e.s "
            f"JOIN alive_{r - 1} y ON y.v = e.t GROUP BY 1)"
        )
        layers.append(
            f"alive_{r} AS MATERIALIZED "
            f"(SELECT v FROM deg_{r} WHERE core_deg >= {_KCORE_K})"
        )
    return (
        f"WITH pairs AS MATERIALIZED ({ORACLE_NGRAM}),\n"
        + ",\n".join(layers)
        + f"\nSELECT d.v AS doc_id, d.core_deg FROM deg_{_KCORE_ROUNDS} d "
        f"JOIN alive_{_KCORE_ROUNDS} a ON a.v = d.v"
    )


ORACLE_KCORE = _kcore_oracle_sql()


_INCR_HIST_MOD = 10  # doc_id % 10 < 8 → historical corpus, else incoming
_INCR_HIST_LT = 8
_INCR_OVERLAP_MAX = 0.8


def q_doc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: admit an INCOMING batch against a HISTORICAL
    corpus (deterministic doc_id split stands in for the two snapshots)
    — the shape a continuously-ingesting training pipeline actually
    runs, where yesterday's corpus never re-shuffles against itself.

    Two signals per incoming doc: exact duplicate (content hash seen in
    history) and shingle containment (fraction of the doc's distinct
    3-gram hashes present ANYWHERE in history). Admit = not exact dup
    and containment < 0.8.

    Plan: history collapses to two DISTINCT sets — content hashes and
    shingle hashes — so each incoming row/shingle joins at most one
    history row: NO quadratic term anywhere (unlike pairwise near-dup,
    containment-vs-set needs no df cap). Both joins shuffle on fixed-
    width 8/32-byte hashes; at 100 TB the history sets are the natural
    persisted state (bucketed by hash), and each daily batch joins
    against them bucket-aligned with zero history re-shuffle."""
    d = load_table(spark, sf_dir, "documents")
    is_hist = (F.col("doc_id") % _INCR_HIST_MOD) < _INCR_HIST_LT
    hist = d.filter(is_hist)
    inc = d.filter(~is_hist)

    hist_sha = hist.select(F.sha2("text", 256).alias("text_hash")).distinct()
    inc_sha = inc.select("doc_id", F.sha2("text", 256).alias("text_hash"))
    exact = inc_sha.join(
        hist_sha.withColumn("exact_dup", F.lit(1)), "text_hash", "left"
    ).select("doc_id", F.coalesce("exact_dup", F.lit(0)).alias("exact_dup"))

    def shingle_hashes(df: DataFrame) -> DataFrame:
        # barrier: materialize the token array behind a shuffle, else
        # CollapseProject inlines split() into every element_at reference
        # (3 re-splits per shingle position — the same trap
        # q_doc_ngram_jaccard_pairs documents; dropping the barrier here
        # measured ~6x slower at sf0.1)
        tok = df.select(
            "doc_id", F.split(F.col("text"), " +").alias("t")
        ).repartition("doc_id")
        t = F.col("t")
        sh = F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 2),
                lambda i: F.xxhash64(
                    F.concat_ws(
                        " ",
                        F.element_at(t, i),
                        F.element_at(t, i + 1),
                        F.element_at(t, i + 2),
                    )
                ),
            )
        )
        return tok.filter(F.size(t) >= 3).select(
            "doc_id", F.explode(sh).alias("h")
        )

    hist_sh = shingle_hashes(hist).select("h").distinct()
    overlap = (
        shingle_hashes(inc)
        .join(hist_sh.withColumn("hit", F.lit(1)), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"),
        )
        .select(
            "doc_id",
            "n_shingles",
            F.round(F.col("n_hits") / F.col("n_shingles"), 4).alias("hist_overlap"),
        )
    )
    joined = (
        inc.select("doc_id")
        .join(exact, "doc_id")
        .join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            "exact_dup",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("hist_overlap", F.lit(0.0)).alias("hist_overlap"),
        )
    )
    admit = (F.col("exact_dup") == 0) & (F.col("hist_overlap") < _INCR_OVERLAP_MAX)
    return joined.withColumn("admit", admit.cast("int"))


ORACLE_INCREMENTAL = f"""
WITH hist AS (
  SELECT * FROM documents WHERE doc_id % {_INCR_HIST_MOD} < {_INCR_HIST_LT}
),
inc AS (
  SELECT * FROM documents WHERE doc_id % {_INCR_HIST_MOD} >= {_INCR_HIST_LT}
),
hist_sha AS (SELECT DISTINCT sha256(text) AS text_hash FROM hist),
exact AS (
  SELECT i.doc_id,
         CASE WHEN h.text_hash IS NULL THEN 0 ELSE 1 END AS exact_dup
  FROM (SELECT doc_id, sha256(text) AS text_hash FROM inc) i
  LEFT JOIN hist_sha h ON h.text_hash = i.text_hash
),
hist_sh AS (
  SELECT DISTINCT t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS shingle
  FROM (
    SELECT t, unnest(range(len(t) - 2)) AS i
    FROM (SELECT string_split_regex(text, ' +') AS t FROM hist)
    WHERE len(t) >= 3
  )
),
inc_sh AS (
  SELECT DISTINCT doc_id, t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS shingle
  FROM (
    SELECT doc_id, t, unnest(range(len(t) - 2)) AS i
    FROM (SELECT doc_id, string_split_regex(text, ' +') AS t FROM inc)
    WHERE len(t) >= 3
  )
),
overlap AS (
  SELECT i.doc_id,
         count(*) AS n_shingles,
         sum(CASE WHEN h.shingle IS NULL THEN 0 ELSE 1 END) AS n_hits
  FROM inc_sh i
  LEFT JOIN hist_sh h ON h.shingle = i.shingle
  GROUP BY 1
)
SELECT i.doc_id, e.exact_dup,
       CAST(coalesce(o.n_shingles, 0) AS BIGINT) AS n_shingles,
       coalesce(round(CAST(o.n_hits AS DOUBLE) / o.n_shingles, 4), 0.0)
         AS hist_overlap,
       CAST(e.exact_dup = 0
            AND coalesce(round(CAST(o.n_hits AS DOUBLE) / o.n_shingles, 4), 0.0)
                < {_INCR_OVERLAP_MAX} AS INT) AS admit
FROM inc i
JOIN exact e ON e.doc_id = i.doc_id
LEFT JOIN overlap o ON o.doc_id = i.doc_id
"""


# --- sentence/line-level global dedup (the C4 discipline) -------------------

_SENT_W = 8  # tokens per segment (line-split stand-in on the fixture corpus)


def q_doc_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-level GLOBAL dedup — the C4 (Raffel et al. 2020)
    "three-sentence span seen before → drop the line" discipline that
    removes boilerplate (cookie banners, nav bars) exact-doc dedup
    misses: every segment keeps only its FIRST corpus occurrence
    ((doc_id, seg_idx) order), and each doc reports how many of its
    segments were elsewhere-first plus the exact tokens a rewrite
    would delete. Segments are disjoint 8-token windows (the fixture
    corpus has no sentence punctuation; a real corpus splits on
    newline/period — every downstream step is identical).

    Plan: one explode into segments, ONE shuffle keyed by the segment
    string (first-occurrence = row_number over (doc_id, seg_idx) — at
    100 TB the key becomes xxhash64(seg), identical equality classes,
    8-byte shuffle rows), one per-doc re-aggregate. Output is exact
    integers end to end — no float anywhere."""
    d = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " +")
    segs = (
        d.select("doc_id", t.alias("tk"))
        .select(
            "doc_id",
            F.col("tk"),
            F.explode(
                F.sequence(F.lit(0), F.ceil(F.size("tk") / _SENT_W).cast("int") - 1)
            ).alias("seg_idx"),
        )
        .select(
            "doc_id",
            F.col("seg_idx").cast("long").alias("seg_idx"),
            F.array_join(
                F.slice(F.col("tk"), F.col("seg_idx") * _SENT_W + 1, _SENT_W), " "
            ).alias("seg"),
            F.least(
                F.lit(_SENT_W), F.size("tk") - F.col("seg_idx") * _SENT_W
            )
            .cast("long")
            .alias("seg_len"),
        )
    )
    w = Window.partitionBy("seg").orderBy("doc_id", "seg_idx")
    ranked = segs.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_segs"),
        F.sum((F.col("rn") > 1).cast("long")).alias("n_dup_segs"),
        F.sum(
            F.when(F.col("rn") > 1, F.col("seg_len")).otherwise(0)
        )
        .cast("long")
        .alias("n_tokens_removed"),
    )


ORACLE_SENTENCE_DEDUP = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(text, ' +') AS tk FROM documents
),
segs AS (
  SELECT doc_id, i AS seg_idx,
         array_to_string(tk[i * {_SENT_W} + 1 : i * {_SENT_W} + {_SENT_W}], ' ') AS seg,
         least({_SENT_W}, len(tk) - i * {_SENT_W}) AS seg_len
  FROM (
    SELECT doc_id, tk,
           unnest(range(CAST(ceil(len(tk) / {_SENT_W}.0) AS BIGINT))) AS i
    FROM t)
),
ranked AS (
  SELECT doc_id, seg_len,
         row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
  FROM segs
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_segs,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segs,
       CAST(sum(CASE WHEN rn > 1 THEN seg_len ELSE 0 END) AS BIGINT)
         AS n_tokens_removed
FROM ranked GROUP BY 1
"""


def q_doc_softdedup_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication — reWEIGHT instead of remove (the SoftDedup
    idea: hard dedup throws away the evidence that a document's content
    is common; soft dedup keeps every doc and shrinks its sampling
    weight instead, preserving distributional coverage while flattening
    the duplicate spike). Per-doc sampling weight

        w = 1 / (n_copies · (1 + ln(commonness)))

    where n_copies is the doc's exact-hash duplicate-cluster size and
    commonness is the mean corpus document-frequency of its distinct
    3-word shingles (≥ 1; shingle-free short docs read 1, factor 1) —
    an exact verbatim copy halves the weight via n_copies, boilerplate
    prose shared across many non-identical docs shrinks it via the
    ln-damped commonness.

    Plan: the cluster size is one sha2 groupBy joined back on the hash;
    commonness is the shingle-df pipeline of the Jaccard family
    (explode → df groupBy → join back on the 8-byte shingle hash →
    per-doc avg) — two hash-keyed shuffles total, both data-linear; no
    pair join anywhere, so this costs a fraction of any pair-producing
    dedup while covering every doc."""
    d = load_table(spark, sf_dir, "documents")
    sizes = (
        d.select("doc_id", F.sha2(F.col("text"), 256).alias("text_hash"))
        .withColumn(
            "n_copies", F.count("*").over(Window.partitionBy("text_hash"))
        )
        .select("doc_id", F.col("n_copies").cast("long").alias("n_copies"))
    )
    tok = d.select("doc_id", F.split(F.col("text"), " +").alias("t")).repartition(
        "doc_id"
    )
    t = F.col("t")
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(t, i),
                F.element_at(t, i + 1),
                F.element_at(t, i + 2),
            ),
        )
    )
    sh = (
        tok.filter(F.size(t) >= 3)
        .select("doc_id", F.explode(shingles).alias("shingle"))
        .select("doc_id", F.xxhash64("shingle").alias("h"))
    )
    dfs = sh.groupBy("h").agg(F.count("*").alias("df"))
    com = sh.join(dfs, "h").groupBy("doc_id").agg(F.avg("df").alias("c"))
    joined = sizes.join(com, "doc_id", "left").withColumn(
        "c", F.coalesce(F.col("c"), F.lit(1.0))
    )
    return joined.select(
        "doc_id",
        "n_copies",
        F.round("c", 4).alias("commonness_r"),
        F.round(
            F.lit(1.0) / (F.col("n_copies") * (F.lit(1.0) + F.log("c"))), 6
        ).alias("soft_weight_r"),
    )


ORACLE_SOFTDEDUP = """
WITH toks AS (
  SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents
  WHERE len(string_split_regex(text, ' +')) >= 3
),
sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS shingle
  FROM (SELECT doc_id, t, unnest(range(len(t) - 2)) AS i FROM toks)
),
dfs AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
com AS (SELECT doc_id, avg(df) AS c FROM sh JOIN dfs USING (shingle) GROUP BY 1),
cl AS (
  SELECT doc_id, count(*) OVER (PARTITION BY sha256(text)) AS n_copies
  FROM documents
)
SELECT cl.doc_id,
       CAST(cl.n_copies AS BIGINT) AS n_copies,
       round(coalesce(com.c, 1.0), 4) AS commonness_r,
       round(1.0 / (cl.n_copies * (1.0 + ln(coalesce(com.c, 1.0)))), 6)
         AS soft_weight_r
FROM cl LEFT JOIN com USING (doc_id)
"""


QUERIES = {
    "doc_softdedup_reweight": q_doc_softdedup_reweight,
    "doc_dedup_threshold_curve": q_doc_dedup_threshold_curve,
    "doc_exact_dedup": q_doc_exact_dedup,
    "doc_ngram_jaccard_pairs": q_doc_ngram_jaccard_pairs,
    "doc_ppjoin_pairs": q_doc_ppjoin_pairs,
    "doc_ppjoin_collapsed": q_doc_ppjoin_collapsed,
    "doc_graph_kcore": q_doc_graph_kcore,
    "doc_ngram_novelty": q_doc_ngram_novelty,
    "doc_containment_pairs": q_doc_containment_pairs,
    "doc_winnow_fingerprints": q_doc_winnow_fingerprints,
    "doc_substring_dedup": q_doc_substring_dedup,
    "doc_minhash_pairs": q_doc_minhash_pairs,
    "doc_minhash_cap_audit": q_doc_minhash_cap_audit,
    "doc_simhash_pairs": q_doc_simhash_pairs,
    "doc_dedup_clusters": q_doc_dedup_clusters,
    "doc_dedup_survivors": q_doc_dedup_survivors,
    "doc_survivorship_merge": q_doc_survivorship_merge,
    "doc_graph_pagerank": q_doc_graph_pagerank,
    "doc_graph_triangles": q_doc_graph_triangles,
    "doc_incremental_dedup": q_doc_incremental_dedup,
    "doc_sentence_dedup": q_doc_sentence_dedup,
}

ORACLES = {
    "doc_softdedup_reweight": ORACLE_SOFTDEDUP,
    "doc_dedup_threshold_curve": ORACLE_DEDUP_CURVE,
    "doc_graph_triangles": ORACLE_TRIANGLES,
    "doc_incremental_dedup": ORACLE_INCREMENTAL,
    "doc_exact_dedup": ORACLE_EXACT,
    "doc_ngram_jaccard_pairs": ORACLE_NGRAM,
    "doc_ppjoin_pairs": ORACLE_PPJOIN,
    "doc_ppjoin_collapsed": ORACLE_PPJOIN,
    "doc_graph_kcore": ORACLE_KCORE,
    "doc_ngram_novelty": ORACLE_NOVELTY,
    "doc_containment_pairs": ORACLE_CONTAINMENT,
    "doc_winnow_fingerprints": ORACLE_WINNOW,
    "doc_substring_dedup": ORACLE_SUBSTRING,
    "doc_simhash_pairs": ORACLE_SIMHASH,
    "doc_minhash_pairs": ORACLE_MINHASH,
    "doc_minhash_cap_audit": ORACLE_MINHASH_CAP_AUDIT,
    "doc_dedup_clusters": ORACLE_CLUSTERS,
    "doc_dedup_survivors": ORACLE_SURVIVORS,
    "doc_survivorship_merge": ORACLE_SURVIVORSHIP,
    "doc_graph_pagerank": ORACLE_PAGERANK,
    "doc_sentence_dedup": ORACLE_SENTENCE_DEDUP,
}
