"""Training-data curation operators: benchmark decontamination and
mixture-weighted sampling (engine [ext] — LLM-pipeline surface beyond the
reference's own operators).

Decontamination is the n-gram-overlap eval-set scrub every serious
training pipeline runs (the GPT-3/Llama "13-gram overlap" style check,
scaled down to 5-gram for the synthetic fixture vocabulary); mixture
sampling turns per-source target weights into deterministic keep
fractions — the "data mixture" step of corpus assembly.

Scale notes (100 TB): the eval corpus is a benchmark suite — tiny
relative to the training corpus — so its distinct-shingle universe
arrives at the join as the small side and AQE broadcasts it; the training
side is exploded once, joined on an 8-byte shingle hash, and aggregated
by doc_id with map-side partial aggregation. Nothing driver-side, no
collect, no all-pairs anywhere. Mixture sampling reduces the corpus to
one tiny per-source row set (|sources| rows), broadcasts it back, and
keeps docs with a portable Lehmer hash — the sample is a pure scan filter
once the rates are known, stable across runs, engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import fixture_version, load_table, session_memo

# ---------------------------------------------------------------------------
# decontamination

_SHINGLE_W = 5  # 5-word shingles: discriminative on the fixture vocabulary
_EVAL_MOD, _EVAL_REM = 10, 7  # held-out eval slice: doc_id % 10 == 7
_CONTAM_FRAC = 0.5  # flag docs with >= half their shingles in the eval set


def _shingle_hashes(d: DataFrame) -> DataFrame:
    """(doc_id, h) — distinct ``_SHINGLE_W``-word shingles per doc, as
    64-bit hashes (8-byte join/shuffle keys instead of ~30-byte strings;
    collision odds are negligible at any realistic shingle cardinality).
    """
    # barrier: materialize the token array behind a shuffle so
    # CollapseProject can't inline split() into every element_at
    # reference (W re-splits per shingle position) — same trap as
    # q_doc_ngram_jaccard_pairs.
    tok = d.select("doc_id", F.split(F.col("text"), " +").alias("t")).repartition(
        "doc_id"
    )
    t = F.col("t")
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (_SHINGLE_W - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, i + k) for k in range(_SHINGLE_W)]
            ),
        )
    )
    return (
        tok.filter(F.size(t) >= _SHINGLE_W)
        .select("doc_id", F.explode(shingles).alias("s"))
        .select("doc_id", F.xxhash64("s").alias("h"))
    )


def q_doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: for every training doc that shares at
    least one 5-word shingle with the held-out eval slice
    (``doc_id % 10 == 7``), report how much of its shingle set the eval
    corpus covers, and flag it contaminated at >= 50% coverage.

    One explode of the corpus; the eval side collapses to a distinct
    shingle-hash set (small — it's a benchmark suite) that AQE broadcasts
    into a left join; one groupBy(doc_id) computes set size and hit count
    together, map-side partial first.
    """
    d = load_table(spark, sf_dir, "documents")
    sh = _shingle_hashes(d)
    is_eval = (F.col("doc_id") % _EVAL_MOD) == _EVAL_REM
    ev = sh.filter(is_eval).select("h").distinct().withColumn("hit", F.lit(1))
    tr = sh.filter(~is_eval)
    return (
        tr.join(ev, "h", "left")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_sh"), F.count("hit").alias("n_hit"))
        .filter(F.col("n_hit") > 0)
        .select(
            "doc_id",
            "n_sh",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_sh"), 4).alias("overlap_frac"),
            (F.col("n_hit") / F.col("n_sh") >= F.lit(_CONTAM_FRAC)).alias(
                "contaminated"
            ),
        )
    )


_SHINGLE_CAT = " || ' ' || ".join(f"t[i + {k + 1}]" for k in range(_SHINGLE_W))
ORACLE_DECONTAM = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents
  WHERE len(string_split_regex(text, ' +')) >= {_SHINGLE_W}
),
sh AS (
  SELECT DISTINCT doc_id, {_SHINGLE_CAT} AS s
  FROM (SELECT doc_id, t, unnest(range(len(t) - {_SHINGLE_W - 1})) AS i FROM toks)
),
ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % {_EVAL_MOD} = {_EVAL_REM}),
agg AS (
  SELECT tr.doc_id,
         CAST(count(*) AS BIGINT) AS n_sh,
         CAST(count(ev.s) AS BIGINT) AS n_hit
  FROM (SELECT * FROM sh WHERE doc_id % {_EVAL_MOD} <> {_EVAL_REM}) tr
  LEFT JOIN ev ON tr.s = ev.s
  GROUP BY 1
)
SELECT doc_id, n_sh, n_hit,
       round(CAST(n_hit AS DOUBLE) / n_sh, 4) AS overlap_frac,
       (CAST(n_hit AS DOUBLE) / n_sh >= {_CONTAM_FRAC}) AS contaminated
FROM agg
WHERE n_hit > 0
"""

# ---------------------------------------------------------------------------
# mixture-weighted sampling

_MIX_BOOST = {"src0": 4.0, "src1": 2.0, "src2": 2.0}  # others weight 1.0
_MIX_TOTAL_FRAC = 0.4  # target overall sample size = 40% of the corpus
# the portable id-hash constants live beside the stratified sampler
from .text import _LEHMER_A, _LEHMER_M  # noqa: E402


def _lehmer_h(col: F.Column = None):
    """Two-step Lehmer mix of an id column → integer in [0, M). One step
    leaves small sequential ids in [0, id*A/M] — far below any realistic
    keep fraction — the second wraps mod M and is uniform (max product
    M*A ≈ 1e14, int64-safe). The single definition all curation ops
    share; the SQL twin is :data:`_H_SQL` / :data:`_U_SQL`."""
    c = F.col("doc_id") if col is None else col
    return (c % F.lit(_LEHMER_M)) * F.lit(_LEHMER_A) % F.lit(_LEHMER_M) * F.lit(
        _LEHMER_A
    ) % F.lit(_LEHMER_M)


def _lehmer_u(col: F.Column = None):
    return _lehmer_h(col) / F.lit(float(_LEHMER_M))


def _mixture_rates(d: DataFrame) -> DataFrame:
    """(source, rate) — per-source keep fractions
    ``min(1, (w_s / W) * (f * N) / n_s)`` computed over ``d``: the corpus
    collapses to |sources| rows, one 1-row total cross-joins in (no
    driver-side ``.count()`` scan). Shared by the standalone sampler and
    the composed pipeline so their semantics cannot drift apart."""
    w = F.lit(1.0)
    for src, boost in sorted(_MIX_BOOST.items()):
        w = F.when(F.col("source") == src, F.lit(boost)).otherwise(w)
    counts = d.groupBy("source").agg(F.count("*").alias("n_s")).withColumn("w", w)
    tot = counts.agg(F.sum("n_s").alias("n_total"), F.sum("w").alias("w_sum"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(1.0),
            F.col("w")
            / F.col("w_sum")
            * F.lit(_MIX_TOTAL_FRAC)
            * F.col("n_total")
            / F.col("n_s"),
        ).alias("rate"),
    )


def q_doc_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-weighted deterministic sampling: per-source target weights
    (boosted sources get proportionally more of the sample budget) become
    per-source keep fractions ``min(1, (w_s / W) * (f * N) / n_s)``, and
    the keep decision is a portable Lehmer hash of the doc id — the data
    mixture step of training-corpus assembly, reproducible bit-for-bit
    across engines.

    The corpus collapses to |sources| rows (count + weight), one 1-row
    total is cross-joined in (no driver-side ``.count()`` scan), and the
    resulting rate table is broadcast back onto the fact scan — provably
    tiny, so the explicit broadcast is safe; the sample itself is then a
    non-shuffling filter.
    """
    d = load_table(spark, sf_dir, "documents")
    rates = _mixture_rates(d)
    u = _lehmer_u()
    return (
        d.join(F.broadcast(rates), "source")
        .filter(u < F.col("rate"))
        .select(
            "doc_id",
            "source",
            F.round(F.col("rate"), 6).alias("rate"),
            F.round(u, 6).alias("sample_u"),
        )
    )


_W_CASE = (
    "CASE "
    + " ".join(
        f"WHEN source = '{src}' THEN CAST({boost} AS DOUBLE)"
        for src, boost in sorted(_MIX_BOOST.items())
    )
    + " ELSE CAST(1.0 AS DOUBLE) END"
)
_U_SQL = (
    f"((((doc_id % {_LEHMER_M}) * {_LEHMER_A}) % {_LEHMER_M})"
    f" * {_LEHMER_A} % {_LEHMER_M}) / {_LEHMER_M}.0"
)
ORACLE_MIXTURE = f"""
WITH counts AS (
  SELECT source, count(*) AS n_s, {_W_CASE} AS w
  FROM documents GROUP BY 1
),
tot AS (SELECT sum(n_s) AS n_total, sum(w) AS w_sum FROM counts),
rates AS (
  SELECT source,
         least(CAST(1.0 AS DOUBLE),
               w / w_sum * CAST({_MIX_TOTAL_FRAC} AS DOUBLE) * n_total / n_s
         ) AS rate
  FROM counts, tot
)
SELECT d.doc_id, d.source, round(r.rate, 6) AS rate, round({_U_SQL}, 6) AS sample_u
FROM documents d JOIN rates r USING (source)
WHERE {_U_SQL} < r.rate
"""


# ---------------------------------------------------------------------------
# deterministic global shuffle into training shards

_N_SHARDS = 16


def q_doc_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training export: every doc gets a
    shard (hash mod ``_N_SHARDS``) and a position within its shard
    (ordered by the hash, ties by id) — the reproducible
    shuffle-then-shard step before writing training files, stable across
    runs, engines and input partitionings.

    One shuffle on the shard key; the within-shard ordering is exactly
    the per-file writer order a `repartition(shard).sortWithinPartitions`
    export would use. At real scale ``_N_SHARDS`` is sized to the target
    file count (thousands), so per-shard sorts stay bounded; the window
    here mirrors that layout in a driver-checkable form.
    """
    d = load_table(spark, sf_dir, "documents")
    h = _lehmer_h()
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        d.select("doc_id", h.alias("h"))
        .withColumn("shard", (F.col("h") % _N_SHARDS).cast("int"))
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard", "pos")
    )


_H_SQL = f"(((doc_id % {_LEHMER_M}) * {_LEHMER_A}) % {_LEHMER_M} * {_LEHMER_A} % {_LEHMER_M})"
ORACLE_SHARDS = f"""
SELECT doc_id,
       CAST({_H_SQL} % {_N_SHARDS} AS INT) AS shard,
       CAST(row_number() OVER (
           PARTITION BY {_H_SQL} % {_N_SHARDS}
           ORDER BY {_H_SQL}, doc_id
       ) AS INT) AS pos
FROM documents
"""

# ---------------------------------------------------------------------------
# embedding int8 quantization

_Q_LEVELS = 127  # symmetric int8


def q_emb_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization audit: scale =
    max(|x|)/127, q_i = floor(x_i/scale + 0.5), reported as per-vector
    checksums (sum, sum-of-squares, saturation count) — the compression
    step before shipping embeddings to an ANN index or training store.
    floor(x+0.5) instead of round() because banker's vs away-from-zero
    half-rounding differs across engines; floor is bit-identical.

    posexplode + a vec_id window + one aggregation: the explode, the
    max-|x| window, and the final groupBy all share a single vec_id
    exchange, JVM-side end to end (no interpreted higher-order
    functions, no Python). Zero vectors quantize to all-zero (guard, not
    NULL poison).
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    )
    e = e.withColumn("v", F.col("v").cast("double"))
    w = Window.partitionBy("vec_id")
    scale = (F.max(F.abs(F.col("v"))).over(w) / F.lit(float(_Q_LEVELS))).alias("scale")
    q = F.when(F.col("scale") == 0.0, F.lit(0.0)).otherwise(
        F.floor(F.col("v") / F.col("scale") + F.lit(0.5))
    )
    return (
        e.withColumn("scale", scale)
        .withColumn("q", q.cast("long"))
        .groupBy("vec_id")
        .agg(
            F.round(F.max("scale"), 9).alias("scale"),
            F.sum("q").alias("q_sum"),
            F.sum(F.col("q") * F.col("q")).alias("q_l2"),
            F.sum(
                (F.abs(F.col("q")) >= _Q_LEVELS).cast("long")
            ).alias("n_saturated"),
        )
    )


ORACLE_QUANTIZE = f"""
WITH e AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
scaled AS (
  SELECT vec_id, v,
         max(abs(v)) OVER (PARTITION BY vec_id) / {float(_Q_LEVELS)} AS scale
  FROM e
),
q AS (
  SELECT vec_id, scale,
         CAST(CASE WHEN scale = 0 THEN 0
              ELSE floor(v / scale + 0.5) END AS BIGINT) AS q
  FROM scaled
)
SELECT vec_id,
       round(max(scale), 9) AS scale,
       CAST(sum(q) AS BIGINT) AS q_sum,
       CAST(sum(q * q) AS BIGINT) AS q_l2,
       CAST(sum(CASE WHEN abs(q) >= {_Q_LEVELS} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_saturated
FROM q
GROUP BY vec_id
"""


# ---------------------------------------------------------------------------
# per-label centroid distances (embedding-space outlier audit)


def q_emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids and the spread around them —
    the outlier/mislabel audit of a labeled embedding store (vectors far
    from their own label's centroid are label noise candidates).

    posexplode → a (label, pos) mean (|labels|·dim rows — tiny by
    construction, broadcast back) → per-vector distance → per-label
    spread stats. The vectors are never shuffled: the only wide exchange
    is the explode's own (label,pos) aggregation; the distance join is a
    broadcast and the two remaining aggregates flow through one vec_id
    partitioning.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "v")
    )
    e = e.withColumn("v", F.col("v").cast("double"))
    cent = e.groupBy("label", "pos").agg(F.avg("v").alias("c"))
    dist = (
        e.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(F.sqrt(F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c")))).alias("d"))
    )
    return (
        dist.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("d"), 4).alias("avg_dist"),
            F.round(F.max("d"), 4).alias("max_dist"),
        )
    )


ORACLE_LABEL_CENTROIDS = """
WITH e AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
cent AS (SELECT label, pos, avg(v) AS c FROM e GROUP BY 1, 2),
dist AS (
  SELECT e.vec_id, e.label, sqrt(sum((e.v - cent.c) * (e.v - cent.c))) AS d
  FROM e JOIN cent ON e.label = cent.label AND e.pos = cent.pos
  GROUP BY 1, 2
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(d), 4) AS avg_dist,
       round(max(d), 4) AS max_dist
FROM dist
GROUP BY label
"""


# ---------------------------------------------------------------------------
# the composed pipeline: every curation stage end to end

_MIN_TOKENS = 10


def q_doc_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline as ONE composed query — exact dedup →
    quality floor → eval-set decontamination → mixture-weighted sampling
    → shard assignment — proving the stages compose into a single
    Catalyst plan (one logical DAG, shared scans where possible) instead
    of five materialization round-trips.

    Stage scale shapes (each audited in its standalone query): dedup is
    a hash-key window, decontamination a broadcast anti-join of a tiny
    contaminated-id set, the mixture rates collapse to |sources| rows
    computed over the SURVIVING corpus (so the realized mixture is what
    a user asked for, not pre-filter proportions), and the shard is a
    hash — only the final per-shard position needs the one shard
    exchange.
    """
    return curation_pipeline(spark, sf_dir)


def curation_pipeline(spark: SparkSession, sf_dir: str, d: DataFrame | None = None) -> DataFrame:
    """Engine for :func:`q_doc_curation_pipeline`; ``d`` overrides the
    input corpus (default: the sf_dir ``documents`` table) so upstream
    stages — e.g. near-dup removal, :func:`curation_with_neardup` — can
    compose with the identical downstream plan. The decontamination
    stage always reads the eval slice from ``sf_dir`` (its contract is
    against the fixed eval benchmark, not the possibly-filtered input)."""
    from pyspark.sql import Window

    if d is None:
        d = load_table(spark, sf_dir, "documents")
    # 1. exact dedup: keep the lowest doc_id per verbatim text
    w_dup = Window.partitionBy("text_hash").orderBy("doc_id")
    base = (
        d.withColumn("text_hash", F.sha2("text", 256))
        .withColumn("rn", F.row_number().over(w_dup))
        .filter(F.col("rn") == 1)
        # 2. quality floor: at least _MIN_TOKENS whitespace tokens
        .withColumn("n_tokens", F.size(F.split(F.col("text"), " +")))
        .filter(F.col("n_tokens") >= _MIN_TOKENS)
        .select("doc_id", "source", "lang", "text")
    )
    # 3. decontamination: drop the eval slice itself plus anything the
    # standalone operator would flag contaminated
    contaminated = q_doc_decontaminate(spark, sf_dir).filter(
        F.col("contaminated")
    ).select("doc_id")
    is_eval = (F.col("doc_id") % _EVAL_MOD) == _EVAL_REM
    clean = base.filter(~is_eval).join(F.broadcast(contaminated), "doc_id", "left_anti")
    # 4. mixture sampling with rates over the SURVIVING corpus — the
    # same _mixture_rates/_lehmer_u the standalone sampler uses, so the
    # composed pipeline cannot drift from the operator it composes
    rates = _mixture_rates(clean)
    h = _lehmer_h()
    u = _lehmer_u()
    sampled = clean.join(F.broadcast(rates), "source").filter(u < F.col("rate"))
    # 5. shard assignment + within-shard order
    w_pos = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        sampled.select("doc_id", "source", "lang", h.alias("h"))
        .withColumn("shard", (F.col("h") % _N_SHARDS).cast("int"))
        .withColumn("pos", F.row_number().over(w_pos))
        .select("doc_id", "source", "lang", "shard", "pos")
    )


ORACLE_PIPELINE = f"""
WITH base AS (
  SELECT doc_id, source, lang, text
  FROM (
    SELECT doc_id, source, lang, text,
           row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn,
           len(string_split_regex(text, ' +')) AS n_tokens
    FROM documents
  )
  WHERE rn = 1 AND n_tokens >= {_MIN_TOKENS}
),
contaminated AS (
  SELECT doc_id FROM ({ORACLE_DECONTAM}) WHERE contaminated
),
clean AS (
  SELECT * FROM base
  WHERE doc_id % {_EVAL_MOD} <> {_EVAL_REM}
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
),
counts AS (
  SELECT source, count(*) AS n_s, {_W_CASE} AS w FROM clean GROUP BY 1
),
tot AS (SELECT sum(n_s) AS n_total, sum(w) AS w_sum FROM counts),
rates AS (
  SELECT source,
         least(CAST(1.0 AS DOUBLE),
               w / w_sum * CAST({_MIX_TOTAL_FRAC} AS DOUBLE) * n_total / n_s
         ) AS rate
  FROM counts, tot
),
sampled AS (
  SELECT c.doc_id, c.source, c.lang, {_H_SQL} AS h
  FROM clean c JOIN rates r USING (source)
  WHERE {_U_SQL} < r.rate
)
SELECT doc_id, source, lang,
       CAST(h % {_N_SHARDS} AS INT) AS shard,
       CAST(row_number() OVER (
           PARTITION BY h % {_N_SHARDS} ORDER BY h, doc_id
       ) AS INT) AS pos
FROM sampled
"""


def neardup_twin_mass(d: DataFrame) -> int:
    """Verbatim-twin mass of a documents DataFrame: ``count(*) −
    count(distinct xxhash64(text))`` — 0 iff every text is unique
    (a ~2^-64 hash collision can only OVER-count mass, flipping the
    route toward collapsed — the duplicate-mass-proof path — so the
    failure direction is harmless). One map-side-combined aggregate
    over one scan; this is the ``curation_with_neardup`` auto-routing
    probe (r13 verdict #5), exposed so tests pin the routing decision
    itself."""
    return int(
        d.agg(
            (F.count("*") - F.countDistinct(F.xxhash64("text"))).alias("m")
        ).collect()[0]["m"]
    )


def curation_with_neardup(
    spark: SparkSession, sf_dir: str, collapsed: bool | None = None
) -> DataFrame:
    """The recommended RAW-INGEST ordering (r12 verdict #7): near-dup
    removal THROUGH the duplicate-mass-proof collapsed PPJoin, then the
    standard curation pipeline on the survivors — the composition a
    real ingest should run when verbatim twins have NOT been removed
    upstream (the registered ``doc_curation_pipeline`` assumes its own
    exact-dedup stage 1 is enough, which is true only after near-dups
    are already handled).

    Near-dup removal drops ANY PAIR LOSER: every doc appearing as
    ``doc_b`` of a PPJoin pair (jaccard ≥ T, doc_a < doc_b — which
    INCLUDES verbatim twins at jaccard 1.0) is removed. This is NOT
    transitive-aware greedy clustering (r13 advice #5): in a chain
    A~B~C with no A~C pair, C is dropped solely because of the
    already-dropped B — deterministic, identical across both join
    paths, but it can delete MORE docs than greedy
    cluster-representative selection would. Survivors flow into
    :func:`curation_pipeline` unchanged.

    ``collapsed=None`` (the default) SELF-TUNES (r13 verdict #5): one
    exact-hash aggregate — ``count(*) − count(distinct xxhash64(text))``,
    a single map-side-combined scan — measures verbatim-twin mass and
    routes collapsed when any exists, direct when zero. The probe costs
    one cheap pass; it removes the documented hand-ordering (twin-free
    → direct avoids the collapse pass's ~30% overhead; any twin mass →
    collapsed, whose verify cost rides unique-text volume where the
    direct path is Θ(dup²) — measured 86× at 16× twin mass, SCALE.md
    §16x-growth). Explicit True/False still forces a path (the pinned
    row-identity tests use both). Not registered: same result contract
    as the composition of two registered queries; this is the
    ordering-documentation surface, measured in SCALE.md §r13-composed."""
    from .dedup import ppjoin_pairs, ppjoin_pairs_collapsed

    d = load_table(spark, sf_dir, "documents")
    if collapsed is None:
        collapsed = neardup_twin_mass(d) > 0
    pairs = (ppjoin_pairs_collapsed if collapsed else ppjoin_pairs)(d)
    losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    survivors = d.join(losers, "doc_id", "left_anti")
    return curation_pipeline(spark, sf_dir, survivors)


# ---------------------------------------------------------------------------
# exact-substring contamination depth (longest verbatim run)

_RUN_W = 4  # window width in tokens; a streak of k windows = k+W-1 verbatim tokens


def q_doc_longest_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring contamination depth: for each training doc sharing
    any verbatim ``_RUN_W``-token window with the eval slice (``doc_id %
    10 == 7``), the number of matched windows and the LONGEST verbatim
    token run (maximal streak of consecutive matched positions — the
    "N contiguous tokens of an eval benchmark appear verbatim" check
    that shingle-overlap fractions can't express).

    Plan: Catalyst pushes the eval/train split below the explode into
    two DISJOINT pushed-predicate scans (~10% + ~90% of the corpus), so
    the positional explode work totals one corpus pass split across the
    two branches — cheaper than one shared scan + exchange would be;
    the eval side collapses to a distinct-hash set that AQE broadcasts
    into a semi-join; streak detection is the classic gaps-and-islands
    window (pos − row_number) over matched positions only — a shuffle
    of the MATCHED subset on doc_id, not the corpus.
    Join keys are 8-byte xxhash64 of the window text (the oracle joins
    on the strings themselves; same result modulo ~1e-9 collision odds).
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.split(F.col("text"), " +").alias("t")).repartition(
        "doc_id"
    )
    t = F.col("t")
    windows = F.transform(
        F.sequence(F.lit(1), F.size(t) - (_RUN_W - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(t, i + k) for k in range(_RUN_W)]),
    )
    win = (
        tok.filter(F.size(t) >= _RUN_W)
        .select("doc_id", F.posexplode(windows).alias("pos", "s"))
        .select("doc_id", "pos", F.xxhash64("s").alias("h"))
    )
    is_eval = (F.col("doc_id") % _EVAL_MOD) == _EVAL_REM
    ev = win.filter(is_eval).select("h").distinct()
    matched = win.filter(~is_eval).join(ev, "h", "left_semi")
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    streaks = (
        matched.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(F.count("*").alias("streak"))
    )
    return streaks.groupBy("doc_id").agg(
        F.sum("streak").alias("n_hit_windows"),
        (F.max("streak") + F.lit(_RUN_W - 1)).alias("longest_run_tokens"),
    )


_RUN_CAT = " || ' ' || ".join(f"t[i + {k + 1}]" for k in range(_RUN_W))
ORACLE_LONGEST_OVERLAP = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents
  WHERE len(string_split_regex(text, ' +')) >= {_RUN_W}
),
win AS (
  SELECT doc_id, CAST(i AS INTEGER) AS pos, {_RUN_CAT} AS s
  FROM (SELECT doc_id, t, unnest(range(len(t) - {_RUN_W - 1})) AS i FROM toks)
),
ev AS (SELECT DISTINCT s FROM win WHERE doc_id % {_EVAL_MOD} = {_EVAL_REM}),
matched AS (
  SELECT w.doc_id, w.pos FROM win w
  WHERE w.doc_id % {_EVAL_MOD} <> {_EVAL_REM} AND w.s IN (SELECT s FROM ev)
),
streaks AS (
  SELECT doc_id, grp, count(*) AS streak
  FROM (
    SELECT doc_id, pos,
           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
    FROM matched
  )
  GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(streak) AS BIGINT) AS n_hit_windows,
       CAST(max(streak) + {_RUN_W - 1} AS BIGINT) AS longest_run_tokens
FROM streaks
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# weighted sampling without replacement (Efraimidis–Spirakis)

_WS_TOP_K = 25


def q_doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement: per source, the top-25 docs
    by the Efraimidis–Spirakis key ln(u)/w (equivalent to ranking by
    u^(1/w)) with weight w = ln(1 + n_chars) — the "sample K docs per
    source, longer docs proportionally likelier" primitive of corpus
    assembly, deterministic across engines because u comes from the
    shared Lehmer hash of doc_id, not a RNG.

    Plan: a pure scan projection plus one per-source top-k window —
    Spark plans the rank filter as WindowGroupLimit, so each partition
    forwards only its local top-25 into the shuffle regardless of corpus
    size. u is offset by +0.5/M to stay strictly inside (0,1) (doc_id 0
    hashes to 0; ln(0) would produce -inf).

    Cross-engine hazard, mitigated: the key is ln-derived and libm ln is
    not bit-identical across engines (the PMI query's lesson), so the
    rank ORDER is taken on the key ROUNDED to 12 decimals with doc_id as
    the tie-break — a last-ulp divergence (~1e-16) collapses into the
    same rounded value on both engines instead of flipping the rank-25
    cutoff."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    u = (_lehmer_h() + F.lit(0.5)) / F.lit(float(_LEHMER_M))
    key = F.log(u) / F.log(F.lit(1.0) + F.col("n_chars"))
    w = Window.partitionBy("source").orderBy(
        F.desc(F.round(F.col("es_key_raw"), 12)), F.asc("doc_id")
    )
    return (
        d.select("source", "doc_id", "n_chars", key.alias("es_key_raw"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _WS_TOP_K)
        .select(
            "source",
            "doc_id",
            "n_chars",
            F.round("es_key_raw", 6).alias("es_key"),
            "rk",
        )
    )


_WS_U_SQL = f"(({_H_SQL} + 0.5) / {_LEHMER_M}.0)"
ORACLE_WEIGHTED_SAMPLE = f"""
WITH s AS (
  SELECT source, doc_id, n_chars,
         ln({_WS_U_SQL}) / ln(1.0 + n_chars) AS es_key_raw
  FROM documents
),
r AS (
  SELECT source, doc_id, n_chars, es_key_raw,
         row_number() OVER (PARTITION BY source
                            ORDER BY round(es_key_raw, 12) DESC, doc_id ASC) AS rk
  FROM s
)
SELECT source, doc_id, n_chars, round(es_key_raw, 6) AS es_key, rk
FROM r WHERE rk <= {_WS_TOP_K}
"""


_OVL_SRC_CAP = 10  # shingles spanning more sources than this are boilerplate


def q_doc_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how
    many distinct 3-word shingles they share, plus the overlap
    coefficient shared/min(|A|,|B|) — the corpus-level audit that
    catches one crawl slice republishing another before any doc-level
    dedup runs (the source-pair sibling of doc_decontaminate's
    eval-universe scrub).

    Same skeleton and scale guards as doc_ngram_jaccard_pairs: the
    corpus collapses to the distinct (source, shingle) table, the
    self-join runs on the shingle's 8-byte hash over a universe capped
    at _OVL_SRC_CAP sources per shingle (a shingle in most sources is
    template noise and would dominate the join for zero signal), and
    singleton shingles are pruned before the join. Per-source sizes
    come from the capped universe so the coefficient is a true set
    overlap of the sets actually joined. Output is |sources|² rows —
    constant, whatever the corpus size."""
    d = load_table(spark, sf_dir, "documents")
    tok_df = d.select(
        "source", F.split(F.col("text"), " +").alias("t")
    ).repartition("source")
    t = F.col("t")
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(t) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(t, i), F.element_at(t, i + 1), F.element_at(t, i + 2)
        ),
    )
    ssh = (
        tok_df.filter(F.size(t) >= 3)
        .select("source", F.explode(shingles).alias("shingle"))
        .select("source", F.xxhash64("shingle").alias("h"))
        .distinct()
        .repartition("h")
    )
    dfs = ssh.groupBy("h").agg(F.count("*").alias("n_src"))
    capped = ssh.join(dfs.filter(F.col("n_src") <= _OVL_SRC_CAP), "h")
    sizes = capped.groupBy("source").agg(F.count("*").alias("n_sh"))
    joinable = capped.filter(F.col("n_src") >= 2).select("source", "h")
    a = joinable.alias("a")
    b = joinable.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count("*").alias("shared_shingles"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n_sh").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_shingles",
            F.round(
                F.col("shared_shingles") / F.least(F.col("n_a"), F.col("n_b")), 4
            ).alias("overlap_coef"),
        )
    )


ORACLE_SOURCE_OVERLAP = f"""
WITH toks AS (
  SELECT source, string_split_regex(text, ' +') AS t FROM documents
  WHERE len(string_split_regex(text, ' +')) >= 3
),
ssh AS (
  SELECT DISTINCT source, shingle FROM (
    SELECT source, t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS shingle
    FROM (SELECT source, t, unnest(range(len(t) - 2)) AS i FROM toks)
  )
),
dfs AS (SELECT shingle, count(*) AS n_src FROM ssh GROUP BY 1),
capped AS (
  SELECT s.source, s.shingle, dfs.n_src FROM ssh s
  JOIN dfs ON dfs.shingle = s.shingle AND dfs.n_src <= {_OVL_SRC_CAP}
),
sizes AS (SELECT source, count(*) AS n_sh FROM capped GROUP BY 1),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared_shingles
  FROM capped a JOIN capped b
    ON a.shingle = b.shingle AND a.source < b.source
  WHERE a.n_src >= 2
  GROUP BY 1, 2
)
SELECT source_a, source_b, shared_shingles,
       round(CAST(shared_shingles AS DOUBLE) / least(sa.n_sh, sb.n_sh), 4)
         AS overlap_coef
FROM pairs
JOIN sizes sa ON sa.source = source_a
JOIN sizes sb ON sb.source = source_b
"""


_DRIFT_MOD = 10
_DRIFT_REF_LT = 8  # vec_id % 10 < 8 → reference batch, else current


def q_emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding distribution drift between a REFERENCE batch and a
    CURRENT batch (deterministic vec_id split stands in for the two
    snapshots): per label, cosine similarity and L2 distance between the
    two batch centroids plus both batch sizes — the monitor a training
    pipeline alarms on before a new data drop shifts the feature space.

    Plan: one posexplode feeds a (label, split, pos) mean — the only
    wide exchange, and its output is |labels|·2·dim rows regardless of
    corpus size; the ref/cur centroid join and the per-label reduction
    are over that tiny table. Batch counts come from an un-exploded
    |labels|·2-row aggregate. Vectors themselves are never shuffled, so
    the operator costs one scan + one explode-aggregate at any scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    split = F.when(
        (F.col("vec_id") % _DRIFT_MOD) < _DRIFT_REF_LT, F.lit("ref")
    ).otherwise(F.lit("cur"))
    e = emb.select(
        "vec_id", "label", split.alias("split"), F.posexplode("embedding").alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double"))
    cent = e.groupBy("label", "split", "pos").agg(F.avg("v").alias("c"))
    ref = cent.filter(F.col("split") == "ref").select(
        "label", "pos", F.col("c").alias("cr")
    )
    cur = cent.filter(F.col("split") == "cur").select(
        "label", "pos", F.col("c").alias("cc")
    )
    per_label = (
        ref.join(cur, ["label", "pos"])
        .groupBy("label")
        .agg(
            F.sum(F.col("cr") * F.col("cc")).alias("dot"),
            F.sqrt(F.sum(F.col("cr") * F.col("cr"))).alias("nr"),
            F.sqrt(F.sum(F.col("cc") * F.col("cc"))).alias("nc"),
            F.sqrt(
                F.sum((F.col("cr") - F.col("cc")) * (F.col("cr") - F.col("cc")))
            ).alias("l2"),
        )
    )
    counts = (
        emb.groupBy("label")
        .agg(
            F.sum(((F.col("vec_id") % _DRIFT_MOD) < _DRIFT_REF_LT).cast("long")).alias(
                "n_ref"
            ),
            F.sum(((F.col("vec_id") % _DRIFT_MOD) >= _DRIFT_REF_LT).cast("long")).alias(
                "n_cur"
            ),
        )
    )
    # anchor on counts (one row per label in the CORPUS) and left-join
    # the two-sided centroid stats: a label present in only one batch —
    # the loudest drift signal (vanished or brand-new) — still emits a
    # row, with NULL cosine/l2 marking "no comparison possible"
    return counts.join(per_label, "label", "left").select(
        "label",
        "n_ref",
        "n_cur",
        F.round(
            F.when(
                F.col("nr").isNotNull() & F.col("nc").isNotNull(),
                F.when(
                    (F.col("nr") > 0) & (F.col("nc") > 0),
                    F.col("dot") / (F.col("nr") * F.col("nc")),
                ).otherwise(F.lit(0.0)),
            ),
            4,
        ).alias("centroid_cosine"),
        F.round("l2", 4).alias("centroid_l2"),
    )


ORACLE_CENTROID_DRIFT = f"""
WITH e AS (
  SELECT vec_id, label,
         CASE WHEN vec_id % {_DRIFT_MOD} < {_DRIFT_REF_LT}
              THEN 'ref' ELSE 'cur' END AS split,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
cent AS (SELECT label, split, pos, avg(v) AS c FROM e GROUP BY 1, 2, 3),
per_label AS (
  SELECT r.label,
         sum(r.c * c2.c) AS dot,
         sqrt(sum(r.c * r.c)) AS nr,
         sqrt(sum(c2.c * c2.c)) AS nc,
         sqrt(sum((r.c - c2.c) * (r.c - c2.c))) AS l2
  FROM cent r
  JOIN cent c2 ON c2.label = r.label AND c2.pos = r.pos AND c2.split = 'cur'
  WHERE r.split = 'ref'
  GROUP BY 1
),
counts AS (
  SELECT label,
         CAST(sum(CASE WHEN vec_id % {_DRIFT_MOD} < {_DRIFT_REF_LT}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(sum(CASE WHEN vec_id % {_DRIFT_MOD} >= {_DRIFT_REF_LT}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
  FROM embeddings GROUP BY 1
)
SELECT c.label, c.n_ref, c.n_cur,
       round(CASE WHEN p.label IS NULL THEN NULL
                  WHEN p.nr > 0 AND p.nc > 0 THEN p.dot / (p.nr * p.nc)
                  ELSE 0.0 END, 4)
         AS centroid_cosine,
       round(p.l2, 4) AS centroid_l2
FROM counts c
LEFT JOIN per_label p ON p.label = c.label
"""


_SPLIT_TRAIN = 0.8
_SPLIT_VAL = 0.9  # train < 0.8 <= val < 0.9 <= test


def q_doc_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split assignment (80/10/10) from the
    shared portable Lehmer id-hash — every training pipeline's first
    partitioning decision, reproducible bit-for-bit across engines,
    reruns, and cluster sizes (no randomness, no state: membership is a
    pure function of doc_id, so late-arriving docs can't reshuffle
    earlier assignments).

    Plan: a non-shuffling scan filter — one projection over the corpus;
    the split audit (per source × split counts for leakage review) is
    the natural follow-up aggregate and stays one small shuffle. The
    same hash drives the stratified/mixture samplers, so sample and
    split compose consistently."""
    d = load_table(spark, sf_dir, "documents")
    u = _lehmer_u()
    split = (
        F.when(u < _SPLIT_TRAIN, F.lit("train"))
        .when(u < _SPLIT_VAL, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return d.select(
        "doc_id",
        "source",
        F.round(u, 6).alias("split_u"),
        split.alias("split"),
    )


ORACLE_SPLIT_ASSIGN = f"""
SELECT doc_id, source,
       round({_U_SQL}, 6) AS split_u,
       CASE WHEN {_U_SQL} < {_SPLIT_TRAIN} THEN 'train'
            WHEN {_U_SQL} < {_SPLIT_VAL} THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


# --- Bloom-filter decontamination (the 100 TB broadcast) --------------------

_BLOOM_M = 1 << 16  # filter bits
_BLOOM_K = 4  # hash functions per shingle


def q_doc_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination through a Bloom filter — the broadcast
    that actually scales. ``doc_decontaminate`` ships the eval corpus's
    distinct shingle-hash SET to every probe task; at 100 TB with a
    large benchmark suite that set is the broadcast bottleneck. The
    Bloom filter replaces it with a FIXED-size bitset ({_BLOOM_M} bits,
    {_BLOOM_K} Lehmer-derived bit positions per 3-word shingle): probe
    cost is k integer hashes + k bitset lookups per shingle, and the
    one-sided error is the safe direction for decontamination (false
    positives over-flag, never under-flag).

    Fully oracle-checked: shingle hashes are the portable char-code
    fold and bit positions the Lehmer mix, so DuckDB rebuilds the
    IDENTICAL bitset — the driver hash-gate covers the filter's exact
    false-positive behavior, which every row also carries in-band
    (n_bloom_hit ≥ n_hit by construction; n_false_pos is the audit).

    Plan: one shingle explode feeds both sides; the eval bitset
    aggregates to an m/64-word bitmask ARRAY in a single row (bit_or
    per word, then a dense transform over the word index) that
    BROADCASTS as a ~m/8-byte payload — the production shape; the probe
    then tests its k bit positions INLINE per shingle row against the
    mask (element_at + shiftright + and), so the Bloom membership test
    is pure per-row expression work: no explode, no join, no shuffle.
    (A first cut melted each shingle into k bit rows and counted
    matched bits through a join+groupBy — measured 9 s at sf0.1 against
    ~3 s for this form; the bitmask kills that shuffle entirely.) The
    exact-membership audit join reuses the eval hash set the Bloom
    replaces, at fixture scale where that's free."""
    from ..dedup import _PORT_A, _PORT_M, _port_mix, distinct_shingle_hash_array

    # two measured guards on the shingle stage: (1) spread DOCS across
    # cores BEFORE the k-gram construction (a small parquet file scans
    # as ONE partition — measured 8.4 s single-slot vs ~1.7 s spread at
    # sf0.1; shuffling raw doc rows round-robin beat a post-split
    # repartition("doc_id") barrier carrying token arrays, 1.7 s vs
    # 2.9 s, so the split inlining is the cheaper side here); (2) the
    # shingle hashes come from the composed per-token fold over the
    # DISTINCT shingle strings (r14, dedup.distinct_shingle_hash_array
    # — value-identical to word_shingles + portable_token_hash
    # including string-level distinctness, ~3× less interpreted char
    # folding), whose empty array for <3-token docs replaces the
    # former explicit filter — word_shingles would emit a SHORTER
    # shingle for them (concat_ws skips nulls) while the oracle's
    # range() emits none.
    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    sh = (
        d.select(
            "doc_id",
            F.explode(
                distinct_shingle_hash_array(F.split(F.col("text"), " +"))
            ).alias("h0"),
        )
        .localCheckpoint(eager=False)
    )
    is_eval = (F.col("doc_id") % _EVAL_MOD) == _EVAL_REM
    ev = sh.filter(is_eval).select("h0").distinct().localCheckpoint(eager=False)
    j_arr = F.array(*[F.lit(j) for j in range(_BLOOM_K)])
    bitpos = _port_mix(F.col("h0"), F.col("j")) % _BLOOM_M
    n_words = _BLOOM_M // 64
    maskrow = (
        ev.select("h0", F.explode(j_arr).alias("j"))
        .select(bitpos.alias("bit"))
        .distinct()
        .select(
            F.shiftright(F.col("bit"), 6).cast("int").alias("w"),
            (F.col("bit") % 64).cast("int").alias("p"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), p))").alias("m"))
        .agg(F.map_from_entries(F.collect_list(F.struct("w", "m"))).alias("mm"))
        .select(
            F.expr(
                f"transform(sequence(0, {n_words - 1}),"
                " i -> coalesce(element_at(mm, i), CAST(0 AS BIGINT)))"
            ).alias("mask")
        )
    )
    # all-k-bits-set membership test, inline per shingle row; the bit
    # formula is _port_mix(h0, j) % m, re-derived inside the expr
    bit_sql = f"(((h0 * 64 + j) % {_PORT_M}) * {_PORT_A} % {_PORT_M} * {_PORT_A} % {_PORT_M}) % {_BLOOM_M}"
    bloom_hit = F.expr(
        f"""
        aggregate(sequence(0, {_BLOOM_K - 1}), true, (acc, j) -> acc AND (
          (shiftright(element_at(mask, CAST(({bit_sql}) div 64 AS INT) + 1),
                      CAST(({bit_sql}) % 64 AS INT)) & CAST(1 AS BIGINT))
          = CAST(1 AS BIGINT)))
        """
    )
    tr = sh.filter(~is_eval)
    exact_hits = ev.withColumn("hit", F.lit(1))
    return (
        tr.join(exact_hits, "h0", "left")
        .crossJoin(F.broadcast(maskrow))
        .withColumn("bloom_hit", F.when(bloom_hit, F.lit(1)))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sh"),
            F.count("bloom_hit").alias("n_bloom_hit"),
            F.count("hit").alias("n_hit"),
        )
        .filter(F.col("n_bloom_hit") > 0)
        .select(
            "doc_id",
            "n_sh",
            "n_bloom_hit",
            "n_hit",
            (F.col("n_bloom_hit") - F.col("n_hit")).alias("n_false_pos"),
        )
        # no trailing orderBy (order-insensitive hash; sort = wasted exchange)
    )


def _bloom_oracle_sql() -> str:
    from ..dedup import _PORT_A as A, _PORT_BASE as BASE, _PORT_M as M

    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents
  WHERE len(string_split_regex(text, ' +')) >= 3
),
sh_all AS (
  SELECT DISTINCT doc_id, t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS s
  FROM (SELECT doc_id, t, unnest(range(len(t) - 2)) AS i FROM toks)
),
h AS (
  SELECT doc_id,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(s, ''),
                            c -> CAST(ascii(c) AS BIGINT))),
           (acc, c) -> (acc * {BASE} + c) % {M}) AS h0
  FROM sh_all
),
ev AS (SELECT DISTINCT h0 FROM h WHERE doc_id % {_EVAL_MOD} = {_EVAL_REM}),
jj AS (SELECT unnest(range({_BLOOM_K})) AS j),
bits AS (
  SELECT DISTINCT ((h0 * 64 + j) % {M}) * {A} % {M} * {A} % {M} % {_BLOOM_M} AS bit
  FROM ev CROSS JOIN jj
),
tr AS (SELECT doc_id, h0 FROM h WHERE doc_id % {_EVAL_MOD} <> {_EVAL_REM}),
bloom_hits AS (
  SELECT p.doc_id, p.h0
  FROM (SELECT doc_id, h0,
               ((h0 * 64 + j) % {M}) * {A} % {M} * {A} % {M} % {_BLOOM_M} AS bit
        FROM tr CROSS JOIN jj) p
  JOIN bits ON p.bit = bits.bit
  GROUP BY 1, 2
  HAVING count(*) = {_BLOOM_K}
),
agg AS (
  SELECT tr.doc_id,
         count(*) AS n_sh,
         CAST(sum(CASE WHEN bh.h0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hit,
         CAST(sum(CASE WHEN ev.h0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
  FROM tr
  LEFT JOIN ev ON tr.h0 = ev.h0
  LEFT JOIN bloom_hits bh ON tr.doc_id = bh.doc_id AND tr.h0 = bh.h0
  GROUP BY 1
)
SELECT doc_id, n_sh, n_bloom_hit, n_hit,
       n_bloom_hit - n_hit AS n_false_pos
FROM agg
WHERE n_bloom_hit > 0
ORDER BY doc_id
"""


ORACLE_BLOOM_DECONTAM = _bloom_oracle_sql()



_GIDX_PARTS = 32


_GIDX_SAMPLE = _GIDX_PARTS * 128  # boundary sample cap: 4096 keys, driver-side


def _key_ge(order_cols: list, bound: tuple):
    """Lexicographic ``(col_0, …, col_k) >= (bound_0, …, bound_k)`` as a
    plain boolean expression over literals."""
    c0, b0 = F.col(order_cols[0]), F.lit(bound[0])
    if len(order_cols) == 1:
        return c0 >= b0
    return (c0 > b0) | ((c0 == b0) & _key_ge(order_cols[1:], bound[1:]))


def _range_pid(
    df: DataFrame, order_cols: list, memo_key: tuple[str, str] | None = None
) -> DataFrame:
    """Ordered equi-depth bucket id (``pid``) as a DETERMINISTIC literal
    expression, replacing ``repartitionByRange + spark_partition_id``.

    Why not the partitioner: ``repartitionByRange`` draws its boundary
    sample with a seed derived from the RDD id, so two ACTIONS over the
    same lineage (the per-bucket ranks and the bucket-offset table are
    separate jobs rejoined on pid) can see DIFFERENT boundaries — the
    pid spaces then disagree and offset+rank is garbage. Sub-sampling
    only kicks in past ~thousands of rows per partition, so small
    fixtures never trip it while large ones do.

    Here the boundaries are computed ONCE — a bounded distributed
    bottom-k by ``xxhash64`` of the key columns (TakeOrdered, one
    column-pruned pass, ≤ ``_GIDX_SAMPLE`` rows collected) — sorted,
    thinned to ≤ ``_GIDX_PARTS − 1`` cut points, and baked into the
    returned plan as literals. Every branch of every downstream job
    shares the identical bucket function by construction, and the
    rank/cumsum results are boundary-placement-independent anyway (the
    sample only controls balance). Window shuffles on pid replace the
    range exchange; parallelism stays |buckets| ≈ ``_GIDX_PARTS``.

    ``memo_key`` is ``(sf_dir, "<table>.<universe>")``, naming the
    multiset of keys sampled from fixture ``<table>``: the bounds are
    memoized per session under that name and the table's
    :func:`~..io.fixture_version`. The bounds are a deterministic
    function of the key universe, so memoized bounds equal recomputed
    ones; callers sharing a name must sample the same multiset."""
    if memo_key is None:
        return _with_pid(df, order_cols, _sample_bounds(df, order_cols))
    sf_dir, name = memo_key
    bounds = session_memo(
        df.sparkSession,
        ("pid_bounds", name, sf_dir, fixture_version(sf_dir, name.split(".")[0])),
        lambda: _sample_bounds(df, order_cols),
    )
    return _with_pid(df, order_cols, bounds)


def _sample_bounds(df: DataFrame, order_cols: list) -> list:
    smp = (
        df.select(*order_cols)
        .orderBy(F.xxhash64(*order_cols), *order_cols)
        .limit(_GIDX_SAMPLE)
        .collect()
    )
    keys = sorted(tuple(r) for r in smp)
    step = max(1, len(keys) // _GIDX_PARTS)
    bounds: list = []
    for i in range(step, len(keys), step):
        if not bounds or keys[i] != bounds[-1]:
            bounds.append(keys[i])
    return bounds


def _with_pid(df: DataFrame, order_cols: list, bounds: list) -> DataFrame:
    pid = F.lit(0)
    for b in bounds[: _GIDX_PARTS - 1]:
        pid = pid + _key_ge(order_cols, b).cast("int")
    # NOTE (r15, measured): repartitioning on pid here to share one
    # exchange between the window and offsets consumers does NOT pay —
    # column pruning gives the two branches different exchange subtrees
    # (no ReuseExchange) and the repartition kills the offsets branch's
    # map-side partial aggregation (32 shuffled rows became |df|). The
    # two-subtree shape with a column-pruned second scan is the better
    # trade at every scale.
    return df.withColumn("pid", pid)


def _global_rank(
    df: DataFrame,
    order_cols: list,
    out: str = "global_id",
    memo_key: tuple[str, str] | None = None,
) -> DataFrame:
    """Dense 0-based global rank by ``order_cols`` (a deterministic total
    order) without a single-partition window: deterministic range-bucket
    id (:func:`_range_pid`), per-bucket ``row_number`` (sorts run in
    parallel), and a |buckets|-row running-count offset table broadcast
    back — ``out = offset + local_rank - 1``. The result is independent
    of where the bucket boundaries fall (bucket i holds only keys ≤
    bucket i+1's), so it reproduces ``row_number() OVER (ORDER BY ...)
    - 1`` exactly; the single-partition exchange exists only under the
    tiny offsets aggregate. The global-order primitive shared by the
    shard indexer and the quantile normalizer."""
    with_pid = _range_pid(df, order_cols, memo_key=memo_key)
    w_local = Window.partitionBy("pid").orderBy(*order_cols)
    local = with_pid.withColumn("local_rank", F.row_number().over(w_local))
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        with_pid.groupBy("pid")
        .agg(F.count("*").alias("n"))
        .withColumn("offset", F.coalesce(F.sum("n").over(w_off), F.lit(0)))
        .select("pid", "offset")
    )
    return (
        local.join(F.broadcast(offsets), "pid")
        .withColumn(out, F.col("offset") + F.col("local_rank") - 1)
        .drop("pid", "local_rank", "offset")
    )


def q_doc_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified train/val/test split with EXACT per-stratum
    proportions: within every (source, lang) stratum, docs are ordered
    by the portable Lehmer hash (a deterministic shuffle) and the first
    ⌊0.8n⌋ go to train, the next ⌊0.9n⌋−⌊0.8n⌋ to val, the rest to
    test — integer cross-products (10·rank ≤ 8·n) decide membership,
    so the allocation is exact at every stratum size, unlike the plain
    hash split (q_doc_split_assign) whose per-stratum fractions only
    CONVERGE to 80/10/10 and can starve a small stratum's val/test
    entirely. This is the split a per-source/per-language eval demands.

    Plan: one window per stratum (partitioned — the sorts run in
    parallel across strata, no global order anywhere) over a broadcast
    of per-stratum counts. Reproducible bit-for-bit: membership is a
    pure function of (doc_id, stratum census), no RNG state."""
    d = load_table(spark, sf_dir, "documents")
    h = _lehmer_h()
    w = Window.partitionBy("source", "lang").orderBy(h.asc(), F.col("doc_id").asc())
    n_w = Window.partitionBy("source", "lang")
    ranked = d.select("doc_id", "source", "lang").withColumn(
        "r", F.row_number().over(w)
    ).withColumn("n", F.count("*").over(n_w))
    split = (
        F.when(F.col("r") * 10 <= F.col("n") * 8, F.lit("train"))
        .when(F.col("r") * 10 <= F.col("n") * 9, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return ranked.select("doc_id", "source", "lang", split.alias("split"))


ORACLE_STRAT_SPLIT = f"""
WITH ranked AS (
  SELECT doc_id, source, lang,
         row_number() OVER (PARTITION BY source, lang
                            ORDER BY {_H_SQL} ASC, doc_id ASC) AS r,
         count(*) OVER (PARTITION BY source, lang) AS n
  FROM documents
)
SELECT doc_id, source, lang,
       CASE WHEN r * 10 <= n * 8 THEN 'train'
            WHEN r * 10 <= n * 9 THEN 'val'
            ELSE 'test' END AS split
FROM ranked
"""


_PACK_BUDGET = 2048  # tokens per packed training sequence


def q_doc_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing — the LLM-dataloader prep step:
    the corpus is concatenated in doc_id order and chopped into fixed
    2048-token training sequences; each document reports the sequence
    it STARTS in, its offset inside that sequence, and how many chop
    boundaries it spans (n_splits = 0 ⇒ the doc lands whole — the
    fraction of unsplit docs is the packing-quality metric a context-
    window choice is judged by). Chop-on-the-cumulative-scale is the
    deterministic packing (greedy "reset the counter" bin packing is a
    sequential recursion; the chop is what concat-and-split dataloaders
    actually do, and it is exactly prefix-sum-expressible).

    The running token total is the _global_rank discipline generalized
    to SUMS: range-exchange on doc_id, per-partition cumulative sum
    (parallel sorts), and a |partitions|-row broadcast of per-partition
    token totals' running offsets — never a single-partition global
    window, which is the trap the DuckDB oracle's plain
    ``sum() OVER (ORDER BY ...)`` embodies at 100 TB. All integers;
    the engines cannot disagree."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.size(F.filter(F.split("text", " +"), lambda x: x != "")).cast(
            "long"
        ).alias("n_tok"),
    )
    # deterministic literal bucket id, NOT repartitionByRange +
    # spark_partition_id: the two consumers below are separate jobs, and
    # the range partitioner's per-RDD-id boundary sampling can give them
    # different pid spaces past the sampling threshold (see _range_pid —
    # the r14 sf1.0 battery caught exactly that in _global_rank).
    # "documents.doc_id" is shared with doc_global_index: both sample
    # every documents row's doc_id, the same multiset
    with_pid = _range_pid(toks, ["doc_id"], memo_key=(sf_dir, "documents.doc_id"))
    w_local = Window.partitionBy("pid").orderBy("doc_id")
    local = with_pid.withColumn("local_cum", F.sum("n_tok").over(w_local))
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        with_pid.groupBy("pid")
        .agg(F.sum("n_tok").alias("t"))
        .withColumn("offset", F.coalesce(F.sum("t").over(w_off), F.lit(0)))
        .select("pid", "offset")
    )
    cum = (
        local.join(F.broadcast(offsets), "pid")
        .withColumn("cum", F.col("offset") + F.col("local_cum"))
        .withColumn("start", F.col("cum") - F.col("n_tok"))
    )
    b = F.lit(_PACK_BUDGET)
    return cum.filter(F.col("n_tok") > 0).select(
        "doc_id",
        "n_tok",
        F.floor(F.col("start") / b).cast("long").alias("seq_id"),
        (F.col("start") % b).cast("long").alias("seq_offset"),
        (F.floor((F.col("cum") - 1) / b) - F.floor(F.col("start") / b))
        .cast("long")
        .alias("n_splits"),
    )


ORACLE_SEQ_PACKING = f"""
WITH toks AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, ' +'), x -> x <> ''))
           AS n_tok
  FROM documents
),
cum AS (
  SELECT doc_id, n_tok,
         sum(n_tok) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM toks
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
       CAST((cum - n_tok) // {_PACK_BUDGET} AS BIGINT) AS seq_id,
       CAST((cum - n_tok) % {_PACK_BUDGET} AS BIGINT) AS seq_offset,
       CAST((cum - 1) // {_PACK_BUDGET}
            - (cum - n_tok) // {_PACK_BUDGET} AS BIGINT) AS n_splits
FROM cum WHERE n_tok > 0
"""


def q_doc_global_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense contiguous global row index (0..N-1 by doc_id) WITHOUT a
    single-partition global window — the "zipWithIndex" every training
    pipeline needs to stamp stable sample indices onto shards, done
    declaratively: range-exchange on doc_id, a per-partition
    ``row_number`` (each window partition is one Spark partition, so
    the sorts run in parallel), a |partitions|-row offset table
    (running count over partition ids) broadcast back, and
    ``global_id = offset + local_rank - 1``.

    The index is independent of WHERE the range boundaries fall: range
    partition i holds only keys ≤ partition i+1's, so offset+local rank
    reproduces exactly ``row_number() OVER (ORDER BY doc_id)`` — which
    is what the DuckDB oracle runs. At 100 TB the oracle's plan is the
    trap (ORDER BY over everything into ONE task); the engine's plan is
    a partial sort per range plus a 32-row broadcast, the same shape
    ``df.write.sortBy`` uses. Stamps source/n_chars through so the
    output is a usable shard manifest, not just an id map."""
    d = load_table(spark, sf_dir, "documents")
    return _global_rank(
        d.select("doc_id", "source", "n_chars"),
        ["doc_id"],
        # shared with doc_sequence_packing: the same doc_id multiset
        memo_key=(sf_dir, "documents.doc_id"),
    ).select("doc_id", "global_id", "source", "n_chars")


ORACLE_GIDX = """
SELECT doc_id,
       row_number() OVER (ORDER BY doc_id) - 1 AS global_id,
       source, n_chars
FROM documents
"""



_PSI_BINS = 10
_PSI_WIDTH = 60  # chars per bin; bin 9 is open-ended


def q_doc_source_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per source — the standard drift gauge
    between each source's document-length distribution and the corpus
    reference: PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i) over fixed
    equi-width n_chars bins, Laplace-smoothed (+0.5 per bin) so silent
    bins contribute a finite penalty instead of log(0). PSI < 0.1 is
    conventionally "stable", > 0.25 "shifted" — the monitoring check a
    training-data pipeline runs per ingest batch before a new source is
    allowed into the mixture.

    Shape at 100 TB: one scan bins the corpus (a pure projection), two
    count aggregates (|sources|×|bins| and |bins| rows) and the grid
    densification are all on KB-sized aggregate tables; the reference
    row set (10 rows) broadcasts onto the per-source grid. FIXED bins —
    not quantiles — keep the gauge mergeable across ingest batches and
    identical across engines (no percentile estimation drift)."""
    d = load_table(spark, sf_dir, "documents")
    bin_col = F.least(
        F.lit(_PSI_BINS - 1), F.floor(F.col("n_chars") / _PSI_WIDTH)
    ).cast("int")
    binned = d.select("source", bin_col.alias("bin"))
    grid = (
        binned.select("source")
        .distinct()
        .select("source", F.explode(F.sequence(F.lit(0), F.lit(_PSI_BINS - 1))).alias("bin"))
    )
    sc = (
        grid.join(binned.groupBy("source", "bin").agg(F.count("*").alias("c")),
                  ["source", "bin"], "left")
        .select("source", "bin", F.coalesce("c", F.lit(0)).alias("c"))
    )
    ref = (
        sc.groupBy("bin").agg(F.sum("c").alias("r"))
        .crossJoin(F.broadcast(sc.groupBy().agg(F.sum("c").alias("n_total"))))
    )
    totals = sc.groupBy("source").agg(F.sum("c").alias("n_docs"))
    p = (F.col("c") + 0.5) / (F.col("n_docs") + 0.5 * _PSI_BINS)
    q = (F.col("r") + 0.5) / (F.col("n_total") + 0.5 * _PSI_BINS)
    return (
        sc.join(totals, "source")
        .join(F.broadcast(ref), "bin")
        .withColumn("term", (p - q) * F.log(p / q))
        .groupBy("source")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.round(F.sum("term"), 4).alias("psi"),
        )
    )


ORACLE_PSI = f"""
WITH binned AS (
  SELECT source,
         CAST(least({_PSI_BINS} - 1, floor(n_chars / {_PSI_WIDTH})) AS INT) AS bin
  FROM documents
),
grid AS (
  SELECT s.source, b.bin
  FROM (SELECT DISTINCT source FROM binned) s
  CROSS JOIN (SELECT unnest(range({_PSI_BINS})) AS bin) b
),
sc AS (
  SELECT g.source, g.bin, CAST(coalesce(c.c, 0) AS BIGINT) AS c
  FROM grid g LEFT JOIN (
    SELECT source, bin, count(*) AS c FROM binned GROUP BY 1, 2
  ) c ON c.source = g.source AND c.bin = g.bin
),
ref AS (
  SELECT bin, CAST(sum(c) AS BIGINT) AS r FROM sc GROUP BY 1
),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM sc),
totals AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs FROM sc GROUP BY 1)
SELECT sc.source, max(totals.n_docs) AS n_docs,
       round(sum(((sc.c + 0.5) / (totals.n_docs + 0.5 * {_PSI_BINS})
                  - (ref.r + 0.5) / (tot.n_total + 0.5 * {_PSI_BINS}))
                 * ln(((sc.c + 0.5) / (totals.n_docs + 0.5 * {_PSI_BINS}))
                      / ((ref.r + 0.5) / (tot.n_total + 0.5 * {_PSI_BINS})))), 4)
         AS psi
FROM sc
JOIN totals USING (source)
JOIN ref USING (bin)
CROSS JOIN tot
GROUP BY sc.source
"""



def q_doc_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of document length across sources — the
    batch-effect correction that maps each doc's WITHIN-SOURCE rank
    onto the GLOBAL length distribution (nearest-rank): after it, every
    source has the same length distribution, so a verbose source can't
    dominate a length-weighted mixture by inflation alone. Emits the
    original and normalized lengths per doc.

    All ranks are exact integers over the deterministic total order
    (n_chars, doc_id): the within-source rank is an ordinary
    partitioned window; the GLOBAL sorted lookup table reuses the
    ``_global_rank`` range-exchange primitive (never a single-partition
    window over the corpus); the nearest-rank pick
    ``ceil(r·N / n_s)`` is integer arithmetic, and the final lookup is
    an equi-join on the picked index. No floats anywhere until the
    (integer) output."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    w_src = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    # n_s rides the SAME window pass as the rank (unbounded count over
    # the source partition — the oracle's exact shape): one scan and
    # one exchange instead of a second scan + aggregate + join
    ranked = d.withColumn("r", F.row_number().over(w_src)).withColumn(
        "n_s", F.count("*").over(Window.partitionBy("source"))
    )
    n_tot = d.groupBy().agg(F.count("*").alias("n_total"))
    glob = _global_rank(
        d,
        ["n_chars", "doc_id"],
        out="g",
        memo_key=(sf_dir, "documents.n_chars,doc_id"),
    ).select(
        (F.col("g") + 1).alias("k"), F.col("n_chars").alias("norm_chars")
    )
    return (
        ranked.crossJoin(F.broadcast(n_tot))
        # nearest-rank: the global order statistic at ceil(r*N/n_s)
        .withColumn("k", F.ceil(F.col("r") * F.col("n_total") / F.col("n_s")))
        .join(glob, "k")
        .select("doc_id", "source", "n_chars", "norm_chars")
    )


ORACLE_QNORM = """
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS r,
         count(*) OVER (PARTITION BY source) AS n_s,
         count(*) OVER () AS n_total
  FROM documents
),
gref AS (
  SELECT row_number() OVER (ORDER BY n_chars, doc_id) AS k,
         n_chars AS norm_chars
  FROM documents
)
SELECT ranked.doc_id, ranked.source, ranked.n_chars, gref.norm_chars
FROM ranked
JOIN gref ON gref.k = CAST(ceil(ranked.r * ranked.n_total
                                / CAST(ranked.n_s AS DOUBLE)) AS BIGINT)
"""


_PCV_FOLDS = 5
_PCV_EMBARGO_S = 21_600  # 6 h: the temporal-correlation horizon


def q_events_purged_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged K-fold cross-validation plan with embargo (de Prado's
    leakage-safe CV for temporally-correlated data) — the split a
    time-series training pipeline must use where doc_split_assign's
    hash split would leak: the event-time span divides into K
    contiguous blocks (integer-second arithmetic, no ntile/global
    sort), each fold's TEST set is its block, and TRAIN excludes both
    the block and an embargo margin of ±6 h around it, so trailing
    correlation can't tunnel label information across the boundary.

    Emits the per-fold audit row (block bounds, test/train/purged
    counts, and fold_usable — both test and train non-empty — as a
    gate column). Plan: one scalar min/max aggregate broadcast in, a
    5-row fold spine cross-joined (pure projection, K× map
    amplification — no shuffle), one final aggregate on fold. At
    100 TB: identical shape; the spine join is the standard
    all-folds-in-one-pass trick, never K separate scans."""
    e = load_table(spark, sf_dir, "events").select(
        F.unix_seconds(F.col("ts")).alias("t")
    )
    span = e.groupBy().agg(
        F.min("t").alias("tmin"), (F.max("t") - F.min("t") + 1).alias("span")
    )
    folds = spark.createDataFrame([(f,) for f in range(_PCV_FOLDS)], "fold int")
    # integer division on BOTH sides (Spark `div`, DuckDB `//`): float
    # division + cast diverges — Spark's cast-to-long truncates, DuckDB's
    # CAST(double AS BIGINT) rounds half away from zero
    lo = (
        F.col("tmin") + F.expr(f"fold * span div {_PCV_FOLDS}").cast("long")
    ).alias("lo")
    hi = (
        F.col("tmin") + F.expr(f"(fold + 1) * span div {_PCV_FOLDS}").cast("long")
    ).alias("hi")
    tagged = (
        e.crossJoin(F.broadcast(span))
        .crossJoin(F.broadcast(folds))
        .select("t", "fold", lo, hi)
    )
    is_test = (F.col("t") >= F.col("lo")) & (F.col("t") < F.col("hi"))
    is_purged = (
        (F.col("t") >= F.col("lo") - _PCV_EMBARGO_S) & (F.col("t") < F.col("lo"))
    ) | ((F.col("t") >= F.col("hi")) & (F.col("t") < F.col("hi") + _PCV_EMBARGO_S))
    agg = tagged.groupBy("fold").agg(
        F.count("*").alias("n_all"),
        F.min("lo").alias("block_lo"),
        F.min("hi").alias("block_hi"),
        F.sum(is_test.cast("long")).alias("n_test"),
        F.sum(is_purged.cast("long")).alias("n_purged"),
    )
    return agg.select(
        F.col("fold").cast("long").alias("fold"),
        F.col("block_lo").cast("long").alias("block_lo"),
        F.col("block_hi").cast("long").alias("block_hi"),
        F.col("n_test").cast("long").alias("n_test"),
        (F.col("n_all") - F.col("n_test") - F.col("n_purged"))
        .cast("long")
        .alias("n_train"),
        F.col("n_purged").cast("long").alias("n_purged"),
        (
            (F.col("n_test") > 0)
            & (F.col("n_all") - F.col("n_test") - F.col("n_purged") > 0)
        ).alias("fold_usable"),
    )


def _purged_folds_oracle_sql() -> str:
    k, emb = _PCV_FOLDS, _PCV_EMBARGO_S
    return f"""
WITH ev AS (SELECT epoch_us(ts) // 1000000 AS t FROM events),
span AS (SELECT min(t) AS tmin, max(t) - min(t) + 1 AS span FROM ev),
folds AS (SELECT unnest(range(0, {k})) AS fold),
bounds AS (
  SELECT fold,
         tmin + (fold * span) // {k} AS lo,
         tmin + ((fold + 1) * span) // {k} AS hi
  FROM folds CROSS JOIN span
),
tagged AS (
  SELECT b.fold, b.lo, b.hi, e.t,
         (e.t >= b.lo AND e.t < b.hi) AS is_test,
         ((e.t >= b.lo - {emb} AND e.t < b.lo)
          OR (e.t >= b.hi AND e.t < b.hi + {emb})) AS is_purged
  FROM ev e CROSS JOIN bounds b
)
SELECT CAST(fold AS BIGINT) AS fold,
       CAST(min(lo) AS BIGINT) AS block_lo,
       CAST(min(hi) AS BIGINT) AS block_hi,
       CAST(sum(CASE WHEN is_test THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN NOT is_test AND NOT is_purged THEN 1 ELSE 0 END)
            AS BIGINT) AS n_train,
       CAST(sum(CASE WHEN NOT is_test AND is_purged THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purged,
       sum(CASE WHEN is_test THEN 1 ELSE 0 END) > 0
         AND sum(CASE WHEN NOT is_test AND NOT is_purged THEN 1 ELSE 0 END) > 0
         AS fold_usable
FROM tagged GROUP BY fold
"""


ORACLE_PURGED_FOLDS = _purged_folds_oracle_sql()


# --- DSIR importance weights (hashed-n-gram data selection) ----------------

_DSIR_B = 512  # hashed feature buckets


def q_doc_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how target-like it is under two hashed bag-of-words
    unigram models — log w(x) = Σ_tokens [ln p_target(bucket) −
    ln p_raw(bucket)] with add-1 smoothing over B=512 buckets. The
    target slice is the lexicographically-first source (a stand-in for
    "trusted corpus"; production points the target counts at Wikipedia
    /books), the raw model is the whole corpus, and the emitted score
    is the per-token mean log-ratio (bounded magnitude — the
    doc_bigram_logprob rounding discipline). Buckets use the portable
    Lehmer token hash, so the DuckDB oracle replays the feature map
    bit-identically.

    Plan: one explode of the token stream feeds ONE fused bucket-count
    aggregate — cr = count, ct = conditional count per bucket (r15: the
    former separate raw/tgt/totals subtrees each re-derived the
    per-character hash fold, so the expensive token pipeline executed
    four times; now the B-row bucket table answers raw AND target
    counts, the 1-row totals aggregate over those 512 rows, and the
    token stream is computed exactly twice) — then the per-doc score is
    one map-side combining aggregate over the broadcast bucket table.
    No Python, no window, shuffle bounded by B + |docs|. At 100 TB this
    is the canonical cheap-classifier selection pass: two fixed-size
    count tables trained in one scan, applied in one scan."""
    from ..dedup import portable_token_hash

    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", "source", F.explode(F.split("text", " +")).alias("tok"))
        .filter(F.col("tok") != "")
        .select(
            "doc_id",
            "source",
            (portable_token_hash(F.col("tok")) % _DSIR_B).alias("k"),
        )
    )
    tsrc = d.agg(F.min("source").alias("tsrc"))
    toks = toks.crossJoin(F.broadcast(tsrc)).withColumn(
        "in_target", F.col("source") == F.col("tsrc")
    )
    bk = toks.groupBy("k").agg(
        F.count("*").alias("cr"),
        F.sum(F.col("in_target").cast("long")).alias("ct"),
    )
    # totals ride the B-row bucket table as window sums (B = 512 rows
    # by construction — the single-partition window is a non-issue at
    # any scale), so bk is referenced ONCE and the token pipeline is
    # not re-derived for a 1-row aggregate
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    bk = bk.withColumn("nr", F.sum("cr").over(w_all)).withColumn(
        "nt", F.sum("ct").over(w_all)
    )
    scored = (
        toks.join(F.broadcast(bk), "k")
        .withColumn(
            "lr",
            F.log((F.col("ct") + 1) / (F.col("nt") + _DSIR_B))
            - F.log((F.col("cr") + 1) / (F.col("nr") + _DSIR_B)),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.first("in_target").alias("in_target"),
        F.round(F.avg("lr"), 4).alias("avg_logratio"),
    )


ORACLE_DSIR = f"""
WITH tsrc AS (SELECT min(source) AS s FROM documents),
toks AS (
  SELECT doc_id, source, tok FROM (
    SELECT doc_id, source, unnest(string_split_regex(text, ' +')) AS tok
    FROM documents)
  WHERE tok <> ''
),
b AS MATERIALIZED (
  SELECT doc_id, source = (SELECT s FROM tsrc) AS in_target,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(tok, ''),
                            c -> CAST(ascii(c) AS BIGINT))),
           (acc, c) -> (acc * 31 + c) % 2147483647) % {_DSIR_B} AS k
  FROM toks
),
raw AS (SELECT k, count(*) AS cr FROM b GROUP BY 1),
tgt AS (SELECT k, count(*) AS ct FROM b WHERE in_target GROUP BY 1),
totals AS (
  SELECT count(*) AS nr,
         sum(CASE WHEN in_target THEN 1 ELSE 0 END) AS nt
  FROM b
)
SELECT b.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       bool_or(b.in_target) AS in_target,
       round(avg(
         ln((coalesce(tgt.ct, 0) + 1) / CAST(totals.nt + {_DSIR_B} AS DOUBLE))
         - ln((raw.cr + 1) / CAST(totals.nr + {_DSIR_B} AS DOUBLE))
       ), 4) AS avg_logratio
FROM b
JOIN raw USING (k)
LEFT JOIN tgt USING (k)
CROSS JOIN totals
GROUP BY b.doc_id
"""


QUERIES = {
    "events_purged_folds": q_events_purged_folds,
    "doc_decontaminate": q_doc_decontaminate,
    "doc_bloom_decontaminate": q_doc_bloom_decontaminate,
    "doc_split_assign": q_doc_split_assign,
    "emb_centroid_drift": q_emb_centroid_drift,
    "doc_source_overlap_matrix": q_doc_source_overlap_matrix,
    "doc_longest_eval_overlap": q_doc_longest_eval_overlap,
    "doc_weighted_sample": q_doc_weighted_sample,
    "doc_mixture_sample": q_doc_mixture_sample,
    "doc_shuffle_shards": q_doc_shuffle_shards,
    "doc_global_index": q_doc_global_index,
    "doc_sequence_packing": q_doc_sequence_packing,
    "doc_stratified_split": q_doc_stratified_split,
    "doc_source_psi": q_doc_source_psi,
    "doc_quantile_normalize": q_doc_quantile_normalize,
    "emb_int8_quantize": q_emb_int8_quantize,
    "emb_label_centroids": q_emb_label_centroids,
    "doc_curation_pipeline": q_doc_curation_pipeline,
    "doc_dsir_importance": q_doc_dsir_importance,
}

ORACLES = {
    "events_purged_folds": ORACLE_PURGED_FOLDS,
    "doc_dsir_importance": ORACLE_DSIR,
    "doc_decontaminate": ORACLE_DECONTAM,
    "doc_bloom_decontaminate": ORACLE_BLOOM_DECONTAM,
    "doc_split_assign": ORACLE_SPLIT_ASSIGN,
    "emb_centroid_drift": ORACLE_CENTROID_DRIFT,
    "doc_source_overlap_matrix": ORACLE_SOURCE_OVERLAP,
    "doc_longest_eval_overlap": ORACLE_LONGEST_OVERLAP,
    "doc_weighted_sample": ORACLE_WEIGHTED_SAMPLE,
    "doc_mixture_sample": ORACLE_MIXTURE,
    "doc_shuffle_shards": ORACLE_SHARDS,
    "doc_global_index": ORACLE_GIDX,
    "doc_sequence_packing": ORACLE_SEQ_PACKING,
    "doc_stratified_split": ORACLE_STRAT_SPLIT,
    "doc_source_psi": ORACLE_PSI,
    "doc_quantile_normalize": ORACLE_QNORM,
    "emb_int8_quantize": ORACLE_QUANTIZE,
    "emb_label_centroids": ORACLE_LABEL_CENTROIDS,
    "doc_curation_pipeline": ORACLE_PIPELINE,
}
