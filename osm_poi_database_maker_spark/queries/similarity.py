"""Embedding similarity search over ``embeddings`` (engine [ext]).

Brute-force cosine top-k is the correctness baseline (oracle-checked);
the approximate variants for 100 TB scale (LSH / IVF / IVF-PQ) live in
:mod:`osm_poi_database_maker_spark.similarity` and are surfaced as
hash-gated QUALITY contracts: each registry query emits one summary row
whose recall floor the DuckDB oracle asserts after recomputing the
exact top-k (the index internals stay engine-specific).

Determinism across engines: cosine is computed as double dot / norms in
both engines, ranked on the value rounded to 6 decimals with vec_id
tie-break, and reported rounded to 4 — fp summation-order noise can't flip
the ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table

N_QUERY_VECS = 5
TOP_K = 5


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _cosine_topk_ranked(
    e: DataFrame, n_query: int, k: int, d: int | None = None
) -> DataFrame:
    """THE exact-cosine per-query ranking — single definition of the
    deterministic key (cosine rounded to 6, vec_id tie-break) shared by
    q_emb_cosine_topk and every truncation width of the Matryoshka
    audit, so the audit can never desynchronize from the baseline it
    measures. ``d`` truncates vectors to their first d coordinates.
    Returns (query_id, vec_id, cosine, rk ≤ k)."""
    v = F.col("embedding") if d is None else F.slice("embedding", 1, d)
    norms = e.select("vec_id", v.alias("v")).select(
        "vec_id", "v", F.sqrt(_dot(F.col("v"), F.col("v"))).alias("norm")
    )
    q = norms.filter(F.col("vec_id") < n_query).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("q_v"),
        F.col("norm").alias("q_norm"),
    )
    scored = norms.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).withColumn(
        "cosine", _dot(F.col("q_v"), F.col("v")) / (F.col("q_norm") * F.col("norm"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("cosine"), 6)), F.asc("vec_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id", "cosine", "rk")
    )


def q_emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: for each query vector (vec_id < 5), the 5
    nearest other vectors by cosine similarity.

    Plan shape: the tiny query side is broadcast against the full
    collection (no shuffle of the collection), then a per-query top-k
    window. At cluster scale the same plan holds for any small query
    batch; for query-set ≫ broadcast threshold, switch to the LSH variant.
    """
    e = load_table(spark, sf_dir, "embeddings")
    return _cosine_topk_ranked(e, N_QUERY_VECS, TOP_K).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round("cosine", 4).alias("cosine"),
        "rk",
    )


def _exact_topk_sql(n_query: int, k: int) -> str:
    """DuckDB brute-force exact cosine top-k over the first ``n_query``
    vec_ids — the single exact-side definition shared by the
    emb_cosine_topk oracle and the ANN-family recall gates."""
    return f"""
WITH el AS (
  SELECT vec_id,
         CAST(unnest(embedding) AS DOUBLE) AS val,
         unnest(range(len(embedding))) AS idx
  FROM embeddings
),
norms AS (
  SELECT vec_id, sqrt(sum(val * val)) AS norm FROM el GROUP BY vec_id
),
dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id, sum(q.val * c.val) AS dot
  FROM el q JOIN el c ON q.idx = c.idx AND q.vec_id <> c.vec_id
  WHERE q.vec_id < {n_query}
  GROUP BY 1, 2
),
scored AS (
  SELECT d.query_id, d.vec_id,
         d.dot / (nq.norm * nc.norm) AS cosine
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.vec_id
)
SELECT query_id, vec_id AS neighbor_id, round(cosine, 4) AS cosine, rk
FROM (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(cosine, 6) DESC, vec_id ASC) AS rk
  FROM scored
)
WHERE rk <= {k}
"""


ORACLE_COSINE = _exact_topk_sql(N_QUERY_VECS, TOP_K)


# Recall-gate contract (r9 verdict #2): the ANN-family registry queries
# emit ONE hash-gateable summary row instead of engine-specific neighbor
# lists. 20 query vectors (vs N_QUERY_VECS=5) so the micro-averaged
# recall is a 100-pair statistic — stable across testdata regenerations.
# Floors sit 4-6 sigma under the measured operating points (ann
# 0.99-1.00, ivf 0.94-0.95, pq 0.92-0.95 across sf0.001/0.01/0.1); a
# broken index reads ~k/N ≈ 0 and trips the gate instantly.
N_RECALL_QUERIES = 20
RECALL_FLOOR_ANN = 0.90
RECALL_FLOOR_IVF = 0.85
RECALL_FLOOR_IVF_PQ = 0.80


def _recall_gate_row(approx: DataFrame, exact: DataFrame, floor: float) -> DataFrame:
    """One-row summary gating the ANN quality contract: micro-averaged
    recall@k (total exact top-k pairs recovered / total exact pairs)
    thresholded against the documented floor. n_queries and
    n_exact_pairs are oracle-recomputable (DuckDB reruns the exact
    brute force); ``meets_recall_floor`` is TRUE by contract, so a
    recall regression hash-mismatches at the driver instead of hiding
    in a rows-only check.

    Scale: both sides are per-query top-k sets over a sampled query
    batch — the audit costs one semi-join on the tiny (query, neighbor)
    key set regardless of collection size."""
    hits = approx.join(
        exact.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    per_q = (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("n_exact"))
        .join(
            hits.groupBy("query_id").agg(F.count("*").alias("n_hits")),
            "query_id",
            "left",
        )
    )
    return per_q.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.sum("n_exact").cast("long").alias("n_exact_pairs"),
        F.lit(float(floor)).alias("recall_floor"),
        (
            F.sum(F.coalesce(F.col("n_hits"), F.lit(0))) / F.sum("n_exact")
            >= F.lit(float(floor))
        ).alias("meets_recall_floor"),
    )


def _recall_gate_oracle(floor: float) -> str:
    """DuckDB twin of :func:`_recall_gate_row`: recompute the EXACT
    top-k brute-force, emit the same counts, and assert the contract
    boolean — the engine-specific index internals stay ungated, the
    quality metric the user depends on becomes driver-checkable."""
    return f"""
WITH exact AS ({_exact_topk_sql(N_RECALL_QUERIES, TOP_K)})
SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
       CAST(count(*) AS BIGINT) AS n_exact_pairs,
       CAST({floor} AS DOUBLE) AS recall_floor,
       TRUE AS meets_recall_floor
FROM exact
"""


def q_emb_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k, hash-gated on its QUALITY
    contract (r9 verdict #2): one summary row whose micro-averaged
    recall@k over 20 query vectors must clear the 0.90 floor; the
    DuckDB oracle recomputes the exact top-k and asserts the contract,
    so a recall regression now FAILS the driver gate instead of hiding
    in a rows-only row. The neighbor lists themselves stay
    engine-specific (plane generation) — users get them from
    ``similarity.ann_topk``; the exact baseline is oracle-checked in
    full by emb_cosine_topk.

    n_tables=32 (vs the library default 16) because the fixture's
    near-uniform vectors are LSH's worst case — neighbor cosines ≈0.4
    need more tables for the same recall; real embedding corpora with
    neighbor cosines ≳0.8 meet it at the default."""
    from ..similarity import ann_topk, cosine_topk

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_RECALL_QUERIES)
    return _recall_gate_row(
        ann_topk(e, q, k=TOP_K, n_tables=32),
        cosine_topk(e, q, k=TOP_K),
        RECALL_FLOOR_ANN,
    )


def q_emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k, hash-gated on its quality contract: same
    one-row recall gate as q_emb_ann_topk with a 0.85 floor (measured
    operating point 0.94-0.95 on the near-uniform fixture).

    probe=8/16 with 2-way spill assignment: on the near-uniform fixture
    (no real cluster structure — IVF's worst case) this is what the
    floor honestly costs, a candidate scan ≈ the collection size. On
    clustered real corpora the defaults (probe 4/16, single assignment)
    scan 25% at comparable recall; the point here is the mechanism and
    the driver-checkable quality number, and the fixture numbers don't
    flatter it."""
    from ..similarity import cosine_topk, ivf_topk

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_RECALL_QUERIES)
    return _recall_gate_row(
        ivf_topk(e, q, k=TOP_K, n_probe=8, n_assign=2),
        cosine_topk(e, q, k=TOP_K),
        RECALL_FLOOR_IVF,
    )


def q_emb_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate top-k, hash-gated on its quality contract:
    same one-row recall gate with a 0.80 floor (measured operating
    point 0.92-0.95 — the composed index quantizes AND prunes, so its
    honest floor sits under IVF's). The FAISS-style composition — IVF
    cells prune candidates, PQ codes (ADC table lookups, no raw
    vectors) rank them, exact cosine reranks only the k·rerank PQ
    shortlist.

    m_sub=16 (4-dim subspaces) / 32 codes / rerank 16 because the
    near-uniform fixture is PQ's worst case (no low-dim structure to
    quantize); real embedding corpora hit the same recall with the
    coarser m_sub=8 and smaller shortlists."""
    from ..similarity import cosine_topk, ivf_pq_topk

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_RECALL_QUERIES)
    return _recall_gate_row(
        ivf_pq_topk(
            e, q, k=TOP_K, n_probe=8, n_assign=2, m_sub=16, n_codes=32, rerank=16
        ),
        cosine_topk(e, q, k=TOP_K),
        RECALL_FLOOR_IVF_PQ,
    )


RECALL_FLOOR_BINARY = 0.65
_BINARY_RERANK = 24


def q_emb_binary_quantize_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit (sign) quantized top-k, hash-gated on its quality contract
    — the fourth member of the ANN recall-gate family (r11): sign
    signatures compress the scan to one int64 XOR+popcount per vector
    (32× less memory traffic than the float dot product), a k·24
    Hamming shortlist is reranked by exact cosine, and the one-row
    summary's micro-averaged recall@k must clear 0.65 (DuckDB
    recomputes the exact top-k and asserts the floor).

    The floor is the near-uniform fixture's honest sf0.1 operating
    point (measured 0.81 there, 0.94-0.99 at the gate SFs — axis-sign
    planes on near-uniform vectors are the 1-bit worst case; real
    embedding corpora with anisotropic spectra sit far higher at the
    same shortlist). At 100 TB the 8 B/vector signature column is the
    resident index and the float vectors page in only for the
    shortlist — binary quantization is the memory-bandwidth cut that
    composes with IVF's compute cut (emb_ivf_topk)."""
    from ..similarity import binary_topk, cosine_topk

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_RECALL_QUERIES)
    return _recall_gate_row(
        binary_topk(e, q, k=TOP_K, rerank=_BINARY_RERANK),
        cosine_topk(e, q, k=TOP_K),
        RECALL_FLOOR_BINARY,
    )


NEARDUP_THRESHOLD = 0.4


def q_emb_cosine_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (cosine ≥ 0.4, doc_a <
    doc_b) via the blocked applyInPandas similarity join — the dedup
    companion to the text-based MinHash/SimHash operators, oracle-checked
    against DuckDB's list_cosine_similarity."""
    from ..similarity import cosine_neardup_pairs

    e = load_table(spark, sf_dir, "embeddings")
    return cosine_neardup_pairs(e, threshold=NEARDUP_THRESHOLD)


ORACLE_NEARDUP = f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
)
SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
       round(list_cosine_similarity(a.v, b.v), 4) AS cosine
FROM emb a JOIN emb b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 4) >= {NEARDUP_THRESHOLD}
"""


# --- signed-random-projection LSH (Charikar 2002) --------------------------
#
# Unlike the xxhash64-plane ANN family (rows-only), this LSH is built on
# the PORTABLE pseudo-random family: hyperplane weights are Lehmer-mixed
# integers and vectors are fixed-point-quantized, so every projection is
# EXACT int64 arithmetic that DuckDB reproduces bit-for-bit — the one
# LSH in the repo whose banding, bucketing, AND candidates are fully
# value-hash-checked by the driver oracle.
_SRP_PLANES = 24
_SRP_BAND_BITS = 6  # 4 bands × 6 bits → 64 buckets per band
_SRP_BANDS = _SRP_PLANES // _SRP_BAND_BITS
# Deterministic per-bucket cap, replayed in the oracle. Fixed band width
# means bucket LOAD grows with n, so the cap is what bounds candidate
# volume (≤ C(cap,2)·n_buckets pairs); 32 keeps the sf0.1 verify stage
# ~4× cheaper than 64 while no fixture bucket at the driver SFs reaches
# it. At production scale, widen the bands (more bits) as n grows —
# the cap is the guardrail, not the tuning knob.
_SRP_BUCKET_CAP = 32
_SRP_Q = 1_000_000  # fixed-point scale: vq = floor(v · 10⁶), exact both engines
_SRP_W_RANGE = 2001  # weights in [-1000, 1000]
_SRP_X_STRIDE = 4096  # plane/dim index mix: x = p·4096 + d (collision-free to d<4096)


def _srp_weights() -> list[list[int]]:
    """The 24×64 hyperplane matrix as plain Python ints — the SAME
    Lehmer fold the oracle SQL computes from range(planes)×range(dim):
    w(p,d) = lehmer2(p·4096+d) % 2001 − 1000. Deterministic, seedless,
    and engine-free: Spark inlines the rows as array literals, DuckDB
    re-derives them from the formula; both sides are exact integers."""
    from ..dedup import _PORT_A, _PORT_M

    w = []
    for p in range(_SRP_PLANES):
        row = []
        for d in range(64):
            x = p * _SRP_X_STRIDE + d
            mix = ((x % _PORT_M) * _PORT_A % _PORT_M) * _PORT_A % _PORT_M
            row.append(mix % _SRP_W_RANGE - 1000)
        w.append(row)
    return w


def q_emb_srp_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine near-dup candidates via signed-random-projection LSH
    (Charikar's SimHash-for-vectors): 24 integer hyperplanes give each
    vector a 24-bit sign signature; signatures band into 4×6-bit bucket
    keys; vectors sharing a (band, bucket) become candidate pairs
    (deterministically capped per bucket); candidates are verified by
    exact cosine ≥ {NEARDUP_THRESHOLD}. The scale path for
    `emb_cosine_neardup_pairs`' exact blocked O(n²) join: candidate
    volume is Σ_buckets C(cap,2) — linear in n for fixed bucket load.

    Everything up to the final cosine is EXACT integer math in both
    engines: vectors quantize to vq = floor(v·10⁶) (float→double→floor
    is IEEE-identical), plane weights are Lehmer-derived ints, and each
    projection is a Σ wt·vq int64 fold — so the sign bits can never
    diverge on an engine's float summation order, which is what makes
    this LSH oracle-checkable when the float-plane variant is not.

    Plan shape: the quantized array materializes behind one exchange
    (CollapseProject would otherwise re-inline the transform into all 24
    plane folds — measured 6× regression pattern); the 24 projections
    are JVM array folds in one codegen stage; band explode produces 4
    rows/vector; the self-join runs on (band, bucket) hash keys — a
    bucketed join, never all-pairs; the cosine verify joins vectors back
    by id twice and folds dot/norms JVM-side. No Python anywhere."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _srp_pairs(e)


def _srp_pairs(e: DataFrame) -> DataFrame:
    """SRP-LSH candidate+verify pipeline over a (vec_id, embedding)
    frame — separated from the sf_dir wrapper so property tests can
    plant near-duplicate vectors."""
    # The whole signature stage is ONE server-side-parsed SQL expression:
    # composing it from per-plane F.lit columns costs thousands of py4j
    # round-trips (~8 s of driver time for 24×64 literals — measured;
    # the actual executor work is 0.2 s), whereas a single expr() string
    # is one parse and the 24×64 weight matrix constant-folds to a
    # literal. Each plane's fold appears exactly ONCE inside the nested
    # expression, so no CollapseProject re-split is possible, and the
    # repartition barrier keeps the quantized array from being re-inlined
    # into every plane reference.
    vq = F.transform(
        F.col("embedding"), lambda v: F.floor(v.cast("double") * _SRP_Q).cast("long")
    )
    qdf = e.select("vec_id", vq.alias("vq")).repartition("vec_id")
    wmat_sql = (
        "array("
        + ",".join(
            "array(" + ",".join(f"{x}L" for x in row) + ")" for row in _srp_weights()
        )
        + ")"
    )
    band_expr = F.expr(
        f"""
        transform(sequence(0, {_SRP_BANDS - 1}), b -> named_struct(
          'band', CAST(b AS INT),
          'bval', aggregate(sequence(0, {_SRP_BAND_BITS - 1}), CAST(0 AS BIGINT),
            (acc, j) -> acc + IF(
              aggregate(
                zip_with(vq,
                         element_at({wmat_sql}, CAST(b * {_SRP_BAND_BITS} + j + 1 AS INT)),
                         (a, w) -> a * w),
                CAST(0 AS BIGINT), (s, v) -> s + v) >= 0,
              shiftleft(CAST(1 AS BIGINT), CAST(j AS INT)), CAST(0 AS BIGINT)))))
        """
    )
    banded = qdf.select(
        "vec_id", F.explode(band_expr).alias("bb")
    ).select("vec_id", F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval"))
    capped = (
        banded.withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("band", "bval").orderBy("vec_id")
            ),
        )
        .filter(F.col("r") <= _SRP_BUCKET_CAP)
        .select("vec_id", "band", "bval")
        .localCheckpoint(eager=False)
    )
    a = capped.select(F.col("vec_id").alias("vec_a"), "band", "bval")
    b = capped.select(F.col("vec_id").alias("vec_b"), "band", "bval")
    cand = (
        a.join(b, ["band", "bval"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .groupBy("vec_a", "vec_b")
        .agg(F.count("*").alias("n_bands"))
    )
    norms = e.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda v: v.cast("double")).alias("v"),
    ).select("vec_id", "v", F.sqrt(_dot(F.col("v"), F.col("v"))).alias("norm"))
    va = norms.select(
        F.col("vec_id").alias("a_id"), F.col("v").alias("a_v"), F.col("norm").alias("a_norm")
    )
    vb = norms.select(
        F.col("vec_id").alias("b_id"), F.col("v").alias("b_v"), F.col("norm").alias("b_norm")
    )
    cosine = _dot(F.col("a_v"), F.col("b_v")) / (F.col("a_norm") * F.col("b_norm"))
    return (
        cand.join(va, cand.vec_a == va.a_id)
        .join(vb, cand.vec_b == vb.b_id)
        .withColumn("cosine", F.round(cosine, 4))
        .filter(F.col("cosine") >= NEARDUP_THRESHOLD)
        .select("vec_a", "vec_b", "n_bands", "cosine")
        # no trailing orderBy (order-insensitive hash; sort = wasted exchange)
    )


ORACLE_SRP = f"""
WITH el AS (
  SELECT vec_id,
         CAST(floor(CAST(e.val AS DOUBLE) * {_SRP_Q}.0) AS BIGINT) AS vq,
         CAST(e.idx AS BIGINT) AS d
  FROM (SELECT vec_id, unnest(embedding) AS val,
               unnest(range(len(embedding))) AS idx
        FROM embeddings) e
),
planes AS (  -- w(p,d) = lehmer2(p*{_SRP_X_STRIDE}+d) % {_SRP_W_RANGE} - 1000, identical to _srp_weights()
  SELECT p, d,
         ((x % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647)
           % {_SRP_W_RANGE} - 1000 AS wt
  FROM (SELECT p, d, p * {_SRP_X_STRIDE} + d AS x
        FROM (SELECT unnest(range({_SRP_PLANES})) AS p)
        CROSS JOIN (SELECT unnest(range(64)) AS d))
),
proj AS (
  SELECT el.vec_id,
         CAST(pl.p // {_SRP_BAND_BITS} AS INTEGER) AS band,
         CAST(pl.p % {_SRP_BAND_BITS} AS INTEGER) AS j,
         sum(pl.wt * el.vq) AS pr
  FROM el JOIN planes pl ON el.d = pl.d
  GROUP BY 1, 2, 3
),
bands AS (
  SELECT vec_id, band,
         sum(CASE WHEN pr >= 0 THEN (CAST(1 AS BIGINT) << j)
                  ELSE CAST(0 AS BIGINT) END) AS bval
  FROM proj GROUP BY 1, 2
),
capped AS (
  SELECT vec_id, band, bval,
         row_number() OVER (PARTITION BY band, bval ORDER BY vec_id) AS r
  FROM bands
),
cand AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, count(*) AS n_bands
  FROM (SELECT * FROM capped WHERE r <= {_SRP_BUCKET_CAP}) a
  JOIN (SELECT * FROM capped WHERE r <= {_SRP_BUCKET_CAP}) b
    ON a.band = b.band AND a.bval = b.bval AND a.vec_id < b.vec_id
  GROUP BY 1, 2
),
emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
)
SELECT c.vec_a, c.vec_b, c.n_bands,
       round(list_cosine_similarity(a.v, b.v), 4) AS cosine
FROM cand c
JOIN emb a ON c.vec_a = a.vec_id
JOIN emb b ON c.vec_b = b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 4) >= {NEARDUP_THRESHOLD}
ORDER BY vec_a, vec_b
"""


def q_emb_norm_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm distribution (quartiles + count) — the vector
    sanity audit before indexing (collapsed or exploding norms signal a
    broken encoder run).

    The norm is a per-row array fold (no explode, no shuffle of vector
    payloads); exact interpolated percentiles aggregate over the scalar
    norm column only — per label, one shuffle of (label, norm) pairs.
    """
    e = load_table(spark, sf_dir, "embeddings")
    norm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    return (
        e.select("label", norm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.expr("percentile(nrm, 0.25)"), 4).alias("q25"),
            F.round(F.expr("percentile(nrm, 0.5)"), 4).alias("q50"),
            F.round(F.expr("percentile(nrm, 0.75)"), 4).alias("q75"),
        )
    )


ORACLE_NORM_QUANTILES = """
WITH n AS (
  SELECT label,
         sqrt(list_aggregate(
           list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
           'sum')) AS nrm
  FROM embeddings
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(quantile_cont(nrm, 0.25), 4) AS q25,
       round(quantile_cont(nrm, 0.5), 4) AS q50,
       round(quantile_cont(nrm, 0.75), 4) AS q75
FROM n
GROUP BY label
"""


def q_emb_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label centroids (label_a <
    label_b) — the cluster-separation audit: labels whose centroids sit
    close are candidates for merging or relabeling.

    The corpus collapses to |labels|·dim rows in the centroid aggregate
    (posexplode + (label,pos) mean); everything after operates on that
    tiny table (self-join on pos, |labels|² pairs) — at 100 TB only the
    one explode-aggregate sees the data."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "label", F.posexplode("embedding").alias("pos", "v")
    )
    cent = e.withColumn("v", F.col("v").cast("double")).groupBy(
        "label", "pos"
    ).agg(F.avg("v").alias("c"))
    a = cent.select(
        F.col("label").alias("label_a"), "pos", F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "pos", F.col("c").alias("cb")
    )
    return (
        a.join(b, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            (
                F.sum(F.col("ca") * F.col("cb"))
                / (
                    F.sqrt(F.sum(F.col("ca") * F.col("ca")))
                    * F.sqrt(F.sum(F.col("cb") * F.col("cb")))
                )
            ).alias("cos_raw")
        )
        .select(
            "label_a", "label_b", F.round("cos_raw", 4).alias("centroid_cosine")
        )
    )


ORACLE_CENTROID_DIST = """
WITH e AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
cent AS (SELECT label, pos, avg(v) AS c FROM e GROUP BY 1, 2)
SELECT a.label AS label_a, b.label AS label_b,
       round(sum(a.c * b.c) /
             (sqrt(sum(a.c * a.c)) * sqrt(sum(b.c * b.c))), 4)
         AS centroid_cosine
FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
GROUP BY 1, 2
"""


_KM_K_MIN = 8
_KM_TARGET_CELL = 512  # K = max(_KM_K_MIN, ceil(n / _KM_TARGET_CELL))
_KM_ITERS = 2


def _km_k(n: int) -> int:
    """K scales with the collection (SemDeDup's own prescription:
    K ≈ n / target_cell_size, floored at ``_KM_K_MIN``), so average cell
    size — the unit the within-cluster quadratic stage works on — stays
    ~constant as the corpus grows instead of growing as n/K with fixed
    K. At the tested SFs (n ≤ 2000) the floor binds and K = 8, which
    keeps the oracle CTE chain identical across fixtures; the oracle's
    init CTE computes the SAME formula from its own count(*), so the two
    engines always agree on K whatever the fixture size."""
    return max(_KM_K_MIN, -(-n // _KM_TARGET_CELL))


def _kmeans_geometry(spark: SparkSession, sf_dir: str):
    """Shared Lloyd's-iterations core: runs ``_KM_ITERS`` fixed
    iterations (K from :func:`_km_k`, centroids seeded from the K
    lowest vec_ids) and returns ``(el, cent)`` — the exploded vector
    table and the FINAL centroid table — so every consumer (assignment
    audit, SemDeDup, silhouette) sees the identical cluster geometry by
    construction."""
    e = load_table(spark, sf_dir, "embeddings")
    el = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double")).localCheckpoint(eager=False)
    init = (
        e.orderBy("vec_id")
        .limit(_km_k(e.count()))
        .select(F.col("vec_id").alias("cid"))
    )
    cent = el.join(F.broadcast(init), el.vec_id == init.cid).select(
        "cid", "pos", F.col("v").alias("c")
    )
    for _ in range(_KM_ITERS):
        assign = _km_argmin(_km_distances(el, cent)).select("vec_id", "cid")
        cent = (
            el.join(assign, "vec_id")
            .groupBy("cid", "pos")
            .agg(F.avg("v").alias("c"))
            .localCheckpoint(eager=False)
        )
    return el, cent


def _km_distances(el: DataFrame, centroids: DataFrame) -> DataFrame:
    """Full (vec_id, cid, d2) distance table against a broadcast
    centroid set — one join on pos + one aggregate."""
    return (
        el.join(F.broadcast(centroids), "pos")
        .groupBy("vec_id", "cid")
        .agg(F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))).alias("d2"))
    )


def _km_argmin(d2: DataFrame) -> DataFrame:
    """Nearest centroid per vector, keyed on the distance ROUNDED to 9
    decimals with centroid-id tie-break (aggregation-order fp noise
    ~1e-13 can't flip it) — the ranking semantics the unrolled oracle
    CTEs mirror byte-for-byte.

    Implemented as ONE hash aggregate — min over struct((d2r, cid),
    row) — rather than a row_number window: identical selection (the
    (d2r, cid) key is unique per vector, so the trailing row payload
    never decides a comparison), but the argmin partial-aggregates
    map-side and never sorts, which at K candidates/vector × 1e9
    vectors is the difference between a hash-combine and a full
    (vec_id, d2) sort per Lloyd pass (r8: shaved ~25% off the three
    geometry-sharing queries at sf0.1)."""
    key = F.struct(F.round("d2", 9).alias("_k"), F.col("cid").alias("_c"))
    row = F.struct(*[F.col(c) for c in d2.columns])
    return (
        d2.groupBy("vec_id")
        .agg(F.min(F.struct(key.alias("_key"), row.alias("_row"))).alias("_b"))
        .select("_b._row.*")
    )


def _kmeans_final_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final per-vector assignment ``(vec_id, cid, d2)`` after the fixed
    iterations — consumed by the k-means audit query and SemDeDup."""
    el, cent = _kmeans_geometry(spark, sf_dir)
    return _km_argmin(_km_distances(el, cent)).select("vec_id", "cid", "d2")


def q_emb_kmeans_iterations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means, 2 fixed iterations (K scales with
    the collection via _km_k — max(8, ceil(n/512)) — and centroids seed
    from the K lowest vec_ids) — the fully-distributed clustering
    path beside the IVF index's bounded driver-side training: every
    step (assignment, centroid update) is a join + aggregate over the
    exploded vector table, so it scales with the data, not the driver.

    Per iteration: assignment joins the (vec,pos,v) table against the
    broadcast |K|·dim centroid table on pos and min-reduces distance per
    (vec, centroid); argmin ranks on the distance ROUNDED to 9 decimals
    with centroid-id tie-break (aggregation-order fp noise ~1e-13 can't
    flip it); the update re-aggregates member vectors per (cid, pos) and
    pins the new |K|·dim table with a lazy checkpoint. The iteration
    count is FIXED so both engines run the identical unrolled dataflow
    (converge-or-raise loops run on ops.recursion.fixpoint).
    """
    final = _kmeans_final_assignment(spark, sf_dir)
    return final.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg("d2"), 4).alias("avg_dist2"),
        F.min("vec_id").alias("min_vec_id"),
    )


def _km_iter_sql(k: int) -> str:
    return f"""
a{k} AS (
  SELECT vec_id, cid FROM (
    SELECT d.vec_id, d.cid,
           row_number() OVER (PARTITION BY d.vec_id
                              ORDER BY round(d.d2, 9) ASC, d.cid ASC) AS rk
    FROM (
      SELECT e.vec_id, c.cid, sum((e.v - c.c) * (e.v - c.c)) AS d2
      FROM el e JOIN cent{k - 1} c ON c.pos = e.pos
      GROUP BY 1, 2
    ) d
  ) WHERE rk = 1
),
cent{k} AS (
  SELECT a.cid, e.pos, avg(e.v) AS c
  FROM el e JOIN a{k} a ON a.vec_id = e.vec_id
  GROUP BY 1, 2
)"""


# the unrolled-iteration CTE chain ending in fin(vec_id, cid, d2) — shared
# by the k-means audit oracle and the SemDeDup oracle, mirroring the
# shared _kmeans_final_assignment on the Spark side
_KM_CTES = f"""el AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
init AS (  -- K = max({_KM_K_MIN}, ceil(n/{_KM_TARGET_CELL})), mirroring _km_k(n)
  SELECT vec_id AS cid FROM (
    SELECT vec_id,
           row_number() OVER (ORDER BY vec_id) AS rn,
           greatest({_KM_K_MIN},
                    CAST(ceil(count(*) OVER () / {_KM_TARGET_CELL}.0) AS BIGINT)
           ) AS kk
    FROM embeddings
  ) WHERE rn <= kk
),
cent0 AS (
  SELECT i.cid, e.pos, e.v AS c FROM el e JOIN init i ON i.cid = e.vec_id
),
{",".join(_km_iter_sql(k) for k in range(1, _KM_ITERS + 1))},
fin AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT d.vec_id, d.cid, d.d2,
           row_number() OVER (PARTITION BY d.vec_id
                              ORDER BY round(d.d2, 9) ASC, d.cid ASC) AS rk
    FROM (
      SELECT e.vec_id, c.cid, sum((e.v - c.c) * (e.v - c.c)) AS d2
      FROM el e JOIN cent{_KM_ITERS} c ON c.pos = e.pos
      GROUP BY 1, 2
    ) d
  ) WHERE rk = 1
)"""


ORACLE_KMEANS = f"""
WITH {_KM_CTES}
SELECT cid AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(d2), 4) AS avg_dist2,
       min(vec_id) AS min_vec_id
FROM fin
GROUP BY 1
"""



def q_emb_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette per k-means cluster — the clustering
    quality score (b − a)/max(a, b) with a = distance to the OWN
    centroid and b = distance to the nearest OTHER centroid (the
    centroid-based simplification that makes silhouette linear instead
    of quadratic: the full formula needs all point-pair distances
    within and across clusters — dead at 100 TB — while this one needs
    exactly the |K|·n distance table the assignment step already
    computes). Emits per-cluster mean silhouette beside the size, so a
    collapsing or overlapping cluster is visible at a glance.

    Reuses the SHARED Lloyd geometry (same el/cent tables as the
    k-means audit and SemDeDup — one definition, identical clusters by
    construction) and the same determinism discipline: distances are
    rounded to 9 decimals BEFORE the argmin and the min-over-others, so
    aggregation-order fp noise can't flip either selection in one
    engine only."""
    el, cent = _kmeans_geometry(spark, sf_dir)
    d = _km_distances(el, cent).withColumn("d2r", F.round("d2", 9))
    own = _km_argmin(d).select("vec_id", "cid", F.col("d2r").alias("a2"))
    alt = (
        d.join(own.select("vec_id", F.col("cid").alias("own_cid")), "vec_id")
        .filter(F.col("cid") != F.col("own_cid"))
        .groupBy("vec_id")
        .agg(F.min("d2r").alias("b2"))
    )
    a = F.sqrt("a2")
    b = F.sqrt("b2")
    sil = (b - a) / F.nullif(F.greatest(a, b), F.lit(0.0))
    return (
        own.join(alt, "vec_id")
        .groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg(sil), 4).alias("silhouette"),
        )
    )


ORACLE_SILHOUETTE = f"""
WITH {_KM_CTES},
dall AS (
  SELECT e.vec_id, c.cid,
         round(sum((e.v - c.c) * (e.v - c.c)), 9) AS d2r
  FROM el e JOIN cent{_KM_ITERS} c ON c.pos = e.pos
  GROUP BY 1, 2
),
own AS (
  SELECT vec_id, cid, d2r AS a2 FROM (
    SELECT vec_id, cid, d2r,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2r ASC, cid ASC) AS rk
    FROM dall
  ) WHERE rk = 1
),
alt AS (
  SELECT d.vec_id, min(d.d2r) AS b2
  FROM dall d JOIN own o ON o.vec_id = d.vec_id AND d.cid <> o.cid
  GROUP BY 1
)
SELECT o.cid AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg((sqrt(b2) - sqrt(a2))
                 / nullif(greatest(sqrt(a2), sqrt(b2)), 0.0)), 4) AS silhouette
FROM own o JOIN alt USING (vec_id)
GROUP BY 1
"""


_KNN_K = 3


def q_emb_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact kNN graph (k=3) over the whole collection — every vector's
    3 most cosine-similar neighbors, the input graph for mutual-kNN
    clustering and graph-based dedup. Unlike emb_cosine_topk (small
    query batch, broadcast), this is all-to-all: the blocked-matmul
    local-top-k reduction in similarity.knn_graph keeps the candidate
    volume at n·B·k rows regardless of pair density. Ranked on cosine
    rounded to 6 with neighbor-id tie-break in both engines."""
    from ..similarity import knn_graph

    e = load_table(spark, sf_dir, "embeddings")
    return knn_graph(e, k=_KNN_K)


ORACLE_KNN_GRAPH = f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
scored AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         list_cosine_similarity(a.v, b.v) AS cos
  FROM emb a JOIN emb b ON a.vec_id <> b.vec_id
)
SELECT vec_id, neighbor_id, round(cos, 4) AS cosine, CAST(rk AS INT) AS rk
FROM (
  SELECT vec_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY round(cos, 6) DESC, neighbor_id ASC) AS rk
  FROM scored
)
WHERE rk <= {_KNN_K}
"""


_SMOOTH_K = 5  # odd neighbor count for the majority vote


def q_emb_label_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label smoothing / mislabel detection (the Confident-Learning
    -lite every labeled-dataset audit runs): each vector's 5 nearest
    neighbors (exact cosine, the knn_graph reduction) vote on its
    label; the majority label (ties → more votes wins, then smaller
    label id) is emitted next to the vector's OWN label with the vote
    count, and ``mismatch`` flags the rows a label-noise review queue
    should read first. On clusterable embeddings a high mismatch rate
    per label is the canonical "these two classes are confused or this
    slice is mislabeled" signal — the data-quality twin of
    emb_cluster_silhouette's geometry audit.

    Plan: the kNN graph is the blocked-matmul local-top-k reduction
    (n·B·k candidate ROWS, never all-pairs materialized — but the dot
    products are inherently O(n²): quadratic BY CONTRACT, measured 5.4×
    under 4× growth, SCALE.md §r8). At 100 TB the smoothing runs over
    the IVF/ANN neighbor lists instead (emb_ann_topk family, recall
    audited in-band); this exact form is the certificate generator.
    The vote is one integer aggregate per (vector, label) + one
    min-struct argmax — both map-side-combining hash aggregates, no
    windows over the neighbor fan-out. Integer votes ⇒ engines cannot
    disagree."""
    from ..similarity import knn_graph

    e = load_table(spark, sf_dir, "embeddings")
    nn = knn_graph(e, k=_SMOOTH_K).select("vec_id", "neighbor_id")
    labels = e.select("vec_id", F.col("label").cast("long").alias("label"))
    votes = (
        nn.join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("n_label"),
            ),
            "neighbor_id",
        )
        .groupBy("vec_id", "n_label")
        .agg(F.count("*").alias("votes"))
    )
    key = F.struct((-F.col("votes")).alias("_v"), F.col("n_label").alias("_l"))
    best = (
        votes.groupBy("vec_id")
        .agg(
            F.min(
                F.struct(key.alias("_key"), F.struct("n_label", "votes").alias("_row"))
            ).alias("_b")
        )
        .select(
            "vec_id",
            F.col("_b._row.n_label").alias("knn_label"),
            F.col("_b._row.votes").alias("n_agree"),
        )
    )
    return (
        best.join(labels, "vec_id")
        .select(
            "vec_id",
            "label",
            "knn_label",
            "n_agree",
            (F.col("knn_label") != F.col("label")).alias("mismatch"),
        )
    )


ORACLE_LABEL_SMOOTHING = f"""
WITH emb AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
nn AS (
  SELECT vec_id, neighbor_id FROM (
    SELECT a.vec_id, b.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY round(list_cosine_similarity(a.v, b.v), 6) DESC,
                      b.vec_id ASC) AS rk
    FROM emb a JOIN emb b ON a.vec_id <> b.vec_id
  ) WHERE rk <= {_SMOOTH_K}
),
votes AS (
  SELECT nn.vec_id, e.label AS n_label, count(*) AS votes
  FROM nn JOIN emb e ON e.vec_id = nn.neighbor_id
  GROUP BY 1, 2
),
best AS (
  SELECT vec_id, n_label AS knn_label, CAST(votes AS BIGINT) AS n_agree
  FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY votes DESC, n_label ASC) AS rk
    FROM votes
  ) WHERE rk = 1
)
SELECT b.vec_id, e.label, b.knn_label, b.n_agree,
       b.knn_label <> e.label AS mismatch
FROM best b JOIN emb e ON e.vec_id = b.vec_id
"""


_SEMDEDUP_TAU = 0.3
# Hard per-task bound for the within-cluster pairwise stage: clusters are
# salt-split into ceil(|cluster| / cap) hash blocks and every block PAIR
# is one applyInPandas group, so one task never materializes more than
# ~2·cap vectors no matter how large (or skewed) a cluster gets. K ∝ n
# (_km_k) keeps the AVERAGE cell near _KM_TARGET_CELL; the cap is the
# worst-case guarantee the average can't give.
_SEMDEDUP_CELL_CAP = 1024


def q_emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by k-means
    clustering followed by WITHIN-CLUSTER cosine near-dup removal — the
    embedding-space analogue of MinHash dedup, standard in LLM
    training-data curation. A vector is dropped when a lower-id vector
    in the same cluster has cosine ≥ τ with it (deterministic keep-min
    rule, mirroring doc_exact_dedup's survivor convention). Emits one
    row per vector: cluster id + drop decision.

    Scale shape: clustering reuses the fully-distributed Lloyd's core
    (fixed iterations, broadcast |K|·dim centroids, K ∝ n via _km_k);
    the quadratic cosine stage is confined within clusters — exactly why
    SemDeDup clusters first — and each cluster is further salt-split
    into ceil(|cluster|/_SEMDEDUP_CELL_CAP) hash blocks whose block
    PAIRS are the applyInPandas groups (the cosine_neardup_pairs
    decomposition), so per-task memory is capped at ~2·cap vectors even
    for a pathologically skewed cluster; each group's pairwise scores
    are one numpy matmul (an expression-tree pair join over the same
    cells benched 4× slower). Every within-cluster (i < j) pair lands in
    exactly one block-pair group, so the union of per-group drop flags
    is the exact whole-cluster drop set — at the tested SFs every
    cluster fits one block and the plan degenerates to one group per
    cluster, identical to the uncapped operator. Cosines threshold on
    the value rounded to 4 decimals (away from zero, both engines), so
    the drop set is identical across engines."""
    import numpy as np
    import pandas as pd

    asg = (
        _kmeans_final_assignment(spark, sf_dir)
        .select("vec_id", "cid")
        .localCheckpoint(eager=False)  # consumed by the pair stage AND the final join
    )
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    # per-cluster block count (tiny: K rows, broadcast back), then one
    # row per (vector, block-pair-it-participates-in)
    nb = asg.groupBy("cid").agg(
        F.ceil(F.count("*") / F.lit(_SEMDEDUP_CELL_CAP)).cast("int").alias("nb")
    )
    v = (
        asg.join(e, "vec_id")
        .join(F.broadcast(nb), "cid")
        .withColumn("blk", F.pmod(F.xxhash64("vec_id"), F.col("nb")).cast("int"))
        .withColumn("other", F.explode(F.sequence(F.lit(0), F.col("nb") - 1)))
        .withColumn("bi", F.least("blk", "other"))
        .withColumn("bj", F.greatest("blk", "other"))
        .select("cid", "bi", "bj", "blk", "vec_id", "embedding")
    )

    def dropped_in_block_pair(key, pdf):
        # rows are the (≤ ~2·cap) vectors of blocks bi and bj of one
        # cluster; emit the ids dropped by pairs SPANNING this block
        # pair (bi==bj: within-block pairs, i<j; bi<bj: cross-block
        # pairs, higher id dropped). Rounding: away-from-zero to 4
        # decimals, matching F.round/DuckDB.
        _, bi, bj = key
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        m = np.array(pdf["embedding"].to_numpy()[order].tolist(), dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        if bi == bj:
            raw = m @ m.T
            cos4 = np.sign(raw) * np.floor(np.abs(raw) * 1e4 + 0.5) / 1e4
            near = np.tril(cos4 >= _SEMDEDUP_TAU, k=-1)  # [j, i<j] with id asc
            out = ids[near.any(axis=1)]
        else:
            blk = pdf["blk"].to_numpy()[order]
            a, b = m[blk == bi], m[blk == bj]
            ia, ib = ids[blk == bi], ids[blk == bj]
            if len(ia) == 0 or len(ib) == 0:
                out = ids[:0]
            else:
                raw = a @ b.T
                cos4 = np.sign(raw) * np.floor(np.abs(raw) * 1e4 + 0.5) / 1e4
                ii, jj = np.nonzero(cos4 >= _SEMDEDUP_TAU)
                out = np.unique(np.maximum(ia[ii], ib[jj]))
        return pd.DataFrame({"vec_id": out})

    dropped = (
        v.groupBy("cid", "bi", "bj")
        .applyInPandas(dropped_in_block_pair, "vec_id long")
        .distinct()
        .withColumn("dropped", F.lit(1))
    )
    return asg.join(dropped, "vec_id", "left").select(
        "vec_id",
        F.col("cid").alias("cluster_id"),
        F.coalesce("dropped", F.lit(0)).cast("int").alias("dropped"),
    )


ORACLE_SEMDEDUP = f"""
WITH {_KM_CTES},
emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
pairs AS (
  SELECT b.vec_id AS drop_id
  FROM fin a JOIN fin b ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN emb ea ON ea.vec_id = a.vec_id
  JOIN emb eb ON eb.vec_id = b.vec_id
  WHERE round(list_cosine_similarity(ea.v, eb.v), 4) >= {_SEMDEDUP_TAU}
)
SELECT f.vec_id, f.cid AS cluster_id,
       CASE WHEN d.drop_id IS NULL THEN 0 ELSE 1 END AS dropped
FROM fin f
LEFT JOIN (SELECT DISTINCT drop_id FROM pairs) d ON d.drop_id = f.vec_id
"""


_PQ_M = 2  # subspaces
_PQ_K = 4  # codes per subspace
_PQ_SUBDIM = 32  # DIM / _PQ_M


def q_emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: split each vector into M=2 subspaces, train
    a K=4 codebook per subspace (one Lloyd iteration, seeds = the K
    lowest vec_ids' sub-vectors), and emit each vector's code word plus
    its reconstruction error — the memory-side companion to the IVF
    index (PQ compresses the vectors IVF's inverted lists point at;
    int8 quantization in curation.py is the cheaper linear variant).

    All M codebooks train in ONE dataflow: the exploded (vec, subspace,
    pos, v) table joins a broadcast (subspace, code, pos, c) centroid
    table, distances min-reduce per (vec, subspace, code), and the
    argmin ranks on the distance rounded to 9 decimals with code-id
    tie-break — the k-means core's conventions, so the unrolled oracle
    reproduces code assignment exactly. Per-subspace codes pivot to
    columns via a conditional aggregate (M is a compile-time constant).
    """
    e = load_table(spark, sf_dir, "embeddings")
    el = (
        e.select("vec_id", F.posexplode("embedding").alias("pos", "v"))
        .select(
            "vec_id",
            (F.col("pos") / _PQ_SUBDIM).cast("int").alias("s"),
            (F.col("pos") % _PQ_SUBDIM).alias("posw"),
            F.col("v").cast("double").alias("v"),
        )
        .localCheckpoint(eager=False)
    )
    init = (
        e.orderBy("vec_id").limit(_PQ_K).select(F.col("vec_id").alias("cid"))
    )
    cent = el.join(F.broadcast(init), el.vec_id == init.cid).select(
        "s", "cid", "posw", F.col("v").alias("c")
    )

    def _assign(centroids):
        d2 = (
            el.join(F.broadcast(centroids), ["s", "posw"])
            .groupBy("vec_id", "s", "cid")
            .agg(
                F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))).alias(
                    "d2"
                )
            )
        )
        w = Window.partitionBy("vec_id", "s").orderBy(
            F.asc(F.round("d2", 9)), F.asc("cid")
        )
        return d2.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)

    assign = _assign(cent).select("vec_id", "s", "cid")
    cent = (
        el.join(assign, ["vec_id", "s"])
        .groupBy("s", "cid", "posw")
        .agg(F.avg("v").alias("c"))
        .localCheckpoint(eager=False)
    )
    final = _assign(cent)
    return final.groupBy("vec_id").agg(
        F.min(F.when(F.col("s") == 0, F.col("cid"))).alias("code_s0"),
        F.min(F.when(F.col("s") == 1, F.col("cid"))).alias("code_s1"),
        F.round(F.sum("d2") / F.lit(DIM_TOTAL), 6).alias("recon_mse"),
    )


DIM_TOTAL = _PQ_M * _PQ_SUBDIM


def _pq_assign_sql(cent: str, alias: str) -> str:
    return f"""
{alias} AS (
  SELECT vec_id, s, cid, d2 FROM (
    SELECT d.vec_id, d.s, d.cid, d.d2,
           row_number() OVER (PARTITION BY d.vec_id, d.s
                              ORDER BY round(d.d2, 9) ASC, d.cid ASC) AS rk
    FROM (
      SELECT e.vec_id, e.s, c.cid, sum((e.v - c.c) * (e.v - c.c)) AS d2
      FROM el e JOIN {cent} c ON c.s = e.s AND c.posw = e.posw
      GROUP BY 1, 2, 3
    ) d
  ) WHERE rk = 1
)"""


ORACLE_PQ = f"""
WITH el AS (
  SELECT vec_id,
         -- floor, not CAST: DuckDB CAST(double AS INT) rounds to nearest
         CAST(floor((generate_subscripts(embedding, 1) - 1) / {_PQ_SUBDIM}.0) AS INT) AS s,
         (generate_subscripts(embedding, 1) - 1) % {_PQ_SUBDIM} AS posw,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
init AS (SELECT vec_id AS cid FROM embeddings ORDER BY vec_id LIMIT {_PQ_K}),
cent0 AS (
  SELECT e.s, i.cid, e.posw, e.v AS c
  FROM el e JOIN init i ON i.cid = e.vec_id
),
{_pq_assign_sql("cent0", "a1")},
cent1 AS (
  SELECT a.s, a.cid, e.posw, avg(e.v) AS c
  FROM el e JOIN a1 a ON a.vec_id = e.vec_id AND a.s = e.s
  GROUP BY 1, 2, 3
),
{_pq_assign_sql("cent1", "fin")}
SELECT vec_id,
       min(CASE WHEN s = 0 THEN cid END) AS code_s0,
       min(CASE WHEN s = 1 THEN cid END) AS code_s1,
       round(sum(d2) / {DIM_TOTAL}, 6) AS recon_mse
FROM fin
GROUP BY 1
"""


_OPQ_M = 4  # subspaces
_OPQ_K = 16  # codes per subspace
_OPQ_SEED = 44  # shared by the OPQ trainer AND its plain-PQ baseline


def q_emb_opq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ — Optimized Product Quantization (Ge et al. 2013): learn an
    orthogonal rotation that re-mixes coordinates across the M=4 PQ
    subspaces before quantization, then emit each vector's rotated-space
    code word, its OPQ reconstruction error, and — as an in-band audit —
    the PLAIN PQ error of the same (M, K, sample, seed) configuration,
    so every row carries the evidence that the rotation paid for itself
    (err_gain ≥ 0 in aggregate; pinned by pytest).

    HASH-GATED on its quality contract (r10 verdict #3 — the last
    rows-only residue, closed via the IVF-PQ recall-floor pattern):
    the Procrustes SVD and the codebooks stay engine-side, and the
    driver row is a one-row summary whose oracle-recomputable columns
    (n_vecs, the M/K configuration) DuckDB recomputes and whose two
    contract booleans it asserts — the rotation must not lose to the
    plain-PQ baseline trained from the same (sample, seed, init)
    (``rotation_improves``: mean OPQ reconstruction error ≤ mean PQ
    error), and every emitted code must index a real centroid
    (``codes_in_range``). A trainer regression now trips the driver's
    value-hash gate. Per-vector code words stay available through
    ``_opq_code_frame`` (pinned by tests/test_similarity.py).

    Scale shape: training is bounded driver-side numpy over the
    seeded-hash TakeOrdered sample (the IVF/PQ trainer rule); the dim²
    rotation and codebooks broadcast into ONE vectorized mapInPandas
    pass that rotates, assigns, and scores each Arrow batch — the
    collection streams through linearly, and the audit aggregate is a
    4-cell partial reduce."""
    codes = _opq_code_frame(spark, sf_dir)
    return codes.agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.lit(_OPQ_M).alias("m_sub"),
        F.lit(_OPQ_K).alias("n_codes"),
        F.coalesce(
            F.avg("opq_err") <= F.avg("pq_err"), F.lit(True)
        ).alias("rotation_improves"),
        F.coalesce(
            F.min(
                (F.col("code_min") >= 0) & (F.col("code_max") < _OPQ_K)
            ),
            F.lit(True),
        ).alias("codes_in_range"),
    )


def _opq_code_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector OPQ code words + reconstruction errors — the full
    OPQ output (q_emb_opq_codes gates its one-row audit summary).
    Code words are dash-joined STRINGs (the driver canonicalizer's
    scalar-columns rule, r5) plus min/max code columns for the
    range audit."""
    import numpy as np
    import pandas as pd

    from ..similarity import _pq_reconstruct, train_opq, train_pq_codebooks

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    r_mat, books = train_opq(e, m_sub=_OPQ_M, n_codes=_OPQ_K, seed=_OPQ_SEED)
    # the plain-PQ baseline MUST share the sample/seed/init or the
    # err_gain audit compares two different training draws, not the
    # rotation's contribution
    pq_books = train_pq_codebooks(e, m_sub=_OPQ_M, n_codes=_OPQ_K, seed=_OPQ_SEED)
    schema = (
        "vec_id long, codes string, opq_err double, pq_err double,"
        " code_min int, code_max int"
    )
    if r_mat.size == 0:
        return spark.createDataFrame([], schema)
    m_sub, _, subdim = books.shape

    def assign(batches):
        for pdf in batches:
            x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            xr = x @ r_mat
            codes = np.zeros((len(x), m_sub), dtype=np.int32)
            for s in range(m_sub):
                sub = xr[:, s * subdim : (s + 1) * subdim]
                d2 = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = d2.argmin(axis=1).astype(np.int32)
            opq_err = ((xr - _pq_reconstruct(xr, books)) ** 2).sum(axis=1)
            pq_err = ((x - _pq_reconstruct(x, pq_books)) ** 2).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "codes": ["-".join(map(str, row)) for row in codes],
                    "opq_err": np.round(opq_err, 6),
                    "pq_err": np.round(pq_err, 6),
                    "code_min": codes.min(axis=1),
                    "code_max": codes.max(axis=1),
                }
            )

    return e.mapInPandas(assign, schema)


# interpolate _OPQ_M/_OPQ_K (the Spark side emits F.lit(_OPQ_M) /
# F.lit(_OPQ_K)) so a future constant bump can't desync the oracle
ORACLE_OPQ_CODES = f"""
SELECT CAST(count(*) AS BIGINT) AS n_vecs,
       {_OPQ_M} AS m_sub,
       {_OPQ_K} AS n_codes,
       TRUE AS rotation_improves,
       TRUE AS codes_in_range
FROM embeddings
"""


def q_emb_pca_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA eigen-spectrum of the embedding collection: one row per
    principal component with its eigenvalue, variance-explained share,
    and cumulative share — the dimensionality audit behind Matryoshka
    truncation and PQ subspace choices (how many components carry the
    collection's variance).

    Distributed part: the d×d covariance accumulates as per-batch
    (n, Σx, XᵀX) sufficient statistics in ONE mapInPandas pass with an
    element-wise merge — vectors are never shuffled and only d²+d+1
    aggregated cells reach the driver (the bounded trainer-rule
    collect). Driver part: a d×d symmetric eigendecomposition — a dense
    O(d³) problem whose size is independent of collection size, exactly
    like the OPQ Procrustes SVD.

    Hash-gated at the driver since r10 (the ANN-recall-gate pattern):
    eigensolvers aren't SQL, but the spectrum's defining IDENTITIES
    are — one summary row carries (n_vectors, n_components, the
    covariance TRACE rounded to 6) which the DuckDB oracle recomputes
    independently (trace = Σ_d var_pop(dim)), plus three contract
    booleans the oracle asserts: Σλ equals the trace, the spectrum is
    descending and PSD, and the variance-explained shares sum to 1. A
    wrong decomposition (bad merge of the sufficient statistics, a
    non-symmetric covariance, sign/order bugs) trips the gate; the full
    per-component spectrum stays available from
    ``similarity.covariance_matrix`` + ``numpy.linalg.eigvalsh``."""
    import numpy as np

    from ..similarity import covariance_matrix

    e = load_table(spark, sf_dir, "embeddings")
    cov, n = covariance_matrix(e)
    schema = (
        "n_vectors long, n_components long, trace_r double, "
        "eig_sum_matches_trace boolean, spectrum_desc_psd boolean, "
        "var_shares_sum_to_one boolean"
    )
    if n == 0:
        return spark.createDataFrame([], schema)
    eig = np.linalg.eigvalsh(cov)[::-1]  # descending
    trace = float(np.trace(cov))
    shares_ok = trace > 0 and abs(float(eig.sum()) / trace - 1.0) <= 1e-6
    return spark.createDataFrame(
        [
            (
                n,
                int(cov.shape[0]),
                round(trace, 6),
                abs(float(eig.sum()) - trace) <= 1e-6,
                bool(np.all(np.diff(eig) <= 0) and eig[-1] >= -1e-9),
                bool(shares_ok),
            )
        ],
        schema,
    )


ORACLE_PCA_TRACE = """
WITH el AS (
  SELECT vec_id,
         CAST(unnest(embedding) AS DOUBLE) AS val,
         unnest(range(len(embedding))) AS idx
  FROM embeddings
),
dimvar AS (SELECT idx, var_pop(val) AS v FROM el GROUP BY idx)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_vectors,
       CAST(count(*) AS BIGINT) AS n_components,
       round(sum(v), 6) AS trace_r,
       TRUE AS eig_sum_matches_trace,
       TRUE AS spectrum_desc_psd,
       TRUE AS var_shares_sum_to_one
FROM dimvar
"""


_WHITEN_EPS = 1e-9  # relative eigenvalue floor: components below drop
_WHITEN_TOL = 1e-6  # unit-variance / decorrelation contract tolerance


def q_emb_whitening_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA whitening + its own distributed audit — the decorrelation
    transform feature pipelines run before cosine/linear probes (and
    the preconditioning OPQ's rotation approximates): W = V·Λ^(-½)
    from the population covariance's eigendecomposition, applied in
    one broadcast-W mapInPandas pass. The one-row summary is
    hash-gated on the transform's DEFINING contract (the
    emb_pca_spectrum pattern): the whitened collection's per-dim
    variances must all be 1 and its off-diagonal covariances 0 (both
    within 1e-6), verified by a SECOND independent distributed
    covariance pass over the whitened frame — not by trusting the
    algebra. DuckDB recomputes n and the input covariance trace (sum
    of per-dim population variances) and asserts the booleans.

    Scale: two covariance_matrix passes (d²-cell sufficient-statistic
    shuffles, vectors never shuffled), one d×d eigh on the driver,
    one linear transform pass — the 100 TB shape of every
    moment-based preprocessor in this repo."""
    import numpy as np
    import pandas as pd

    from ..similarity import covariance_matrix

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cov, n = covariance_matrix(e)
    schema = (
        "n_vecs long, trace_r double, unit_variance boolean,"
        " decorrelated boolean"
    )
    if n == 0:
        return spark.createDataFrame([], schema)
    trace = float(np.trace(cov))
    evals, evecs = np.linalg.eigh(cov)
    keep = evals > _WHITEN_EPS * max(float(evals.max()), 1.0)
    w_mat = evecs[:, keep] / np.sqrt(evals[keep])[None, :]
    mean_rows = (
        e.select(F.posexplode("embedding").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.avg("val").alias("m"))
        .collect()
    )
    mean = np.zeros(cov.shape[0])
    for r in mean_rows:
        mean[r.pos] = r.m

    def whiten(batches):
        for pdf in batches:
            x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            z = (x - mean) @ w_mat
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "embedding": list(z)}
            )

    whitened = e.mapInPandas(whiten, "vec_id long, embedding array<double>")
    cov_w, n_w = covariance_matrix(whitened)
    diag = np.diag(cov_w)
    off = cov_w - np.diag(diag)
    # all-constant collection: every component drops, cov_w is 0×0 and
    # the contracts hold vacuously (np.max on empty would raise)
    max_off = float(np.max(np.abs(off))) if off.size else 0.0
    return spark.createDataFrame(
        [
            (
                n,
                round(trace, 6),
                bool(
                    n_w == n
                    and np.all(np.abs(diag - 1.0) <= _WHITEN_TOL)
                ),
                bool(max_off <= _WHITEN_TOL),
            )
        ],
        schema,
    )


ORACLE_WHITENING = """
WITH el AS (
  SELECT vec_id,
         CAST(unnest(embedding) AS DOUBLE) AS val,
         unnest(range(len(embedding))) AS idx
  FROM embeddings
),
dimvar AS (SELECT idx, var_pop(val) AS v FROM el GROUP BY idx)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_vecs,
       round(sum(v), 6) AS trace_r,
       TRUE AS unit_variance,
       TRUE AS decorrelated
FROM dimvar
"""


_MAT_DIMS = (8, 16, 32)  # truncation prefixes audited against the full dim
_MAT_K = 5
_MAT_QUERIES = 10  # query batch: vec_id < 10


def q_emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit (Kusupati et al. 2022): how much of
    the FULL-dimension exact top-5 survives when cosine runs on only the
    first 8/16/32 coordinates — the measurement behind "can I store
    truncated embeddings and keep my retrieval quality". One row per
    truncation width with the mean and worst per-query recall@5 over a
    10-query batch.

    Plan: one broadcast-query exact top-k per width (the cosine_topk
    shape — the collection is never shuffled; the per-query window ranks
    on cosine rounded to 6 with id tie-break, the repo's deterministic
    ranking key), the full-dim reference set is lazily checkpointed and
    reused by every width's semi-join, and each width collapses to a
    1-row aggregate. Entirely JVM expressions — truncation is
    ``slice(embedding, 1, d)``, so at 100 TB each audit pass reads d/64
    of the vector bytes after parquet column decoding."""
    e = load_table(spark, sf_dir, "embeddings")

    def topk_pairs(d: int | None) -> DataFrame:
        return _cosine_topk_ranked(e, _MAT_QUERIES, _MAT_K, d).select(
            "query_id", "vec_id"
        )

    full = topk_pairs(None).localCheckpoint(eager=False)
    # denominator = each query's ACTUAL full-dim set size, not the
    # constant k (the recall-audit convention: a query with
    # fewer than k true neighbors still reads 1.0 when fully recovered)
    n_full = full.groupBy("query_id").agg(F.count("*").alias("n_full"))
    per_dim = []
    for d in _MAT_DIMS:
        hits = (
            full.join(topk_pairs(d), ["query_id", "vec_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count("*").alias("hits"))
        )
        per_q = n_full.join(hits, "query_id", "left").select(
            (F.coalesce(F.col("hits"), F.lit(0)) / F.col("n_full")).alias("recall")
        )
        per_dim.append(
            per_q.agg(
                F.round(F.avg("recall"), 4).alias("mean_recall"),
                F.round(F.min("recall"), 4).alias("min_recall"),
            ).select(F.lit(d).alias("trunc_dim"), "mean_recall", "min_recall")
        )
    out = per_dim[0]
    for df in per_dim[1:]:
        out = out.unionByName(df)
    return out


def _mat_topk_sql(name: str, d: int | None) -> str:
    # SQL twin of _cosine_topk_ranked — same el/norms/dots/rank CTE
    # structure as ORACLE_COSINE with an optional idx < d truncation;
    # any change to the ranking convention (round-6 key, id tie-break)
    # must land in ORACLE_COSINE, here, and _cosine_topk_ranked together.
    dot_clause = f"AND q.idx < {d}" if d is not None else ""
    norm_clause = f"WHERE idx < {d}" if d is not None else ""
    return f"""
{name} AS (
  SELECT query_id, vec_id FROM (
    SELECT d.query_id, d.vec_id,
           row_number() OVER (PARTITION BY d.query_id
                              ORDER BY round(d.dot / (nq.norm * nc.norm), 6) DESC,
                                       d.vec_id ASC) AS rk
    FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id, sum(q.val * c.val) AS dot
      FROM el q JOIN el c ON q.idx = c.idx AND q.vec_id <> c.vec_id
      WHERE q.vec_id < {_MAT_QUERIES} {dot_clause}
      GROUP BY 1, 2
    ) d
    JOIN (SELECT vec_id, sqrt(sum(val * val)) AS norm FROM el {norm_clause} GROUP BY 1) nq
      ON nq.vec_id = d.query_id
    JOIN (SELECT vec_id, sqrt(sum(val * val)) AS norm FROM el {norm_clause} GROUP BY 1) nc
      ON nc.vec_id = d.vec_id
  ) WHERE rk <= {_MAT_K}
)"""


def _mat_recall_sql(d: int) -> str:
    return f"""
SELECT {d} AS trunc_dim,
       round(avg(recall), 4) AS mean_recall,
       round(min(recall), 4) AS min_recall
FROM (
  SELECT f.query_id,
         -- denominator = the query's ACTUAL full-dim set size
         sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
           / CAST(count(*) AS DOUBLE) AS recall
  FROM full_rk f
  LEFT JOIN t{d}_rk t ON t.query_id = f.query_id AND t.vec_id = f.vec_id
  GROUP BY 1
)"""


ORACLE_MATRYOSHKA = f"""
WITH el AS (
  SELECT vec_id,
         CAST(unnest(embedding) AS DOUBLE) AS val,
         unnest(range(len(embedding))) AS idx
  FROM embeddings
),
{_mat_topk_sql("full_rk", None)},
{",".join(_mat_topk_sql(f"t{d}_rk", d).lstrip() for d in _MAT_DIMS)}
{" UNION ALL ".join(_mat_recall_sql(d) for d in _MAT_DIMS)}
"""


# --- farthest-point (maximin) center selection ------------------------------

_FPS_K = 8  # centers to select
_FPS_Q = 10_000  # fixed-point scale: per-dim diffs ≤ 2e4, d² ≤ 64·4e8 — int64-exact


def q_emb_maximin_centers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Farthest-point sampling (maximin traversal) — the deterministic
    k-means++ / coreset seeding pass: start from the smallest vec_id,
    then repeatedly select the vector farthest (max min-distance) from
    everything selected so far, ties to the smaller id.

    A sequential selection algorithm made hash-gateable the MMR way:
    vectors quantize to vq = floor(v·10⁴) so every pairwise squared
    distance is an EXACT int64 (≤ 64·(2·10⁴)² ≈ 2.6e10), the argmax
    comparator is (d² DESC, vec_id ASC), and the DuckDB oracle replays
    the traversal step-for-step with a recursive CTE over the
    precomputed exact pair distances.

    Scale shape — unlike MMR's bounded-pool contract, this one is
    FULLY distributed: the running min-distance column updates in
    place (least(mind, d² to the new center) — the new center's 64
    quantized coords inline as one constant-folded expr, the SRP py4j
    lesson), and each round's argmax is a distributed
    TakeOrderedAndProject(1), so the frame is scanned K times with no
    pairwise materialization anywhere — O(K·n·dim) work, the textbook
    GPU/cluster FPS schedule. Per-round lazy checkpoints keep the
    K-deep least() lineage flat."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    vq = F.transform(
        F.col("embedding"), lambda v: F.floor(v.cast("double") * _FPS_Q).cast("long")
    )
    qdf = e.select("vec_id", vq.alias("vq")).localCheckpoint(eager=False)
    first = qdf.orderBy("vec_id").limit(1).first()
    centers = [(1, first.vec_id)]
    picked_ids = {first.vec_id}

    def d2_expr(cvq: list) -> F.Column:
        arr = "array(" + ",".join(f"{int(x)}L" for x in cvq) + ")"
        return F.expr(
            f"aggregate(zip_with(vq, {arr}, (a, b) -> (a - b) * (a - b)),"
            " CAST(0 AS BIGINT), (s, v) -> s + v)"
        )

    cur = qdf.withColumn("mind", d2_expr(first.vq)).localCheckpoint(eager=False)
    for rank in range(2, _FPS_K + 1):
        nxt = (
            cur.filter(~F.col("vec_id").isin(*picked_ids))
            .orderBy(F.desc("mind"), F.asc("vec_id"))
            .limit(1)
            .first()
        )
        centers.append((rank, nxt.vec_id))
        picked_ids.add(nxt.vec_id)
        cur = cur.withColumn(
            "mind", F.least(F.col("mind"), d2_expr(nxt.vq))
        ).localCheckpoint(eager=False)
    return spark.createDataFrame(centers, "rank long, vec_id long")


def _fps_oracle_sql() -> str:
    return f"""
WITH RECURSIVE el AS (
  SELECT vec_id,
         CAST(floor(CAST(e.val AS DOUBLE) * {_FPS_Q}.0) AS BIGINT) AS vq,
         CAST(e.idx AS BIGINT) AS d
  FROM (SELECT vec_id, unnest(embedding) AS val,
               unnest(range(len(embedding))) AS idx
        FROM embeddings) e
),
dists AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         CAST(sum((a.vq - b.vq) * (a.vq - b.vq)) AS BIGINT) AS d2
  FROM el a JOIN el b ON a.d = b.d AND a.vec_id < b.vec_id
  GROUP BY 1, 2
),
sel(step, picked) AS (
  SELECT 1, [CAST((SELECT min(vec_id) FROM embeddings) AS BIGINT)]
  UNION ALL
  SELECT step + 1, list_append(picked, (
    SELECT c.vec_id FROM (SELECT DISTINCT vec_id FROM el) c
    WHERE NOT list_contains(picked, c.vec_id)
    ORDER BY (
      SELECT min(d.d2) FROM dists d
      WHERE (d.va = c.vec_id AND list_contains(picked, d.vb))
         OR (d.vb = c.vec_id AND list_contains(picked, d.va))
    ) DESC, c.vec_id ASC
    LIMIT 1
  ))
  FROM sel WHERE step < {_FPS_K}
)
SELECT CAST(i + 1 AS BIGINT) AS rank,
       picked[CAST(i + 1 AS BIGINT)] AS vec_id
FROM (SELECT picked FROM sel WHERE step = {_FPS_K}),
     (SELECT unnest(range({_FPS_K})) AS i)
ORDER BY rank
"""


ORACLE_FPS = _fps_oracle_sql()


def _fps_big_oracle_sql() -> str:
    """SF ≥ 0.1 oracle (tools/check.py swaps it in): INCREMENTAL
    farthest-point sampling — the recursion carries each vector's
    min-d² to the chosen set and each step evaluates distances to the
    ONE new center (n·k evaluations total), where the original oracle
    materializes the full pair table and re-scans it per candidate per
    step (judge-scale cost: 117 s at sf0.1 vs 0.9 s for this form;
    byte-identical at sf0.001/sf0.01, pinned by
    tests/test_r9_queries.py::test_fps_big_oracle_matches_original).
    Same argmax/tie-break key (min_d2 DESC, vec_id ASC); the sf0.01
    gate and the driver keep the non-incremental original as the
    independent check."""
    k, q = _FPS_K, _FPS_Q
    return f"""
WITH RECURSIVE q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * {q}.0) AS BIGINT)) AS vq
  FROM embeddings
),
c0 AS (SELECT min(vec_id) AS c FROM q),
state(step, vec_id, min_d2) AS (
  SELECT 1, a.vec_id,
         CAST(list_sum(list_transform(range(1, len(a.vq) + 1),
              i -> (a.vq[i] - b.vq[i]) * (a.vq[i] - b.vq[i]))) AS BIGINT)
  FROM q a JOIN q b ON b.vec_id = (SELECT c FROM c0)
  WHERE a.vec_id <> b.vec_id
  UNION ALL
  SELECT s2.step + 1, s2.vec_id,
         least(s2.min_d2,
           CAST(list_sum(list_transform(range(1, len(a.vq) + 1),
                i -> (a.vq[i] - w.vq[i]) * (a.vq[i] - w.vq[i]))) AS BIGINT))
  FROM (
    SELECT s.*, first_value(s.vec_id)
             OVER (ORDER BY s.min_d2 DESC, s.vec_id ASC) AS new_winner
    FROM state s
  ) s2
  JOIN q a ON a.vec_id = s2.vec_id
  JOIN q w ON w.vec_id = s2.new_winner
  WHERE s2.step < {k} AND s2.vec_id <> s2.new_winner
)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS rank, (SELECT c FROM c0) AS vec_id
  UNION ALL
  SELECT CAST(step + 1 AS BIGINT) AS rank, win AS vec_id FROM (
    SELECT step,
           first_value(vec_id) OVER (PARTITION BY step
                                     ORDER BY min_d2 DESC, vec_id ASC) AS win,
           row_number() OVER (PARTITION BY step
                              ORDER BY min_d2 DESC, vec_id ASC) AS rn
    FROM state
  ) WHERE rn = 1 AND step + 1 <= {k}
) ORDER BY rank
"""


ORACLE_FPS_BIG = _fps_big_oracle_sql()


def _label_smoothing_big_sql() -> str:
    """SF ≥ 0.1 twin of ORACLE_LABEL_SMOOTHING: the per-vector top-k is
    one hash aggregate (list → list_sort on the struct ranking key →
    slice) instead of a row_number window over the full n² pair table —
    same ranking key (cosine rounded to 6 DESC, neighbor ASC), measured
    6.6 s → 1.4 s at sf0.1, byte-identical (pytest-pinned at
    sf0.001/sf0.01)."""
    return f"""
WITH emb AS MATERIALIZED (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
nn AS (
  SELECT vec_id,
         unnest(list_transform(
           (list_sort(list({{c: -round(list_cosine_similarity(a_v, v), 6),
                             n: b_vec}})))[1:{_SMOOTH_K}],
           s -> s.n)) AS neighbor_id
  FROM (
    SELECT a.vec_id AS vec_id, a.v AS a_v, b.vec_id AS b_vec, b.v AS v
    FROM emb a JOIN emb b ON a.vec_id <> b.vec_id
  )
  GROUP BY vec_id
),
votes AS (
  SELECT nn.vec_id, e.label AS n_label, count(*) AS votes
  FROM nn JOIN emb e ON e.vec_id = nn.neighbor_id
  GROUP BY 1, 2
),
best AS (
  SELECT vec_id, n_label AS knn_label, CAST(votes AS BIGINT) AS n_agree
  FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY votes DESC, n_label ASC) AS rk
    FROM votes
  ) WHERE rk = 1
)
SELECT b.vec_id, e.label, b.knn_label, b.n_agree,
       b.knn_label <> e.label AS mismatch
FROM best b JOIN emb e ON e.vec_id = b.vec_id
"""


ORACLE_LABEL_SMOOTHING_BIG = _label_smoothing_big_sql()

# SF ≥ 0.1 oracle overrides (see tools/check.py and SCALE.md
# §battery-budget): same result contract, incremental candidate
# maintenance / window-free top-k instead of full-pair-table rescans.
ORACLES_BIG = {
    "emb_maximin_centers": ORACLE_FPS_BIG,
    "emb_label_smoothing": ORACLE_LABEL_SMOOTHING_BIG,
}


# --- Johnson–Lindenstrauss random projection (oracled, integer planes) -----

_JL_R = 8  # target dimensionality
_JL_PLANE_OFFSET = 64  # plane index offset: decorrelates from SRP's p ∈ [0, 24)
_JL_PROBE = 40  # distortion audit over vec_id < 40 pairs


def _jl_weights() -> list[list[int]]:
    """The r×64 projection matrix as plain ints — the same Lehmer fold
    as the SRP hyperplanes (w = lehmer2(x) % 2001 − 1000) at plane rows
    p + 64, so the two operators draw disjoint plane families from one
    deterministic, engine-free generator."""
    from ..dedup import _PORT_A, _PORT_M

    w = []
    for p in range(_JL_R):
        row = []
        for d in range(64):
            x = (p + _JL_PLANE_OFFSET) * _SRP_X_STRIDE + d
            mix = ((x % _PORT_M) * _PORT_A % _PORT_M) * _PORT_A % _PORT_M
            row.append(mix % _SRP_W_RANGE - 1000)
        w.append(row)
    return w


def jl_project(e: DataFrame) -> DataFrame:
    """(vec_id, proj array<long>) — fixed-point Johnson–Lindenstrauss
    projection to ``_JL_R`` dims: vq = floor(v·10⁶) int64, proj_p = Σ_d w(p,d)·
    vq_d, exact integer math end-to-end (|proj| ≤ 64·10⁶·10³ ≈ 6.4e10,
    int64-safe). One server-side-parsed expr (the SRP py4j lesson: a
    literal weight matrix built from F.lit columns costs seconds of
    driver time; an expr string constant-folds), zero shuffles, pure
    whole-stage-codegen row work — the 100 TB shape of dimensionality
    reduction as a projection pushdown."""
    wmat_sql = (
        "array("
        + ",".join(
            "array(" + ",".join(f"{x}L" for x in row) + ")" for row in _jl_weights()
        )
        + ")"
    )
    vq = F.transform(
        F.col("embedding"), lambda v: F.floor(v.cast("double") * _SRP_Q).cast("long")
    )
    qdf = e.select("vec_id", vq.alias("vq")).repartition("vec_id")
    proj = F.expr(
        f"""
        transform(sequence(0, {_JL_R - 1}), p ->
          aggregate(zip_with(vq, element_at({wmat_sql}, CAST(p + 1 AS INT)),
                             (a, w) -> a * w),
                    CAST(0 AS BIGINT), (s, v) -> s + v))
        """
    )
    return qdf.select("vec_id", proj.alias("proj"))


def q_emb_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL projection + pairwise distance-distortion audit, fully
    hash-gated: embeddings project 64 → {r} dims through the integer
    Lehmer plane matrix (exact in both engines), then every probe pair
    (vec_id < {probe}) reports its original fixed-point L2 distance,
    its projected L2 distance, and the ratio — the number JL says
    concentrates around a constant (√(r·Var w) ≈ 1.63e3 here), which
    is the certificate that the projection preserves geometry. The
    audit pair join is bounded to the probe set; the projection itself
    is per-row work with no shuffle — at 100 TB you ship the r-dim
    vectors onward (8× narrower) and the audit runs on a sample,
    exactly as here. Squared distances leave int64 range, so both
    engines compute them in double from the SAME exact integer
    coordinates — order-insensitive at round-2/round-4 grain.
    """
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    vq = F.transform(
        F.col("embedding"), lambda v: F.floor(v.cast("double") * _SRP_Q).cast("long")
    )
    probe = (
        e.filter(F.col("vec_id") < _JL_PROBE)
        .select("vec_id", vq.alias("vq"))
        .join(jl_project(e.filter(F.col("vec_id") < _JL_PROBE)), "vec_id")
        .localCheckpoint(eager=False)
    )
    a = probe.select(
        F.col("vec_id").alias("vec_a"), F.col("vq").alias("vq_a"), F.col("proj").alias("pr_a")
    )
    b = probe.select(
        F.col("vec_id").alias("vec_b"), F.col("vq").alias("vq_b"), F.col("pr_b")
    ) if False else probe.select(
        F.col("vec_id").alias("vec_b"), F.col("vq").alias("vq_b"), F.col("proj").alias("pr_b")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("vq_a"), F.col("vq_b"), lambda x, y: (x - y).cast("double") * (x - y).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    p2 = F.aggregate(
        F.zip_with(F.col("pr_a"), F.col("pr_b"), lambda x, y: (x - y).cast("double") * (x - y).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # broadcast the (tiny, probe-bounded) right side so the inequality
    # pair join runs as a BroadcastNestedLoopJoin over 40 rows — never a
    # CartesianProduct exchange (tools/plans.py red-flags those)
    return (
        a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .withColumn("d_orig", F.round(F.sqrt(d2), 2))
        .withColumn("d_proj", F.round(F.sqrt(p2), 2))
        .filter(F.col("d_orig") > 0)
        .select(
            "vec_a",
            "vec_b",
            "d_orig",
            "d_proj",
            F.round(F.sqrt(p2) / F.sqrt(d2), 4).alias("ratio"),
        )
        # no trailing orderBy (order-insensitive hash; sort = wasted exchange)
    )


q_emb_jl_projection.__doc__ = q_emb_jl_projection.__doc__.format(
    r=_JL_R, probe=_JL_PROBE
)


def _jl_oracle_sql() -> str:
    from ..dedup import _PORT_A, _PORT_M

    return f"""
WITH el AS (
  SELECT vec_id,
         CAST(floor(CAST(e.val AS DOUBLE) * {_SRP_Q}.0) AS BIGINT) AS vq,
         CAST(e.idx AS BIGINT) AS d
  FROM (SELECT vec_id, unnest(embedding) AS val,
               unnest(range(len(embedding))) AS idx
        FROM embeddings WHERE vec_id < {_JL_PROBE}) e
),
planes AS (
  SELECT p, d,
         ((x % {_PORT_M}) * {_PORT_A} % {_PORT_M} * {_PORT_A} % {_PORT_M})
           % {_SRP_W_RANGE} - 1000 AS wt
  FROM (SELECT p, d, (p + {_JL_PLANE_OFFSET}) * {_SRP_X_STRIDE} + d AS x
        FROM (SELECT unnest(range({_JL_R})) AS p)
        CROSS JOIN (SELECT unnest(range(64)) AS d))
),
proj AS (
  SELECT el.vec_id, pl.p, sum(pl.wt * el.vq) AS pr
  FROM el JOIN planes pl ON el.d = pl.d
  GROUP BY 1, 2
),
d2 AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         sum(CAST(a.vq - b.vq AS DOUBLE) * CAST(a.vq - b.vq AS DOUBLE)) AS dd
  FROM el a JOIN el b ON a.d = b.d AND a.vec_id < b.vec_id
  GROUP BY 1, 2
),
p2 AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         sum(CAST(a.pr - b.pr AS DOUBLE) * CAST(a.pr - b.pr AS DOUBLE)) AS pp
  FROM proj a JOIN proj b ON a.p = b.p AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT d2.vec_a, d2.vec_b,
       round(sqrt(d2.dd), 2) AS d_orig,
       round(sqrt(p2.pp), 2) AS d_proj,
       round(sqrt(p2.pp) / sqrt(d2.dd), 4) AS ratio
FROM d2 JOIN p2 ON d2.vec_a = p2.vec_a AND d2.vec_b = p2.vec_b
WHERE round(sqrt(d2.dd), 2) > 0
ORDER BY d2.vec_a, d2.vec_b
"""


ORACLE_JL = _jl_oracle_sql()


def q_emb_text_alignment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal consistency audit: for every TEXT near-dup pair
    (3-gram Jaccard ≥ 0.25 — the dedup pipeline's own pair table), the
    pair's EMBEDDING cosine, bucketed by Jaccard quartile — a healthy
    embedding space shows cosine rising with text similarity; a flat or
    inverted profile means the vectors are broken/mismatched and every
    SemDeDup/ANN decision downstream is garbage. This is the check a
    pipeline runs BEFORE trusting embeddings it didn't train.

    Plan: the pair table is the already-bucketed near-dup join (never
    all-pairs); cosines are per-row zip_with/aggregate folds over the
    two (broadcastable-by-id) vector columns — sequential array folds,
    so both engines produce bit-identical doubles, which are then
    INTEGERIZED (round 1e6·cos) before the per-bucket mean so no double
    accumulates across pairs (the backtest's MAPE discipline)."""
    from .dedup import _ngram_pairs

    pairs = _ngram_pairs(spark, sf_dir).select("doc_a", "doc_b", "jaccard")
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    j = (
        pairs.join(e.select(F.col("vec_id").alias("doc_a"), F.col("v").alias("va")), "doc_a")
        .join(e.select(F.col("vec_id").alias("doc_b"), F.col("v").alias("vb")), "doc_b")
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(F.col(c), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    cos_int = F.round(F.lit(1e6) * dot / (nrm("va") * nrm("vb"))).cast("long")
    bucket = F.least(F.floor(F.col("jaccard") * 4), F.lit(3)).cast("long")
    agg = (
        j.select(bucket.alias("jaccard_bucket"), cos_int.alias("ci"))
        .groupBy("jaccard_bucket")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("ci").alias("sci"),
            F.min("ci").alias("mn"),
            F.max("ci").alias("mx"),
        )
    )
    return agg.select(
        "jaccard_bucket",
        "n_pairs",
        F.round(F.col("sci") / F.col("n_pairs") / 1e6, 4).alias("mean_cosine"),
        F.round(F.col("mn") / 1e6, 4).alias("min_cosine"),
        F.round(F.col("mx") / 1e6, 4).alias("max_cosine"),
    )


def _alignment_oracle_sql() -> str:
    from .dedup import ORACLE_NGRAM

    return f"""
WITH pairs AS ({ORACLE_NGRAM}),
emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
scored AS (
  SELECT least(CAST(floor(p.jaccard * 4) AS BIGINT), 3) AS jaccard_bucket,
         CAST(round(1e6 * list_cosine_similarity(a.v, b.v)) AS BIGINT) AS ci
  FROM pairs p
  JOIN emb a ON a.vec_id = p.doc_a
  JOIN emb b ON b.vec_id = p.doc_b
)
SELECT jaccard_bucket,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(CAST(sum(ci) AS BIGINT) / CAST(count(*) AS DOUBLE) / 1e6, 4)
         AS mean_cosine,
       round(min(ci) / 1e6, 4) AS min_cosine,
       round(max(ci) / 1e6, 4) AS max_cosine
FROM scored GROUP BY 1
"""


ORACLE_ALIGNMENT = _alignment_oracle_sql()  # dedup has no import back-edge


_RRF_DEPTH = 20  # per-ranker list depth fed into the fusion
_RRF_C = 60      # the canonical RRF damping constant (Cormack et al. SIGIR'09)
_RRF_TOPK = 5


def q_emb_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack/Clarke/
    Buettcher SIGIR'09): for each query document (vec_id < 5 — the
    embeddings and documents fixtures share an id space), fuse a DENSE
    ranking (exact embedding cosine, the _cosine_topk_ranked key) with
    a LEXICAL ranking (distinct-token overlap with the query doc's
    text) by score = Σ 1/(60 + rank) over the two top-20 lists, and
    emit the fused top-5 — the standard two-tower + BM25-ish blend
    every retrieval-backed curation pipeline runs, with both ranks
    carried so a miss in either list is visible (NULL rank ⇒ that
    ranker contributed nothing).

    Complement to text.q_doc_hybrid_rrf, not a repeat: that query fuses
    ONE fixed term-query's BM25 list with one vector's cosine list
    (search-box shape); this one is QUERY-BY-EXAMPLE over a query
    BATCH — each query is itself a document, the lexical ranker is
    whole-doc token overlap (no fixed term list), ranks fuse per query
    in one windowed pass, and absent-from-list ranks stay NULL so the
    output distinguishes "ranked low" from "not retrieved".

    Determinism: both input ranks are integers off deterministic keys
    (cosine rounded to 6 + vec_id tie; overlap count + doc_id tie), so
    the RRF score is a 2-term closed-form double both engines evaluate
    identically — no accumulation-order exposure. Plan shape: the
    5-query side broadcasts against both towers (no shuffle of either
    collection); the lexical side joins only on the QUERY's own tokens
    (posting-list pruning — candidate volume rides the query terms'
    document frequency, never |corpus|²), exactly the doc_bm25_topk
    scale path."""
    e = load_table(spark, sf_dir, "embeddings")
    cos = _cosine_topk_ranked(e, N_QUERY_VECS, _RRF_DEPTH).select(
        "query_id", F.col("vec_id").alias("cand_id"), F.col("rk").alias("cos_rk")
    )
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " +"))).alias("w"),
    ).filter(F.col("w") != "")
    qt = toks.filter(F.col("doc_id") < N_QUERY_VECS).select(
        F.col("doc_id").alias("query_id"), "w"
    )
    overlap = (
        toks.join(F.broadcast(qt), "w")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", F.col("doc_id").alias("cand_id"))
        .agg(F.count("*").alias("n_shared"))
    )
    w_lex = Window.partitionBy("query_id").orderBy(
        F.desc("n_shared"), F.asc("cand_id")
    )
    lex = (
        overlap.withColumn("lex_rk", F.row_number().over(w_lex))
        .filter(F.col("lex_rk") <= _RRF_DEPTH)
        .select("query_id", "cand_id", "lex_rk")
    )
    fused = cos.join(lex, ["query_id", "cand_id"], "full_outer").select(
        "query_id",
        "cand_id",
        "cos_rk",
        "lex_rk",
        (
            F.coalesce(1.0 / (F.lit(_RRF_C) + F.col("cos_rk")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(_RRF_C) + F.col("lex_rk")), F.lit(0.0))
        ).alias("score_raw"),
    )
    w_f = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("score_raw"), 9)), F.asc("cand_id")
    )
    return (
        fused.withColumn("fused_rk", F.row_number().over(w_f))
        .filter(F.col("fused_rk") <= _RRF_TOPK)
        .select(
            "query_id",
            "cand_id",
            "fused_rk",
            F.round("score_raw", 6).alias("rrf_score"),
            "cos_rk",
            "lex_rk",
        )
    )


ORACLE_RRF = f"""
WITH el AS (
  SELECT vec_id,
         CAST(unnest(embedding) AS DOUBLE) AS val,
         unnest(range(len(embedding))) AS idx
  FROM embeddings
),
norms AS (SELECT vec_id, sqrt(sum(val * val)) AS norm FROM el GROUP BY vec_id),
dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, sum(q.val * c.val) AS dot
  FROM el q JOIN el c ON q.idx = c.idx AND q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERY_VECS}
  GROUP BY 1, 2
),
cosr AS (
  SELECT query_id, cand_id,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY round(dot / (nq.norm * nc.norm), 6) DESC, cand_id ASC
         ) AS cos_rk
  FROM dots
  JOIN norms nq ON nq.vec_id = dots.query_id
  JOIN norms nc ON nc.vec_id = dots.cand_id
),
cos_top AS (SELECT * FROM cosr WHERE cos_rk <= {_RRF_DEPTH}),
toks AS (
  SELECT DISTINCT doc_id, w
  FROM (SELECT doc_id, unnest(string_split_regex(text, ' +')) AS w
        FROM documents)
  WHERE w <> ''
),
overlap AS (
  SELECT q.doc_id AS query_id, c.doc_id AS cand_id, count(*) AS n_shared
  FROM toks q JOIN toks c ON q.w = c.w AND c.doc_id <> q.doc_id
  WHERE q.doc_id < {N_QUERY_VECS}
  GROUP BY 1, 2
),
lexr AS (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY n_shared DESC, cand_id ASC) AS lex_rk
  FROM overlap
),
lex_top AS (SELECT * FROM lexr WHERE lex_rk <= {_RRF_DEPTH}),
fused AS (
  SELECT coalesce(a.query_id, b.query_id) AS query_id,
         coalesce(a.cand_id, b.cand_id) AS cand_id,
         a.cos_rk, b.lex_rk,
         coalesce(1.0 / ({_RRF_C} + a.cos_rk), 0.0)
           + coalesce(1.0 / ({_RRF_C} + b.lex_rk), 0.0) AS score_raw
  FROM cos_top a
  FULL OUTER JOIN lex_top b
    ON a.query_id = b.query_id AND a.cand_id = b.cand_id
)
SELECT query_id, cand_id, fused_rk,
       round(score_raw, 6) AS rrf_score, cos_rk, lex_rk
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id
    ORDER BY round(score_raw, 9) DESC, cand_id ASC) AS fused_rk
  FROM fused
)
WHERE fused_rk <= {_RRF_TOPK}
"""


_HNEG_K = 10  # neighborhood to mine impostors from
_HNEG_MARGIN = 0.1  # triplet margin: pos_cos − neg_cos below this is "active"


def q_emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training — per
    anchor vector, the nearest IMPOSTOR (closest neighbor with a
    different label) inside its exact 10-NN neighborhood, next to the
    nearest same-label neighbor's cosine and the triplet margin
    pos_cos − neg_cos. ``active`` marks anchors whose margin is under
    0.1 (or that have no friend in the neighborhood): exactly the
    triplets a margin-loss trainer should sample first. This is the
    training-side consumer of the kNN graph the registry already
    certifies (emb_knn_graph) and the mislabel audit's sibling
    (emb_label_smoothing votes; this one measures geometry).

    Plan: one blocked-matmul kNN reduction (quadratic BY CONTRACT, the
    ANN swap documented on the knn family) + two broadcast label joins
    + ONE hash aggregate per anchor (min over rk-keyed structs — no
    window over the neighbor fan-out). Integer ranks pick the winners,
    so engines cannot disagree on selection."""
    from ..similarity import knn_graph

    e = load_table(spark, sf_dir, "embeddings")
    labels = e.select("vec_id", F.col("label").cast("long").alias("label"))
    nn = knn_graph(e, k=_HNEG_K)
    j = nn.join(F.broadcast(labels), "vec_id").join(
        F.broadcast(
            labels.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("n_label"),
            )
        ),
        "neighbor_id",
    )
    mism = F.col("label") != F.col("n_label")
    agg = j.groupBy("vec_id", "label").agg(
        F.min(
            F.when(mism, F.struct("rk", "neighbor_id", "n_label", "cosine"))
        ).alias("neg"),
        F.min(F.when(~mism, F.struct("rk", "cosine"))).alias("pos"),
    )
    neg_cos = F.col("neg").getField("cosine")
    pos_cos = F.col("pos").getField("cosine")
    margin = F.round(pos_cos - neg_cos, 4)
    return agg.select(
        "vec_id",
        "label",
        F.col("neg").getField("neighbor_id").alias("neg_id"),
        F.col("neg").getField("n_label").alias("neg_label"),
        neg_cos.alias("neg_cos"),
        pos_cos.alias("pos_cos"),
        margin.alias("margin"),
        (
            neg_cos.isNotNull()
            & (pos_cos.isNull() | (margin < _HNEG_MARGIN))
        ).alias("active"),
    )


ORACLE_HARD_NEGATIVES = f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
scored AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         list_cosine_similarity(a.v, b.v) AS cos
  FROM emb a JOIN emb b ON a.vec_id <> b.vec_id
),
nn AS (
  SELECT vec_id, neighbor_id, round(cos, 4) AS cosine, rk FROM (
    SELECT vec_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY round(cos, 6) DESC, neighbor_id ASC) AS rk
    FROM scored
  ) WHERE rk <= {_HNEG_K}
),
lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
j AS (
  SELECT n.vec_id, l.label, n.neighbor_id, nl.label AS n_label, n.cosine, n.rk
  FROM nn n
  JOIN lab l ON l.vec_id = n.vec_id
  JOIN lab nl ON nl.vec_id = n.neighbor_id
),
agg AS (
  SELECT vec_id, label,
         arg_min(neighbor_id, rk) FILTER (WHERE label <> n_label) AS neg_id,
         arg_min(n_label, rk) FILTER (WHERE label <> n_label) AS neg_label,
         arg_min(cosine, rk) FILTER (WHERE label <> n_label) AS neg_cos,
         arg_min(cosine, rk) FILTER (WHERE label = n_label) AS pos_cos
  FROM j GROUP BY 1, 2
)
SELECT vec_id, label, neg_id, neg_label, neg_cos, pos_cos,
       round(pos_cos - neg_cos, 4) AS margin,
       (neg_cos IS NOT NULL
        AND (pos_cos IS NULL OR round(pos_cos - neg_cos, 4) < {_HNEG_MARGIN}))
         AS active
FROM agg
"""


_MUTUAL_K = 5


def q_emb_mutual_knn_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN semantic clustering — the graph-based alternative to
    centroid clustering (emb_semdedup's k-means) that needs no K: an
    edge exists iff a is in b's 5-NN AND b is in a's (the mutuality
    filter kills hub vertices, the classic failure of raw kNN graphs in
    high dimensions), then connected components label the clusters.
    Emits the cluster-SIZE histogram (size → cluster count, singletons
    = vectors with no mutual neighbor as size 1) — the shape report
    that tells a curation run whether the corpus has a few giant
    semantic blobs or many tight paraphrase sets.

    Plan: the kNN reduction (blocked matmul, quadratic by contract,
    ANN swap documented on the family) + a left-semi self-join for
    mutuality (n·k vs n·k rows) + the SHARED pointer-jumping
    components (dedup.dedup_clusters, O(log diameter) rounds) + two
    tiny aggregates. Oracle: the identical kNN in SQL + the registry's
    recursive-CTE transitive closure."""
    from ..dedup import dedup_clusters
    from ..similarity import knn_graph

    e = load_table(spark, sf_dir, "embeddings")
    # materialize the n·k-row edge list once (r14, interleaved A/B
    # 6.3→5.2 s at sf0.1): the mutuality semi-join consumes this frame
    # on both sides, and without the barrier the blocked-matmul kNN —
    # the one expensive subtree — executes twice in the edge-build job
    # (exchange reuse only recovers part of it)
    nn = (
        knn_graph(e, k=_MUTUAL_K)
        .select("vec_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    rev = nn.select(
        F.col("neighbor_id").alias("vec_id"), F.col("vec_id").alias("neighbor_id")
    )
    mutual = (
        nn.join(rev, ["vec_id", "neighbor_id"], "left_semi")
        .filter(F.col("vec_id") < F.col("neighbor_id"))
        .select(F.col("vec_id").alias("doc_a"), F.col("neighbor_id").alias("doc_b"))
    )
    labels = dedup_clusters(mutual)
    hist = (
        labels.groupBy("cluster_id")
        .agg(F.count("*").alias("sz"))
        .groupBy("sz")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            F.col("sz").cast("long").alias("cluster_size"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
        )
    )
    tot = e.groupBy().agg(F.count("*").alias("n_vec"))
    lab = labels.groupBy().agg(F.count("*").alias("n_lab"))
    singles = (
        tot.crossJoin(F.broadcast(lab))
        .filter(F.col("n_vec") - F.col("n_lab") > 0)
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            (F.col("n_vec") - F.col("n_lab")).cast("long").alias("n_clusters"),
        )
    )
    return hist.unionByName(singles)


ORACLE_MUTUAL_KNN = f"""
WITH RECURSIVE emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
-- MATERIALIZED: DuckDB re-inlines unmaterialized CTEs per reference,
-- so the recursive closure re-ran the n-squared cosine scan every time
-- nn/edges was touched (measured 37.5 s -> 4.5 s at sf0.1,
-- byte-identical result; pinned by tests/test_r10_queries.py).
scored AS MATERIALIZED (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         list_cosine_similarity(a.v, b.v) AS cos
  FROM emb a JOIN emb b ON a.vec_id <> b.vec_id
),
nn AS MATERIALIZED (
  SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, neighbor_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY round(cos, 6) DESC, neighbor_id ASC) AS rk
    FROM scored
  ) WHERE rk <= {_MUTUAL_K}
),
edges AS MATERIALIZED (
  SELECT a.vec_id AS src, a.neighbor_id AS dst
  FROM nn a JOIN nn b
    ON b.vec_id = a.neighbor_id AND b.neighbor_id = a.vec_id
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(node, label) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
labels AS (SELECT node, min(label) AS cid FROM reach GROUP BY node),
sizes AS (SELECT cid, count(*) AS sz FROM labels GROUP BY cid),
hist AS (
  SELECT CAST(sz AS BIGINT) AS cluster_size,
         CAST(count(*) AS BIGINT) AS n_clusters
  FROM sizes GROUP BY sz
),
tot AS (SELECT count(*) AS n_vec FROM embeddings),
lab AS (SELECT count(*) AS n_lab FROM labels)
SELECT cluster_size, n_clusters FROM hist
UNION ALL
SELECT CAST(1 AS BIGINT), CAST(n_vec - n_lab AS BIGINT)
FROM tot CROSS JOIN lab WHERE n_vec - n_lab > 0
"""


# --- cross-split leakage audit (decontamination across train/val/test) -----

_SPLIT_RANK = {"train": 0, "val": 1, "test": 2}


def q_emb_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination matrix — the decontamination audit
    every training pipeline runs after splitting: embedding near-dup
    pairs (the registered exact cosine ≥ {NEARDUP_THRESHOLD} join)
    whose endpoints landed in DIFFERENT splits are leakage (a val/test
    doc with a train near-twin inflates eval). Because split membership
    is a PURE FUNCTION of the id (the shared Lehmer 80/10/10 fold of
    doc_split_assign), the audit is column math over the pair stream —
    no join against an assignment table, no extra shuffle — followed by
    one 6-row aggregate: per (split_lo, split_hi) cell, the pair count,
    mean cosine, and the count of distinct CONTAMINATED docs (endpoints
    in the pair's later split).

    Scale: rides the blocked exact-kNN pair join (quadratic by
    contract; emb_srp_lsh_pairs is the documented LSH swap); the
    leakage classification adds a broadcast-free projection."""
    # (docstring threshold interpolated below, after the def)
    from .curation import _SPLIT_TRAIN, _SPLIT_VAL, _lehmer_u

    pairs = q_emb_cosine_neardup_pairs(spark, sf_dir)

    def split_of(col: str):
        u = _lehmer_u(F.col(col))
        return (
            F.when(u < _SPLIT_TRAIN, F.lit("train"))
            .when(u < _SPLIT_VAL, F.lit("val"))
            .otherwise(F.lit("test"))
        )

    def rank_of(split_col):
        return (
            F.when(split_col == "train", F.lit(0))
            .when(split_col == "val", F.lit(1))
            .otherwise(F.lit(2))
        )

    sa, sb = split_of("doc_a"), split_of("doc_b")
    ra, rb = rank_of(sa), rank_of(sb)
    labeled = pairs.select(
        "cosine",
        F.when(ra <= rb, sa).otherwise(sb).alias("split_lo"),
        F.when(ra <= rb, sb).otherwise(sa).alias("split_hi"),
        # the doc in the LATER split is the contaminated one; within-split
        # pairs contaminate nothing (count both as NULL → dropped by the
        # distinct count)
        F.when(ra < rb, F.col("doc_b"))
        .when(rb < ra, F.col("doc_a"))
        .alias("contaminated_doc"),
    )
    return labeled.groupBy("split_lo", "split_hi").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(F.avg("cosine"), 4).alias("mean_cosine"),
        F.countDistinct("contaminated_doc").cast("long").alias("n_contaminated"),
    )


q_emb_split_leakage.__doc__ = q_emb_split_leakage.__doc__.format(
    NEARDUP_THRESHOLD=NEARDUP_THRESHOLD
)


def _split_leakage_oracle_sql() -> str:
    from .curation import _SPLIT_TRAIN, _SPLIT_VAL
    from .text import _LEHMER_A, _LEHMER_M

    def u_sql(col: str) -> str:
        return (
            f"(((({col} % {_LEHMER_M}) * {_LEHMER_A}) % {_LEHMER_M})"
            f" * {_LEHMER_A} % {_LEHMER_M}) / {_LEHMER_M}.0"
        )

    def split_sql(col: str) -> str:
        return (
            f"CASE WHEN {u_sql(col)} < {_SPLIT_TRAIN} THEN 'train' "
            f"WHEN {u_sql(col)} < {_SPLIT_VAL} THEN 'val' "
            f"ELSE 'test' END"
        )

    return f"""
WITH pairs AS MATERIALIZED ({ORACLE_NEARDUP}),
labeled AS (
  SELECT cosine,
         CASE WHEN ra <= rb THEN sa ELSE sb END AS split_lo,
         CASE WHEN ra <= rb THEN sb ELSE sa END AS split_hi,
         CASE WHEN ra < rb THEN doc_b WHEN rb < ra THEN doc_a END
           AS contaminated_doc
  FROM (
    SELECT cosine, doc_a, doc_b, sa, sb,
           CASE sa WHEN 'train' THEN 0 WHEN 'val' THEN 1 ELSE 2 END AS ra,
           CASE sb WHEN 'train' THEN 0 WHEN 'val' THEN 1 ELSE 2 END AS rb
    FROM (
      SELECT cosine, doc_a, doc_b,
             {split_sql("doc_a")} AS sa,
             {split_sql("doc_b")} AS sb
      FROM pairs
    )
  )
)
SELECT split_lo, split_hi,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(cosine), 4) AS mean_cosine,
       CAST(count(DISTINCT contaminated_doc) AS BIGINT) AS n_contaminated
FROM labeled
GROUP BY 1, 2
"""


ORACLE_SPLIT_LEAKAGE = _split_leakage_oracle_sql()


_OOD_K = 50  # outliers reported


def q_emb_zscore_ood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-distribution scoring over the embedding collection —
    diagonal-covariance Mahalanobis (per-dim z-score energy): score(x)
    = Σ_d ((x_d − μ_d)/σ_d)², the standard first-pass OOD filter a
    training pipeline runs to quarantine corrupt / wrong-modality /
    mis-embedded vectors before they poison contrastive batches. The
    full-covariance variant is :func:`q_emb_whitening_audit`'s
    transform; the diagonal form stays exactly SQL-replayable, so the
    top-k outlier rows themselves are hash-gated (not just contract
    booleans). Constant dims (σ=0) contribute 0 by definition.

    Plan: per-dim (μ, σ) is one posexplode aggregate that map-side
    partial aggregation collapses to d cells per task — a d-row
    bounded collect (the whitening/PCA trainer-rule precedent) — then
    ONE vectorized mapInPandas scoring pass with the d-vector stats in
    the closure: vectors are never shuffled, and the only exchange is
    the rank-k window whose WindowGroupLimit rewrite forwards k rows
    per map task. Scores are rounded half-away BEFORE ranking so both
    engines rank the identical key.

    NOTE (eager stats): unlike the rest of the registry this builder
    runs a Spark job at CONSTRUCTION time — the d-row (μ, σ) collect
    must complete before the scoring plan can close over it, the same
    trainer-rule shape as the whitening/PCA/OPQ builders. Callers that
    only want the lazy plan should not construct this query. The scorer
    asserts uniform embedding dimensionality per batch (a ragged
    collection is a data bug — fail loudly, not with a numpy stacking
    artifact)."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    stats = (
        e.select(F.posexplode("embedding").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.avg("val").alias("mu"), F.stddev_pop("val").alias("sd"))
        .collect()
    )
    schema = "vec_id long, zood_r double, rk long"
    if not stats:
        return spark.createDataFrame([], schema)
    d = max(r.pos for r in stats) + 1
    mu = np.zeros(d)
    sd = np.zeros(d)
    for r in stats:
        mu[r.pos] = r.mu
        sd[r.pos] = r.sd
    safe = np.where(sd > 0, sd, 1.0)
    live = sd > 0

    def score(batches):
        for pdf in batches:
            lens = pdf["embedding"].map(len)
            if len(lens) and not (lens == d).all():
                bad = sorted(set(lens[lens != d].tolist()))[:5]
                raise ValueError(
                    f"emb_zscore_ood: ragged embeddings — expected dim {d}, "
                    f"saw lengths {bad}"
                )
            x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            z = np.where(live, (x - mu) / safe, 0.0)
            s = (z * z).sum(axis=1)
            # half AWAY from zero (scores ≥ 0): matches F.round/DuckDB
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "zood_r": np.floor(s * 1e4 + 0.5) / 1e4,
                }
            )

    scored = e.mapInPandas(score, "vec_id long, zood_r double")
    # orderBy().limit(k) compiles to TakeOrderedAndProject — a
    # per-partition partial top-k merged on the driver — so the global
    # ranking never funnels the full collection through one partition
    # (the unpartitioned-window rewrite does NOT fire across the Python
    # boundary here; measured: WindowExec moved all rows to 1 task).
    # The row_number window then ranks only the k survivors.
    top = scored.orderBy(F.desc("zood_r"), F.asc("vec_id")).limit(_OOD_K)
    w = Window.orderBy(F.desc("zood_r"), F.asc("vec_id"))
    return (
        top.withColumn("rk", F.row_number().over(w).cast("long")).select(
            "vec_id", "zood_r", "rk"
        )
    )


ORACLE_ZSCORE_OOD = f"""
WITH el AS MATERIALIZED (
  SELECT vec_id,
         CAST(unnest(embedding) AS DOUBLE) AS val,
         unnest(range(len(embedding))) AS idx
  FROM embeddings
),
st AS (SELECT idx, avg(val) AS mu, stddev_pop(val) AS sd FROM el GROUP BY idx),
sc AS (
  SELECT vec_id,
         round(sum(CASE WHEN sd > 0
                        THEN ((val - mu) / sd) * ((val - mu) / sd)
                        ELSE 0 END), 4) AS zood_r
  FROM el JOIN st USING (idx) GROUP BY vec_id
)
SELECT vec_id, zood_r,
       CAST(row_number() OVER (ORDER BY zood_r DESC, vec_id) AS BIGINT) AS rk
FROM sc
QUALIFY rk <= {_OOD_K}
"""


QUERIES = {
    "emb_zscore_ood": q_emb_zscore_ood,
    "emb_mutual_knn_clusters": q_emb_mutual_knn_clusters,
    "emb_split_leakage": q_emb_split_leakage,
    "emb_hard_negatives": q_emb_hard_negatives,
    "emb_rank_fusion": q_emb_rank_fusion,
    "emb_label_smoothing": q_emb_label_smoothing,
    "emb_text_alignment_audit": q_emb_text_alignment_audit,
    "emb_opq_codes": q_emb_opq_codes,
    "emb_jl_projection": q_emb_jl_projection,
    "emb_maximin_centers": q_emb_maximin_centers,
    "emb_matryoshka_recall": q_emb_matryoshka_recall,
    "emb_cosine_topk": q_emb_cosine_topk,
    "emb_knn_graph": q_emb_knn_graph,
    "emb_semdedup": q_emb_semdedup,
    "emb_pq_codes": q_emb_pq_codes,
    "emb_kmeans_iterations": q_emb_kmeans_iterations,
    "emb_cluster_silhouette": q_emb_cluster_silhouette,
    "emb_norm_quantiles": q_emb_norm_quantiles,
    "emb_centroid_distances": q_emb_centroid_distances,
    "emb_ann_topk": q_emb_ann_topk,
    "emb_ivf_pq_topk": q_emb_ivf_pq_topk,
    "emb_binary_quantize_recall": q_emb_binary_quantize_recall,
    "emb_whitening_audit": q_emb_whitening_audit,
    "emb_ivf_topk": q_emb_ivf_topk,
    "emb_cosine_neardup_pairs": q_emb_cosine_neardup_pairs,
    "emb_srp_lsh_pairs": q_emb_srp_lsh_pairs,
    "emb_pca_spectrum": q_emb_pca_spectrum,
}

ORACLES = {
    "emb_zscore_ood": ORACLE_ZSCORE_OOD,
    "emb_mutual_knn_clusters": ORACLE_MUTUAL_KNN,
    "emb_split_leakage": ORACLE_SPLIT_LEAKAGE,
    "emb_hard_negatives": ORACLE_HARD_NEGATIVES,
    "emb_rank_fusion": ORACLE_RRF,
    "emb_label_smoothing": ORACLE_LABEL_SMOOTHING,
    "emb_text_alignment_audit": ORACLE_ALIGNMENT,
    "emb_jl_projection": ORACLE_JL,
    "emb_maximin_centers": ORACLE_FPS,
    "emb_cosine_topk": ORACLE_COSINE,
    "emb_knn_graph": ORACLE_KNN_GRAPH,
    "emb_semdedup": ORACLE_SEMDEDUP,
    "emb_pq_codes": ORACLE_PQ,
    "emb_kmeans_iterations": ORACLE_KMEANS,
    "emb_cluster_silhouette": ORACLE_SILHOUETTE,
    "emb_norm_quantiles": ORACLE_NORM_QUANTILES,
    "emb_centroid_distances": ORACLE_CENTROID_DIST,
    "emb_cosine_neardup_pairs": ORACLE_NEARDUP,
    "emb_matryoshka_recall": ORACLE_MATRYOSHKA,
    "emb_srp_lsh_pairs": ORACLE_SRP,
    # ANN quality contracts (r9 verdict #2): the oracle recomputes the
    # exact top-k and asserts the recall floor the engine guarantees.
    "emb_ann_topk": _recall_gate_oracle(RECALL_FLOOR_ANN),
    "emb_ivf_topk": _recall_gate_oracle(RECALL_FLOOR_IVF),
    "emb_ivf_pq_topk": _recall_gate_oracle(RECALL_FLOOR_IVF_PQ),
    "emb_binary_quantize_recall": _recall_gate_oracle(RECALL_FLOOR_BINARY),
    # PCA spectrum contract (r10): oracle recomputes the covariance
    # trace (sum of per-dim population variances) and asserts the
    # eigensolver identities.
    "emb_pca_spectrum": ORACLE_PCA_TRACE,
    # OPQ quality contract (r11): oracle recomputes n_vecs and asserts
    # the rotation-improves + codes-in-range booleans.
    "emb_opq_codes": ORACLE_OPQ_CODES,
    # whitening contract (r11): oracle recomputes n + input covariance
    # trace and asserts unit-variance/decorrelation booleans.
    "emb_whitening_audit": ORACLE_WHITENING,
}
