"""Embedding similarity search: exact broadcast top-k + LSH-bucketed ANN.

Exact path (the oracle baseline, also in queries/similarity.py): broadcast
the query batch against the collection, score with a pure-expression dot
product, per-query top-k window. No shuffle of the collection.

Approximate path for 100 TB: random-hyperplane LSH — each vector gets a
B-bit signature per table (sign of dot with B fixed pseudo-random planes);
candidates share a signature in ≥1 table; exact cosine reranks candidates
only. The planes are generated ONCE from a fixed seed on the driver and
shipped in the pandas-UDF closure, so signatures are deterministic and
reproducible across runs. Collection-side signatures would be precomputed and
bucketed at rest (partitionBy(signature)) in a production lakehouse,
making a query a partition-pruned scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

DIM = 64
#: bits per LSH signature of :func:`ann_topk` (its docstring has the tradeoff)
LSH_BITS = 4


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _cosine_prenorm() -> Column:
    """Per-pair cosine from a fresh dot product and PRE-COMPUTED side
    norms (``q_norm``/``c_norm`` columns attached once per row before
    the join). Bit-identical to :func:`cosine`: the norms are the same
    sequential zip_with/aggregate fold evaluated earlier, and
    ``dot / (q_norm * c_norm)`` multiplies/divides the same doubles in
    the same order — only the EVALUATION COUNT changes (r14, guide
    §4.2: the interpreted higher-order fold ran 3× per candidate pair,
    re-deriving each side's norm for every pairing; now it runs once
    per pair for the dot plus once per ROW per side for the norms)."""
    return dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm"))


def cosine_topk(
    collection: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact top-k neighbors for each query vector (brute force,
    broadcast queries). Deterministic rank: rounded cosine desc, id asc."""
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    ).withColumn("q_norm", norm(F.col("q_vec")))
    c = collection.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
    ).withColumn("c_norm", norm(F.col("c_vec")))
    scored = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).withColumn(
        "cosine", _cosine_prenorm()
    )
    w = Window.partitionBy("query_id").orderBy(F.desc(F.round("cosine", 6)), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rk")
    )


#: size of the IVF/PQ/OPQ trainers' driver-side sample, and their Lloyd
#: iteration count
_TRAIN_SAMPLE = 2048
_TRAIN_ITERS = 10


def _training_sample(collection: DataFrame, seed: int) -> np.ndarray:
    """The trainers' bounded driver-side sample as a float64 matrix (no
    rows on an empty collection): the ``_TRAIN_SAMPLE`` vectors with the
    lowest ``xxhash64(vec_id, seed)`` — a TakeOrdered over a seeded hash
    of the id, not a full sort — so training cost is constant w.r.t.
    collection size AND the sample is unbiased even when ids correlate
    with content (lowest-id sampling would train on whatever was
    ingested first)."""
    rows = (
        collection.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
        .orderBy(F.xxhash64(F.col("id"), F.lit(seed)), F.col("id"))
        .limit(_TRAIN_SAMPLE)
        .collect()
    )
    return np.array([r.v for r in rows], dtype=np.float64)


def train_ivf_centroids(collection: DataFrame, n_cells: int = 16) -> np.ndarray:
    """Deterministic IVF coarse quantizer: spherical k-means (Lloyd on
    L2-normalized vectors) over :func:`_training_sample`. The expensive
    step (assigning every vector) stays distributed in :func:`ivf_topk`.
    Fixed seed → identical centroids every run."""
    m = _training_sample(collection, 42)
    if not len(m):  # empty collection → no cells (callers short-circuit)
        return np.zeros((0, 0))
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    rng = np.random.RandomState(42)
    cents = m[rng.choice(len(m), size=min(n_cells, len(m)), replace=False)]
    for _ in range(_TRAIN_ITERS):
        assign = (m @ cents.T).argmax(axis=1)
        for c in range(len(cents)):
            members = m[assign == c]
            if len(members):
                mean = members.mean(axis=0)
                cents[c] = mean / np.linalg.norm(mean)
    return cents


def nearest_cell_udf(cents: np.ndarray):
    """Pandas UDF assigning each vector its nearest IVF centroid cell —
    THE single definition of the assignment rule, shared by the query
    path (:func:`ivf_topk`) and the at-rest layout writer
    (``layout.write_embeddings_by_cell``) so probes and partitions can
    never diverge."""

    @pandas_udf("int")
    def nearest_cell(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        return pd.Series((m @ cents.T).argmax(axis=1).astype(np.int32))

    return nearest_cell


def topcells_udf(cents: np.ndarray, n_top: int):
    """Pandas UDF: vector → its ``n_top`` nearest IVF cells (array<int>)
    — THE single probe/spill-assignment rule, shared by :func:`ivf_topk`
    and :func:`ivf_pq_topk` so the two indexes can never probe
    differently."""

    @pandas_udf("array<int>")
    def topcells(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        order = np.argsort(-(m @ cents.T), axis=1)[:, :n_top].astype(np.int32)
        return pd.Series(list(order))

    return topcells


def _empty_topk_result(collection: DataFrame, queries: DataFrame) -> DataFrame:
    """Empty result with the SAME schema the non-empty top-k paths
    produce (id columns inherit the ``vec_id`` type)."""
    q0 = queries.select(F.col("vec_id").alias("query_id")).limit(0)
    c0 = collection.select(F.col("vec_id").alias("neighbor_id")).limit(0)
    return (
        q0.crossJoin(c0)
        .withColumn("cosine", F.lit(None).cast("double"))
        .withColumn("rk", F.lit(None).cast("int"))
    )


# Target rows per hash block of the exact blocked similarity operators.
# Block SIZE (not block count) is the scale invariant: per-task memory for
# a block-pair matmul is ~2·target·dim·8 bytes regardless of collection
# size. A fixed block COUNT would grow per-task memory linearly with n —
# the unbounded-single-task failure mode at 100× data.
_BLOCK_TARGET_ROWS = 2048


def _derived_n_blocks(
    collection: DataFrame, n_blocks: int | None
) -> tuple[DataFrame, int]:
    """Resolve the block count for a blocked self-join: honor an explicit
    caller choice, else derive it from an actual count so the ~2048-row
    block size stays the invariant. Returns ``(collection, n_blocks)``:
    when the count is derived, the collection is localCheckpoint-ed FIRST
    and the checkpointed frame returned, so (a) a derived (non-table-scan)
    input's lineage executes once, not once for the count and again for
    the quadratic job, and (b) the count and the job observe the same
    snapshot — the block count (hence plan) is deterministic even over a
    changing source (r5 advice). Callers passing an explicit ``n_blocks``
    skip both the count and the checkpoint. Task count grows as
    (n/target)² — the inherent footprint of an exact O(n²) scan, which is
    why the docstrings route huge corpora to ann_topk/MinHash."""
    if n_blocks is not None:
        return collection, max(1, n_blocks)
    collection = collection.localCheckpoint(eager=False)
    n = collection.count()
    return collection, max(1, -(-n // _BLOCK_TARGET_ROWS))


def _blocked_sides(collection: DataFrame, n_blocks: int):
    """Shared scaffolding of the exact blocked similarity operators
    (:func:`cosine_neardup_pairs`, :func:`knn_graph`): ids hash into
    ``n_blocks`` blocks, each of the (B²+B)/2 block pairs becomes one
    applyInPandas group. Returns the unioned side-'a'/'b' row set —
    diagonal pairs (bi == bj) reuse the side-'a' rows in the scorer, so
    only off-diagonal pairs get a 'b' copy (saves a full shuffled copy
    of the collection, the widest rows in the plan)."""
    spark = collection.sparkSession
    e = collection.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("vec"),
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    block_pairs = [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)]
    bp = spark.createDataFrame(block_pairs, "bi int, bj int")
    left = e.join(F.broadcast(bp), e.blk == bp.bi).select(
        "bi", "bj", F.lit("a").alias("side"), "id", "vec"
    )
    right = e.join(
        F.broadcast(bp.filter(F.col("bi") != F.col("bj"))), e.blk == bp.bj
    ).select("bi", "bj", F.lit("b").alias("side"), "id", "vec")
    return left.unionByName(right)


def ivf_topk(
    collection: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    n_assign: int = 1,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the collection into 16
    centroid cells, probe each query's ``n_probe`` nearest cells,
    exact-rerank the candidates.

    ``n_assign`` > 1 indexes each collection vector in its ``n_assign``
    nearest cells (standard IVF redundancy / spill assignment): storage
    and scan grow by that factor, but recall rises sharply on corpora
    whose neighbors straddle cell boundaries — near-uniform vectors,
    ANN's worst case, need it; well-clustered real embeddings don't.

    Scale path: cell assignment is one numpy matmul per Arrow batch; the
    candidate join is an equi join on the cell id against a broadcast
    query batch, scanning ~n_assign·n_probe/16 of the collection
    per query. In a production lakehouse the collection is written
    ``partitionBy(cell)`` so a query batch becomes a partition-pruned
    scan (the Spark analogue of an IVF inverted list)."""
    cents = train_ivf_centroids(collection)
    if cents.size == 0:
        return _empty_topk_result(collection, queries)

    if n_assign == 1:
        # single assignment shares THE cell rule with the at-rest layout
        # writer (layout.write_embeddings_by_cell) via nearest_cell_udf
        cell_col = nearest_cell_udf(cents)(F.col("embedding")).alias("cell")
    else:
        cell_col = F.explode(
            topcells_udf(cents, n_assign)(F.col("embedding"))
        ).alias("cell")
    # norms attached alongside the cell generator: the generator's
    # sibling expressions are evaluated once per INPUT row and carried
    # through the replication, so each side's norm folds once per
    # vector instead of once per (pair × probed cell) — see
    # _cosine_prenorm for the bit-identity argument
    c = collection.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        norm(F.col("embedding")).alias("c_norm"),
        cell_col,
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        norm(F.col("embedding")).alias("q_norm"),
        F.explode(topcells_udf(cents, n_probe)(F.col("embedding"))).alias("cell"),
    )
    cand = c.join(F.broadcast(q), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    if n_assign > 1:
        # multi-assignment can surface the same (query, neighbor) pair
        # from several probed cells — dedup before the rank window (with
        # single assignment each neighbor lives in exactly one cell, so
        # the extra exchange is skipped)
        cand = cand.dropDuplicates(["query_id", "neighbor_id"])
    scored = cand.withColumn("cosine", _cosine_prenorm())
    w = Window.partitionBy("query_id").orderBy(F.desc(F.round("cosine", 6)), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rk")
    )


def covariance_matrix(collection: DataFrame) -> tuple[np.ndarray, int]:
    """Distributed d×d covariance of the ``embedding`` column, returned
    to the driver as ``(cov, n)``.

    The heavy pass is fully distributed: one ``mapInPandas`` over the
    collection emits per-Arrow-batch sufficient statistics — count,
    per-dim sums, and the d×d XᵀX Gram partial — flattened to
    (kind, i, j, value) cells; an element-wise groupBy-sum merges the
    partials. Only the d²+d+1 AGGREGATED cells cross to the driver (the
    bounded trainer-rule collect: cost is dimensionality², independent
    of collection size), where cov = XᵀX/n − x̄x̄ᵀ is assembled. The
    vectors themselves are never shuffled — the sole exchange carries
    d²-sized partials, one per input partition."""
    cells = collection.select(F.col("embedding").alias("v")).mapInPandas(
        _cov_partials, "kind string, i int, j int, val double"
    )
    rows = (
        cells.groupBy("kind", "i", "j").agg(F.sum("val").alias("val")).collect()
    )
    n = 0
    sums: dict[int, float] = {}
    gram: dict[tuple[int, int], float] = {}
    for r in rows:
        if r.kind == "n":
            n = int(r.val)
        elif r.kind == "s":
            sums[r.i] = r.val
        else:
            gram[(r.i, r.j)] = r.val
    if n == 0:
        return np.zeros((0, 0)), 0
    d = len(sums)
    s = np.array([sums[i] for i in range(d)])
    g = np.zeros((d, d))
    for (i, j), v in gram.items():
        g[i, j] = v
    mean = s / n
    return g / n - np.outer(mean, mean), n


def _cov_partials(batches):
    for pdf in batches:
        if not len(pdf):
            continue
        x = np.array(pdf["v"].tolist(), dtype=np.float64)
        d = x.shape[1]
        ss = x.T @ x
        out = {"kind": ["n"], "i": [0], "j": [0], "val": [float(len(x))]}
        out["kind"] += ["s"] * d
        out["i"] += list(range(d))
        out["j"] += [0] * d
        out["val"] += x.sum(axis=0).tolist()
        ii, jj = np.indices((d, d))
        out["kind"] += ["g"] * (d * d)
        out["i"] += ii.ravel().tolist()
        out["j"] += jj.ravel().tolist()
        out["val"] += ss.ravel().tolist()
        yield pd.DataFrame(out)


def train_pq_codebooks(
    collection: DataFrame,
    m_sub: int = 4,
    n_codes: int = 16,
    seed: int = 43,
) -> np.ndarray:
    """Product-quantization codebooks, (m_sub, n_codes, subdim): Lloyd's
    per subspace over :func:`_training_sample`, the same bounded,
    deterministic sample rule as :func:`train_ivf_centroids`."""
    m = _training_sample(collection, seed)
    if not len(m):
        return np.zeros((0, 0, 0))
    # a sample smaller than n_codes trains fewer codes — the book is
    # trimmed, never zero-padded (phantom all-zero centroids would win
    # assignments near the origin and carry a zero reconstruction norm);
    # _pq_lloyd's k_eff handles it
    return _pq_lloyd(m, m_sub, n_codes, np.random.RandomState(seed))


def _pq_lloyd(m: np.ndarray, m_sub: int, n_codes: int, rng) -> np.ndarray:
    """Per-subspace Lloyd's over an in-memory sample — the shared inner
    trainer of :func:`train_pq_codebooks` and :func:`train_opq`."""
    subdim = m.shape[1] // m_sub
    k_eff = min(n_codes, len(m))
    books = np.zeros((m_sub, k_eff, subdim))
    for s in range(m_sub):
        sub = m[:, s * subdim : (s + 1) * subdim]
        cents = sub[rng.choice(len(sub), size=k_eff, replace=False)]
        for _ in range(_TRAIN_ITERS):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(cents)):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books[s] = cents
    return books


def _pq_reconstruct(m: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Decode each row's nearest per-subspace code back to a vector —
    the reconstruction both the OPQ Procrustes step and the recon-error
    audits are defined against."""
    m_sub, _, subdim = books.shape
    out = np.zeros_like(m)
    for s in range(m_sub):
        sub = m[:, s * subdim : (s + 1) * subdim]
        d2 = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
        out[:, s * subdim : (s + 1) * subdim] = books[s][d2.argmin(axis=1)]
    return out


def train_opq(
    collection: DataFrame,
    m_sub: int = 4,
    n_codes: int = 16,
    seed: int = 44,
) -> tuple[np.ndarray, np.ndarray]:
    """OPQ — Optimized Product Quantization (Ge et al., CVPR 2013,
    non-parametric variant): learn an orthogonal rotation R that
    re-mixes coordinates across PQ subspaces before quantization, so
    correlated dimensions stop landing in the same subspace and the
    codebooks spend their bits where the variance is. Returns
    ``(R [dim×dim], books [m_sub, k, subdim])`` trained by four rounds
    of alternating

    1. PQ codebooks on the rotated sample  X·R   (Lloyd's per subspace),
    2. the orthogonal Procrustes solve  R = U·Vᵀ  from  SVD(Xᵀ·Y)
       where Y is the codebook reconstruction of X·R — the closed-form
       argmin_R ‖X·R − Y‖_F over orthogonal matrices.

    Scale shape: training is bounded driver-side numpy over the SAME
    :func:`_training_sample` as the IVF/PQ trainers (``_TRAIN_SAMPLE`` ×
    dim, never the collection); the learned R (dim², a few KB) and books
    broadcast to executors, where rotation + assignment are one
    vectorized pass per Arrow batch. Deterministic:
    fixed seed, fixed iteration counts, LAPACK SVD on identical input.
    """
    x = _training_sample(collection, seed)
    if not len(x):
        return np.zeros((0, 0)), np.zeros((0, 0, 0))
    r_mat = np.eye(x.shape[1])
    for _ in range(4):
        xr = x @ r_mat
        books = _pq_lloyd(xr, m_sub, n_codes, np.random.RandomState(seed))
        y = _pq_reconstruct(xr, books)
        u, _, vt = np.linalg.svd(x.T @ y)
        r_mat = u @ vt
    # end the alternation on a codebook step so the returned pair is
    # consistent: books trained under the FINAL rotation, not the
    # previous iteration's
    books = _pq_lloyd(x @ r_mat, m_sub, n_codes, np.random.RandomState(seed))
    return r_mat, books


def pq_codes_udf(books: np.ndarray):
    """Pandas UDF: vector → its per-subspace code word (array<int>,
    length m_sub) — nearest codebook entry by L2 per subspace."""
    m_sub, _, subdim = books.shape

    @pandas_udf("array<int>")
    def codes(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)
        out = np.zeros((len(m), m_sub), dtype=np.int32)
        for s in range(m_sub):
            sub = m[:, s * subdim : (s + 1) * subdim]
            d2 = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
            out[:, s] = d2.argmin(axis=1).astype(np.int32)
        return pd.Series(list(out))

    return codes


def ivf_pq_topk(
    collection: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    n_assign: int = 1,
    m_sub: int = 4,
    n_codes: int = 16,
    rerank: int = 4,
) -> DataFrame:
    """IVF-PQ approximate top-k — the FAISS-style composed index as
    DataFrame ops: IVF cells prune WHICH vectors are candidates, PQ
    codes score them WITHOUT touching the raw vectors, and only the
    ``k·rerank`` PQ-best candidates per query are joined back to the
    collection for exact-cosine reranking.

    The asymmetric-distance (ADC) step is pure JVM expression work: each
    query broadcasts its flattened per-subspace dot-product table and
    the candidate's approximate cosine is m_sub ``element_at`` lookups
    (dot(q, reconstruction) = Σ_s table[s·K + code_s]; the
    reconstruction norm comes from a constant per-code norm table since
    subspaces are coordinate-disjoint). At 100 TB the collection carries
    (cell, codes) — ~m_sub bytes per vector — through the candidate
    stage; raw vectors are fetched for ≤ k·rerank rows per query, which
    is exactly why PQ exists. Non-residual PQ (codes quantize the raw
    vector, not the cell residual): one shared codebook, the standard
    shallow-cell variant."""
    cents = train_ivf_centroids(collection)
    books = train_pq_codebooks(collection, m_sub=m_sub, n_codes=n_codes)
    if cents.size == 0 or books.size == 0:
        return _empty_topk_result(collection, queries)
    k_codes = books.shape[1]  # may be < n_codes on a tiny sample
    flat_norm2 = [
        float((books[s, c] ** 2).sum()) for s in range(m_sub) for c in range(k_codes)
    ]
    norm2_lit = F.array(*[F.lit(x) for x in flat_norm2])

    @pandas_udf("array<double>")
    def adc_table(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)
        subdim = books.shape[2]
        tabs = np.concatenate(
            [m[:, s * subdim : (s + 1) * subdim] @ books[s].T for s in range(m_sub)],
            axis=1,
        )  # (n, m_sub * n_codes)
        return pd.Series(list(tabs))

    if n_assign == 1:
        cell_col = nearest_cell_udf(cents)(F.col("embedding")).alias("cell")
    else:
        cell_col = F.explode(topcells_udf(cents, n_assign)(F.col("embedding"))).alias("cell")
    c = collection.select(
        F.col("vec_id").alias("neighbor_id"),
        cell_col,
        pq_codes_udf(books)(F.col("embedding")).alias("codes"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.explode(topcells_udf(cents, n_probe)(F.col("embedding"))).alias("cell"),
        adc_table(F.col("embedding")).alias("qtab"),
        norm(F.col("embedding")).alias("q_norm"),
    )
    cand = c.join(F.broadcast(q), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    if n_assign > 1:
        cand = cand.dropDuplicates(["query_id", "neighbor_id"])
    adc_dot = sum(
        [
            F.element_at(
                F.col("qtab"),
                F.lit(s * k_codes) + F.element_at(F.col("codes"), s + 1) + 1,
            )
            for s in range(m_sub)
        ],
        F.lit(0.0),
    )
    recon_norm2 = sum(
        [
            F.element_at(
                norm2_lit,
                F.lit(s * k_codes) + F.element_at(F.col("codes"), s + 1) + 1,
            )
            for s in range(m_sub)
        ],
        F.lit(0.0),
    )
    approx = adc_dot / (F.col("q_norm") * F.sqrt(recon_norm2))
    w_pq = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(approx, 6)), F.asc("neighbor_id")
    )
    shortlist = (
        cand.withColumn("pq_rk", F.row_number().over(w_pq))
        .filter(F.col("pq_rk") <= k * rerank)
        .select("query_id", "neighbor_id")
    )
    # exact rerank: raw vectors fetched ONLY for the shortlist; norms
    # pre-folded per row (see _cosine_prenorm)
    qv = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        norm(F.col("embedding")).alias("q_norm"),
    )
    cv = collection.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        norm(F.col("embedding")).alias("c_norm"),
    )
    scored = (
        shortlist.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cosine", _cosine_prenorm())
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("cosine", 6)), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rk")
    )


def cosine_neardup_pairs(
    collection: DataFrame,
    threshold: float = 0.4,
) -> DataFrame:
    """Exact all-pairs embedding near-dup: every (doc_a < doc_b) pair with
    cosine ≥ threshold.

    Blocked similarity join: ids hash into B blocks; each of the (B²+B)/2
    block pairs becomes one ``applyInPandas`` group whose pairwise scores
    are a single numpy matmul over the Arrow batch. B is
    ``ceil(n / _BLOCK_TARGET_ROWS)`` from an actual count, so block
    SIZE — and with it per-task memory — is the invariant as the
    collection grows; work and shuffle stay evenly distributed
    (replication factor ≈ B per row, the unavoidable cost of an exact
    quadratic join). For corpora where exact O(n²) is infeasible, use
    :func:`ann_topk` (LSH) or MinHash instead.
    """
    collection, n_blocks = _derived_n_blocks(collection, None)
    sides = _blocked_sides(collection, n_blocks)

    def score_block_pair(key, pdf):
        bi, bj = key
        a = pdf[pdf["side"] == "a"]
        b = a if bi == bj else pdf[pdf["side"] == "b"]
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame({"doc_a": [], "doc_b": [], "cosine": []}).astype(
                {"doc_a": "int64", "doc_b": "int64", "cosine": "float64"}
            )
        ma = np.array(a["vec"].tolist(), dtype=np.float64)
        mb = np.array(b["vec"].tolist(), dtype=np.float64)
        ma /= np.linalg.norm(ma, axis=1, keepdims=True)
        mb /= np.linalg.norm(mb, axis=1, keepdims=True)
        raw = ma @ mb.T
        # round half AWAY from zero to match Spark's F.round and DuckDB's
        # round (np.round is half-to-even — threshold-boundary pairs
        # would flip between engines)
        cos = np.sign(raw) * np.floor(np.abs(raw) * 1e4 + 0.5) / 1e4
        ii, jj = np.nonzero(cos >= threshold)
        da = a["id"].to_numpy()[ii]
        db = b["id"].to_numpy()[jj]
        keep = da != db
        da, db, c = da[keep], db[keep], cos[ii, jj][keep]
        lo, hi = np.minimum(da, db), np.maximum(da, db)
        if bi == bj:  # both directions appear within a block: keep one
            keep = da < db
            lo, hi, c = lo[keep], hi[keep], c[keep]
        return pd.DataFrame({"doc_a": lo, "doc_b": hi, "cosine": c})

    return sides.groupBy("bi", "bj").applyInPandas(
        score_block_pair, "doc_a long, doc_b long, cosine double"
    )


def sign_signature(vecs: DataFrame) -> DataFrame:
    """1-bit (sign) quantization of a 64-dim embedding into ONE int64
    word: bit d set iff v_d > 0. The 32× compression (8 B vs 256 B of
    float32) that makes a 100 TB vector corpus scannable from memory —
    Hamming distance over sign bits is a monotone proxy for angular
    distance on centered data (Charikar's SRP with axis-aligned
    planes). Pure column expressions: zip_with masks + a disjoint-mask
    sum (bit 63 lands on Long.MIN_VALUE via Java shift wrap — exact
    two's complement, never an ANSI overflow since masks are disjoint).
    Dims past 64 are ignored — the vector is ``slice``d to 64 BEFORE
    zipping, because ``zip_with`` pads the SHORTER side with NULL: a
    65-dim vector would otherwise pad ``sequence(0, 63)`` with a NULL
    dim index, whose mask is NULL, collapsing the whole aggregate (and
    a NULL signature sorts FIRST under Hamming asc, flooding top-k
    shortlists with garbage). Shorter vectors zero-pad (NULL value
    slots take the 0 branch: ``NULL > 0`` is NULL → ELSE)."""
    sig = F.expr(
        """
        aggregate(
          zip_with(slice(embedding, 1, 64), sequence(0, 63),
                   (v, d) -> CASE WHEN v > CAST(0 AS DOUBLE)
                                  THEN shiftleft(CAST(1 AS BIGINT), CAST(d AS INT))
                                  ELSE CAST(0 AS BIGINT) END),
          CAST(0 AS BIGINT), (s, m) -> s + m)
        """
    )
    return vecs.select(
        F.col("vec_id"), F.col("embedding"), sig.alias("sign_sig")
    )


def binary_topk(
    collection: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rerank: int = 4,
) -> DataFrame:
    """Approximate top-k via 1-bit quantization: scan Hamming distance
    over 64-bit sign signatures (one XOR+popcount per vector — the
    32×-compressed scan), shortlist k·rerank per query, rerank the
    shortlist with exact cosine. Same output contract as
    :func:`cosine_topk` (query_id, neighbor_id, cosine, rk),
    deterministic at both stages (hamming ties → id asc; rounded
    cosine ties → id asc).

    At 100 TB the signature column is the resident index: the full
    scan touches 8 B/vector, the float vectors page in only for the
    k·rerank shortlist — the memory-bandwidth shape (not an index
    build) that keeps brute-force viable, and composable with IVF
    cell pruning for the compute cut."""
    csig = sign_signature(collection).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        norm(F.col("embedding")).alias("c_norm"),
        F.col("sign_sig").alias("c_sig"),
    )
    qsig = sign_signature(queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        norm(F.col("embedding")).alias("q_norm"),
        F.col("sign_sig").alias("q_sig"),
    )
    cand = csig.join(
        F.broadcast(qsig), F.col("neighbor_id") != F.col("query_id")
    ).withColumn(
        "hamming", F.bit_count(F.col("c_sig").bitwiseXOR(F.col("q_sig")))
    )
    w_h = Window.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("neighbor_id")
    )
    short = cand.withColumn("hrk", F.row_number().over(w_h)).filter(
        F.col("hrk") <= k * rerank
    )
    scored = short.withColumn("cosine", _cosine_prenorm())
    w_c = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("cosine", 6)), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w_c))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rk")
    )


def knn_graph(
    collection: DataFrame,
    k: int = 3,
    n_blocks: int | None = None,
) -> DataFrame:
    """Exact k-nearest-neighbor graph: for EVERY vector, its k most
    cosine-similar other vectors — the all-to-all sibling of
    :func:`cosine_topk` (whose query side is a small batch) and the
    input graph for semantic clustering / mutual-kNN community ops.

    Same blocked-matmul decomposition as :func:`cosine_neardup_pairs`
    (ids hash into B blocks — ``n_blocks`` defaults to a count-derived
    ``ceil(n / _BLOCK_TARGET_ROWS)`` so block size, hence per-task
    memory, is the invariant; each of the (B²+B)/2 block pairs is one
    ``applyInPandas`` numpy matmul), but instead of thresholding, each
    block pair emits a LOCAL top-k per row on either side, ranked on the
    cosine rounded to 6 decimals (half away from zero, matching
    ``F.round``) with neighbor-id tie-break — the identical key the
    global per-id window uses, so every global winner survives its local
    block and the reduction is exact. Candidate volume entering the
    final window is ≤ n·B·k rows, independent of pair density; the
    shuffle replication factor B is the inherent cost of an exact
    quadratic scan — for corpora beyond it, :func:`ann_topk` per vector
    is the scale path.
    """
    collection, n_blocks = _derived_n_blocks(collection, n_blocks)
    sides = _blocked_sides(collection, n_blocks)

    def local_topk(key, pdf):
        bi, bj = key
        a = pdf[pdf["side"] == "a"]
        b = a if bi == bj else pdf[pdf["side"] == "b"]
        empty = pd.DataFrame({"id": [], "neighbor_id": [], "cos6": [], "cos_raw": []}).astype(
            {"id": "int64", "neighbor_id": "int64", "cos6": "float64", "cos_raw": "float64"}
        )
        if len(a) == 0 or len(b) == 0:
            return empty
        out = []

        def emit(qids, qm, cids, cm, exclude_self):
            # candidate columns pre-sorted by id asc, so a stable argsort
            # of the negated rounded cosine yields id-asc tie-breaks
            order = np.argsort(cids, kind="stable")
            cids_s, cm_s = cids[order], cm[order]
            raw = qm @ cm_s.T
            cos6 = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6
            if exclude_self:
                cos6 = np.where(qids[:, None] == cids_s[None, :], -np.inf, cos6)
            sel = np.argsort(-cos6, axis=1, kind="stable")[:, :k]
            rows = np.repeat(np.arange(len(qids)), sel.shape[1])
            cols = sel.ravel()
            keep = np.isfinite(cos6[rows, cols])
            out.append(
                pd.DataFrame(
                    {
                        "id": qids[rows][keep],
                        "neighbor_id": cids_s[cols][keep],
                        "cos6": cos6[rows, cols][keep],
                        "cos_raw": raw[rows, cols][keep],
                    }
                )
            )

        ma = np.array(a["vec"].tolist(), dtype=np.float64)
        ma /= np.linalg.norm(ma, axis=1, keepdims=True)
        ida = a["id"].to_numpy()
        if bi == bj:
            emit(ida, ma, ida, ma, exclude_self=True)
        else:
            mb = np.array(b["vec"].tolist(), dtype=np.float64)
            mb /= np.linalg.norm(mb, axis=1, keepdims=True)
            idb = b["id"].to_numpy()
            emit(ida, ma, idb, mb, exclude_self=False)
            emit(idb, mb, ida, ma, exclude_self=False)
        return pd.concat(out, ignore_index=True) if out else empty

    cand = sides.groupBy("bi", "bj").applyInPandas(
        local_topk, "id long, neighbor_id long, cos6 double, cos_raw double"
    )
    w = Window.partitionBy("id").orderBy(F.desc("cos6"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            F.col("id").alias("vec_id"),
            "neighbor_id",
            F.round("cos_raw", 4).alias("cosine"),
            "rk",
        )
    )


def _planes(n_tables: int, n_bits: int, dim: int) -> list[list[list[float]]]:
    rng = np.random.RandomState(42)
    return rng.standard_normal((n_tables, n_bits, dim)).tolist()


def ann_topk(
    collection: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_tables: int = 16,
) -> DataFrame:
    """Approximate top-k: LSH candidate generation + exact rerank.

    Shuffle pattern: both sides hash into (table, signature) buckets; the
    join is an equi join on the bucket key — never a cross join. Recall
    rises with n_tables, candidate-set selectivity with the bits per
    signature.

    ``LSH_BITS`` × 16 tables (4 × 16 → recall ≈0.98 on the uniform-random
    fixture embeddings, ANN's worst case) suit near-orthogonal vectors;
    real embedding corpora with neighbor cosines ≳0.8 want 8–16 bits for
    far smaller candidate sets at the same recall — p(bit match) =
    1 − θ/π governs the tradeoff.
    """
    # (n_tables*LSH_BITS, DIM) plane matrix: all signatures for a batch of
    # vectors are one numpy matmul — Arrow-vectorized, ~100x faster than
    # evaluating 64 interpreted zip_with/aggregate dot products per row
    plane_mat = np.asarray(_planes(n_tables, LSH_BITS, DIM)).reshape(n_tables * LSH_BITS, DIM)
    bit_weights = 1 << np.arange(LSH_BITS - 1, -1, -1)  # first plane = MSB

    @pandas_udf("array<long>")
    def table_sigs(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)  # (batch, DIM)
        bits = (m @ plane_mat.T) >= 0  # (batch, n_tables*LSH_BITS)
        sigs = (
            bits.reshape(-1, n_tables, LSH_BITS) * bit_weights
        ).sum(axis=2)  # (batch, n_tables)
        return pd.Series(list(sigs.astype(np.int64)))

    def with_sigs(df: DataFrame, idc: str, vc: str) -> DataFrame:
        # signatures only — column pruning drops the vector from the
        # candidate join; vectors are joined back for the rerank so the
        # widest shuffle of the plan ships (id, table, sig) not (… + vec)
        return df.select(F.col(idc), F.posexplode(table_sigs(F.col(vc)))).select(
            idc, F.col("pos").alias("table"), F.col("col").alias("sig")
        )

    # barrier: spread the collection before the 16-table signature
    # projection (a small parquet file scans as one partition) and reuse
    # the same exchange for signature generation and the rerank join
    c_base = collection.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        norm(F.col("embedding")).alias("c_norm"),
    ).repartition("neighbor_id")
    q_base = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        norm(F.col("embedding")).alias("q_norm"),
    )
    c = with_sigs(c_base, "neighbor_id", "c_vec")
    q = with_sigs(q_base, "query_id", "q_vec")
    cand = (
        c.join(F.broadcast(q), ["table", "sig"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = (
        cand.join(c_base, "neighbor_id")
        .join(F.broadcast(q_base), "query_id")
        .withColumn("cosine", _cosine_prenorm())
    )
    w = Window.partitionBy("query_id").orderBy(F.desc(F.round("cosine", 6)), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rk")
    )
