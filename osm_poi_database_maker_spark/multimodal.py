"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are opaque ``BINARY`` columns with a typed
metadata struct alongside; decode / feature-extraction / resize /
frame-sampling run as Arrow-batched ``mapInPandas`` stages so payload
bytes never round-trip through Python row objects one at a time.

The actual codecs (PIL/ffmpeg/torchaudio) are NOT in this environment, so
the decode kernel is **stubbed**: ``decode_stub=True`` derives
deterministic fake dimensions/features from the payload bytes (making the
full Spark plumbing — schema, batching, partitioning — real and
testable); ``decode_stub=False`` raises ``NotImplementedError`` at the
exact point a real codec would plug in.

Scale notes: payloads dominate storage — production tables keep them in
their own parquet column (column pruning means metadata-only queries
never read the bytes), partitioned by content hash prefix for even file
sizes. The mapInPandas batch size is governed by
``spark.sql.execution.arrow.maxRecordsPerBatch``; for multi-MB payloads
set it low (e.g. 64) so an Arrow batch stays within executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_FEATURE_SCHEMA = (
    "doc_id long, n_bytes long, width int, height int, channels int, "
    "mean_intensity double"
)


def documents_as_image_table(docs: DataFrame) -> DataFrame:
    """Fixture adapter: treat each document's UTF-8 bytes as an opaque
    image payload with metadata — the schema a real ingest would produce."""
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("image/fake").alias("content_type"),
            F.octet_length(F.encode("text", "UTF-8")).alias("n_bytes"),
        ).alias("meta"),
    )


def extract_image_features(images: DataFrame, decode_stub: bool = True) -> DataFrame:
    """Decode + feature-extract via mapInPandas (Arrow batches).

    Stub decode derives (width, height, channels, mean_intensity)
    deterministically from the payload: width = 16 + n_bytes % 64,
    height = 16 + (n_bytes // 64) % 64, channels = 3,
    mean_intensity = mean byte value / 255.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not decode_stub:
                raise NotImplementedError(
                    "real image decode requires an image codec (PIL/turbojpeg); "
                    "not available in this environment"
                )
            n = pdf["payload"].apply(len)
            mean = pdf["payload"].apply(
                lambda b: (sum(b) / len(b) / 255.0) if len(b) else 0.0
            )
            # round HALF-AWAY like SQL round() — not pandas/numpy
            # half-to-even: the r14 sf1.0 battery hit a payload whose
            # mean is the exact double 0.3478125, which .round(6) sends
            # to ...812 while Spark's F.round and DuckDB both emit
            # ...813. floor(x·1e6 + 0.5) == half-away for nonnegative x.
            import numpy as np

            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n.astype("int64"),
                    "width": (16 + n % 64).astype("int32"),
                    "height": (16 + (n // 64) % 64).astype("int32"),
                    "channels": 3,
                    "mean_intensity": np.floor(mean * 1e6 + 0.5) / 1e6,
                }
            )

    return images.mapInPandas(batches, IMAGE_FEATURE_SCHEMA)


RESIZED_SCHEMA = "doc_id long, width int, height int, payload binary"


def resize_images(
    images: DataFrame, target_w: int = 32, target_h: int = 32
) -> DataFrame:
    """Resize via mapInPandas: emits a fixed-size payload per image —
    the normalization step before batching images into a training run.

    Stub resize produces a deterministic ``target_w·target_h·3``-byte
    (3 channels) payload by cyclically sampling the source bytes
    (decode-free but shape-faithful). Output payload size is constant,
    so downstream batch shapes (and Arrow batch memory) are exactly
    predictable — the property a real pipeline needs from this stage."""
    out_len = target_w * target_h * 3

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:

            def stub_resize(b: bytes) -> bytes:
                if not b:
                    return bytes(out_len)
                reps = -(-out_len // len(b))  # ceil
                return (b * reps)[:out_len]

            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": target_w,
                    "height": target_h,
                    "payload": pdf["payload"].apply(stub_resize),
                }
            )

    return images.mapInPandas(batches, RESIZED_SCHEMA)


def sample_frames(videos: DataFrame, every_n_bytes: int = 1024) -> DataFrame:
    """Frame-sampling plumbing: one output row per sampled frame offset —
    the explode pattern a real video pipeline uses, with byte offsets
    standing in for frame timestamps."""
    n_frames = (F.octet_length("payload") / every_n_bytes).cast("int") + 1
    return videos.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
    ).withColumn("byte_offset", F.col("frame_idx") * every_n_bytes)


PCM_FRAME_SAMPLES = 16
AUDIO_ENERGY_SCHEMA = "doc_id long, frame_idx long, sum_sq long"


def documents_as_audio_table(docs: DataFrame) -> DataFrame:
    """Fixture adapter: each document's UTF-8 bytes as a raw PCM16-LE
    audio payload (no container/codec — the one audio format computable
    without external libs)."""
    return docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))


def pcm_frame_energy(
    audio: DataFrame, frame_samples: int = PCM_FRAME_SAMPLES
) -> DataFrame:
    """REAL audio DSP (not a stub): interpret the binary payload as raw
    little-endian signed PCM16, frame it, and emit each full frame's
    integer sum of squared samples — the core of an RMS/VAD/silence-trim
    stage. numpy-vectorized inside mapInPandas Arrow batches; a trailing
    odd byte and any incomplete final frame are dropped.

    The per-frame energy is kept as an exact int64 (max |sample|² ·
    frame_samples ≈ 1.7e10 ≪ 2⁶³): floating-point enters only in the
    downstream rms/aggregation expressions, which makes the frame table
    bit-reproducible across engines, partitionings and batch sizes.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            out_doc: list = []
            out_idx: list = []
            out_ss: list = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                # NULL payload rows (possible in a general audio table,
                # not the text fixture) contribute zero frames instead of
                # a TypeError — same null stance as payload_stats_arrow
                b = bytes(payload or b"")
                v = np.frombuffer(b[: (len(b) // 2) * 2], dtype="<i2").astype(
                    np.int64
                )
                nf = len(v) // frame_samples
                if nf == 0:
                    continue
                frames = v[: nf * frame_samples].reshape(nf, frame_samples)
                ss = (frames * frames).sum(axis=1)
                out_doc.extend([doc_id] * nf)
                out_idx.extend(range(nf))
                out_ss.extend(int(x) for x in ss)
            yield pd.DataFrame(
                {"doc_id": out_doc, "frame_idx": out_idx, "sum_sq": out_ss}
            )

    return audio.mapInPandas(batches, AUDIO_ENERGY_SCHEMA)


AHASH_GRID = 8  # 8x8 downsample -> 64-bit hash
AHASH_SCHEMA = "doc_id long, ahash long"
AHASH_BANDS = 8  # 8 bands x 8 bits: pigeonhole-complete for hamming <= 7
AHASH_MAX_HAMMING = 6


def _ahash_int64_safe_bytes() -> int:
    """Largest payload length L for which BOTH sides of image_ahash's
    cross-multiplied threshold provably fit int64 at the all-0xFF worst
    case. numpy int64 multiplication WRAPS silently past this (the
    DuckDB oracle side would instead raise on BIGINT overflow), so the
    Spark side must fail loudly too — computed exactly in Python
    bigints once at import, binary-searched rather than the ~5 MB
    closed-form approximation in the docstring."""
    n_cells = AHASH_GRID * AHASH_GRID

    def worst(L: int) -> int:
        base, rem = divmod(L, n_cells)
        cmax = base + 1 if rem else base
        smax = 255 * cmax
        lhs = n_cells * base * (base + 1) * smax
        a_hi = 255 * (base + 1) * rem
        b_lo = 255 * base * (n_cells - rem)
        rhs = cmax * (a_hi * base + b_lo * (base + 1))
        return max(lhs, rhs)

    lo, hi = n_cells, 64 << 20  # 64 MiB upper bracket
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if worst(mid) < 1 << 63:
            lo = mid
        else:
            hi = mid - 1
    return lo


AHASH_INT64_SAFE_BYTES = _ahash_int64_safe_bytes()


def image_ahash(images: DataFrame, grid: int = AHASH_GRID) -> DataFrame:
    """Perceptual average-hash per image: downsample the grayscale
    raster to grid×grid block means, threshold each block at the global
    mean → one bit per block, packed into a 64-bit signature. The
    decode stub interprets the raw payload bytes as a 1-D grayscale
    raster (a real image decoder plugs in at the marked point and
    yields the 2-D pixel array; everything after it is identical).
    numpy-vectorized inside mapInPandas Arrow batches; empty payloads
    drop out.

    For payloads ≥ 64 bytes the mean-threshold comparison runs in
    EXACT int64 cross-multiplied form (the mm_phash_pairs precedent —
    quantize the transform so an SQL oracle can replay it): block i of
    length cᵢ with byte-sum sᵢ sets its bit iff sᵢ/cᵢ > mean of block
    means, and with block lengths taking only the two values b and b+1
    (b = ⌊L/64⌋, rem = L mod 64 longer blocks) that rational
    comparison clears denominators to
        64·b·(b+1)·sᵢ  >  cᵢ·(A·b + B·(b+1)),
    A = Σ sums of the (b+1)-blocks, B = Σ sums of the b-blocks — exact
    integer arithmetic end to end, bit-reproducible at any batch size
    or partitioning, and int64-safe to payloads of ~5 MB
    (255·L³/64² < 2⁶³; the exact bound is ``AHASH_INT64_SAFE_BYTES``,
    binary-searched in bigints at import, and oversized payloads RAISE
    rather than silently wrap). Sub-64-byte payloads keep the float
    array_split path (empty cells have no rational form) and are
    excluded from the oracled query.

    Only 64-bit signatures are supported (grid² must be 64): the
    two's-complement fold and the int64 output schema are 64-bit."""
    if grid * grid != 64:
        raise ValueError(f"image_ahash requires grid*grid == 64, got {grid}")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        n_cells = grid * grid
        for pdf in it:
            ids: list = []
            hashes: list = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload or b"")
                if not b:
                    continue
                # DECODE PLUG-POINT: real pipeline decodes to a 2-D
                # grayscale array here; the stub reads raw bytes as the
                # raster, which keeps every downstream step real
                arr = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
                if len(arr) > AHASH_INT64_SAFE_BYTES:
                    # past the proven bound the cross-multiplied compare
                    # would WRAP in numpy int64 and emit wrong bits with
                    # no error; fail loudly like the oracle side would
                    raise ValueError(
                        f"image_ahash payload {len(arr)} B exceeds the "
                        f"int64-exact bound {AHASH_INT64_SAFE_BYTES} B "
                        "(doc_id "
                        f"{doc_id}); decode/downsample before hashing"
                    )
                if len(arr) >= n_cells:
                    # vectorized block sums at np.array_split's exact
                    # boundaries (reduceat beats 64 split views ~10x),
                    # then the exact cross-multiplied threshold
                    base, rem = divmod(len(arr), n_cells)
                    i = np.arange(n_cells)
                    starts = i * base + np.minimum(i, rem)
                    sums = np.add.reduceat(arr, starts)
                    counts = np.diff(np.append(starts, len(arr)))
                    a_hi = int(sums[:rem].sum())
                    b_lo = int(sums[rem:].sum())
                    bits = 64 * base * (base + 1) * sums > counts * (
                        a_hi * base + b_lo * (base + 1)
                    )
                else:  # degenerate tiny payload: keep split semantics
                    farr = arr.astype(np.float64)
                    means = np.array(
                        [c.mean() if len(c) else 0.0 for c in np.array_split(farr, n_cells)]
                    )
                    bits = means > means.mean()
                # first block -> MSB, same ordering as a shift-or loop
                h = int.from_bytes(np.packbits(bits).tobytes(), "big")
                if h >= 1 << 63:  # two's-complement into int64
                    h -= 1 << 64
                ids.append(doc_id)
                hashes.append(h)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "ahash": pd.Series(hashes, dtype="int64"),
                }
            )

    return images.select("doc_id", "payload").mapInPandas(batches, AHASH_SCHEMA)


def ahash_near_dups(images: DataFrame, max_bucket: int = 200) -> DataFrame:
    """Perceptual near-duplicate image pairs: aHash signatures, banded
    LSH candidate generation, exact Hamming verify — image dedup for a
    multimodal training corpus (the visual twin of SimHash text dedup).

    The 64-bit hash splits into ``AHASH_BANDS`` = 8 equal bands;
    candidates must agree on ≥1 band — pigeonhole-complete for hamming
    < 8, so recall is guaranteed at the ≤``AHASH_MAX_HAMMING`` = 6
    threshold. The band join is an equi-join on (band_idx, band_value)
    — 8 rows of ~10 B per image, never all-pairs — then
    `bit_count(xor)` verifies exactly and
    ``distinct`` collapses pairs that matched in several bands. At
    scale this is the SimHash plan: shuffle bounded by band-bucket
    occupancy, and hot buckets (e.g. monochrome images all hashing 0)
    are capped at ``max_bucket`` members before the self-join — the
    same guard the MinHash/SimHash operators use, bounding the worst
    bucket's contribution at max_bucket² candidate rows."""
    return _banded_hamming_pairs(
        image_ahash(images), "ahash", AHASH_BANDS, AHASH_MAX_HAMMING, max_bucket
    )


def _banded_hamming_pairs(
    sig: DataFrame, hash_col: str, bands: int, max_hamming: int, max_bucket: int
) -> DataFrame:
    """Shared banded-LSH Hamming pair join over a 64-bit signature frame
    (``doc_id``, ``hash_col``): explode into ``bands`` equal bands,
    deterministic per-bucket cap (lowest doc_ids win), (band, val)
    equi-join, exact ``bit_count(xor)`` verify, ``distinct`` to collapse
    multi-band matches. One implementation serves aHash and pHash so
    their plan shapes cannot drift apart."""
    from pyspark.sql import Window

    # one signature pass shared by both self-join sides (and tiny: 16 B
    # per image), instead of running the mapInPandas hash stage twice
    sig = sig.localCheckpoint(eager=False)
    width = 64 // bands
    mask = (1 << width) - 1
    band_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(hash_col, i * width)
                .bitwiseAND(F.lit(mask))
                .alias("val"),
            )
            for i in range(bands)
        ]
    )
    banded = sig.select(
        "doc_id", hash_col, F.explode(band_arr).alias("b")
    ).select("doc_id", hash_col, F.col("b.band").alias("band"), F.col("b.val").alias("val"))
    w_rank = F.row_number().over(Window.partitionBy("band", "val").orderBy("doc_id"))
    banded = banded.withColumn("__r", w_rank).filter(F.col("__r") <= max_bucket).drop("__r")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col(f"a.{hash_col}").bitwiseXOR(F.col(f"b.{hash_col}"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


PAYLOAD_STATS_SCHEMA = (
    "doc_id long, n_bytes long, byte_sum long, min_byte int, max_byte int"
)


def payload_stats_arrow(images: DataFrame) -> DataFrame:
    """Payload byte statistics via ``mapInArrow`` — the Arrow-NATIVE
    batch path (RecordBatch in, RecordBatch out, no pandas
    materialization): for multi-MB binary payloads this avoids the
    pandas object-array copy that mapInPandas pays, which is the right
    default for pure byte-level kernels. All outputs are exact integers,
    so the stage is bit-reproducible at any batch size or partitioning.
    """
    import pyarrow as pa

    def batches(it):
        import numpy as np

        for rb in it:
            doc_ids = rb.column("doc_id").to_numpy(zero_copy_only=False)
            payloads = rb.column("payload").to_pylist()
            n_bytes, byte_sum, mn, mx = [], [], [], []
            for b in payloads:
                arr = np.frombuffer(b or b"", dtype=np.uint8)
                n_bytes.append(len(arr))
                byte_sum.append(int(arr.sum(dtype=np.int64)))
                mn.append(int(arr.min()) if len(arr) else None)
                mx.append(int(arr.max()) if len(arr) else None)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_ids, pa.int64()),
                    pa.array(n_bytes, pa.int64()),
                    pa.array(byte_sum, pa.int64()),
                    pa.array(mn, pa.int32()),
                    pa.array(mx, pa.int32()),
                ],
                names=["doc_id", "n_bytes", "byte_sum", "min_byte", "max_byte"],
            )

    return images.select("doc_id", "payload").mapInArrow(
        batches, PAYLOAD_STATS_SCHEMA
    )


FRAME_DIFF_SCHEMA = "doc_id long, frame_idx long, diff_energy long"


def frame_diff_energies(videos: DataFrame, frame_bytes: int = 128) -> DataFrame:
    """Video scene-cut primitive: per consecutive-frame pair, the exact
    int64 L1 pixel difference Σ|b_i − b'_i| over fixed-size byte frames
    (the incomplete tail frame is dropped). A real pipeline swaps the
    byte frames for decoded luma planes behind the same signature — the
    Spark-side shape (Arrow batches, numpy abs-diff, exact integer
    energies so the frame table is bit-reproducible across engines,
    partitionings and batch sizes) is what this operator pins.
    frame_idx is the LATER frame's index, starting at 1."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            out_doc: list = []
            out_idx: list = []
            out_en: list = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload or b"")
                nf = len(b) // frame_bytes
                if nf < 2:
                    continue
                frames = np.frombuffer(
                    b[: nf * frame_bytes], dtype=np.uint8
                ).astype(np.int64).reshape(nf, frame_bytes)
                diffs = np.abs(frames[1:] - frames[:-1]).sum(axis=1)
                out_doc.extend([doc_id] * (nf - 1))
                out_idx.extend(range(1, nf))
                out_en.extend(int(x) for x in diffs)
            yield pd.DataFrame(
                {"doc_id": out_doc, "frame_idx": out_idx, "diff_energy": out_en}
            )

    return videos.mapInPandas(batches, FRAME_DIFF_SCHEMA)


RESAMPLE_L = 2  # rational resample ratio L/M: out rate = in rate · L/M
RESAMPLE_M = 3  # 3:2 downsample (the 48 kHz → 32 kHz shape)


def pcm_resample_stats(audio: DataFrame) -> DataFrame:
    """Rational L/M linear-interpolation resample of raw PCM16-LE — the
    sample-rate normalization step every audio training corpus runs
    (48 kHz field recordings → one model rate), kept EXACT: output j
    sits at input position j·M/L, so with pos = j·M div L and
    fm = j·M mod L the interpolated sample is
    v[pos]·(L−fm) + v[pos+1]·fm — integer math in the L-scaled domain,
    no float filter taps, so the emitted per-doc audit (output count,
    scaled sum/min/max) is bit-reproducible across engines, batch
    sizes and partitionings. The final position clamps v[pos+1] to the
    last sample (both engines). numpy-vectorized inside mapInPandas;
    a trailing odd byte is dropped (the frame-energy convention).

    Scale: pure per-row batch work — no shuffle at all; at 100 TB the
    resampler rides the scan exactly like decode/feature stages."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        L, M = RESAMPLE_L, RESAMPLE_M
        for pdf in it:
            rows: dict[str, list] = {
                "doc_id": [], "n_in": [], "n_out": [],
                "out_sum": [], "out_min": [], "out_max": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload or b"")
                v = np.frombuffer(b[: (len(b) // 2) * 2], dtype="<i2").astype(
                    np.int64
                )
                n = len(v)
                if n < 2:
                    continue
                n_out = ((n - 1) * L) // M + 1
                j = np.arange(n_out, dtype=np.int64)
                pm = j * M
                pos = pm // L
                fm = pm % L
                nxt = v[np.minimum(pos + 1, n - 1)]
                out = v[pos] * (L - fm) + nxt * fm  # L-scaled exact int64
                rows["doc_id"].append(doc_id)
                rows["n_in"].append(n)
                rows["n_out"].append(int(n_out))
                rows["out_sum"].append(int(out.sum()))
                rows["out_min"].append(int(out.min()))
                rows["out_max"].append(int(out.max()))
            yield pd.DataFrame(rows)

    return audio.mapInPandas(
        batches,
        schema=(
            "doc_id long, n_in long, n_out long, out_sum long, "
            "out_min long, out_max long"
        ),
    )


# --- pHash: DCT perceptual hash in exact scaled-integer arithmetic ----------

# DCT-II basis, orthonormal scaling, quantized to 14 fractional bits:
# C[u][x] = round(alpha(u) * cos((2x+1)*u*pi/16) * 2^14). Embedding the
# 64 literals (instead of calling math.cos at query time) makes the
# Spark kernel and the generated DuckDB oracle share EXACTLY the same
# integers — the whole transform is int64 arithmetic end to end
# (max |G| = 46344*255 ~ 1.2e7, max |F| = 46344*1.2e7 ~ 5.5e11).
PHASH_DCT_C = (
    (5793, 5793, 5793, 5793, 5793, 5793, 5793, 5793),
    (8035, 6811, 4551, 1598, -1598, -4551, -6811, -8035),
    (7568, 3135, -3135, -7568, -7568, -3135, 3135, 7568),
    (6811, -1598, -8035, -4551, 4551, 8035, 1598, -6811),
    (5793, -5793, -5793, 5793, 5793, -5793, -5793, 5793),
    (4551, -8035, 1598, 6811, -6811, -1598, 8035, -4551),
    (3135, -7568, 7568, -3135, -3135, 7568, -7568, 3135),
    (1598, -4551, 6811, -8035, 8035, -6811, 4551, -1598),
)
PHASH_MAX_HAMMING = 7
PHASH_BANDS = 8


def image_phash(images: DataFrame) -> DataFrame:
    """DCT perceptual hash per image: the first 64 payload bytes form
    an 8×8 grayscale tile (DECODE PLUG-POINT — a real decoder yields
    the downsampled 32×32 luma here), the integer DCT-II F = C·P·Cᵀ
    transforms it, and the 63 AC coefficients threshold at their exact
    median (the 32nd order statistic) → a 63-bit signature. Unlike
    aHash's block means, pHash keys on the LOW-FREQUENCY STRUCTURE, so
    it survives brightness shifts that flip every aHash bit. Exact
    int64 arithmetic end to end (scaled-integer basis above) — the
    stage is bit-reproducible at any batch size or partitioning AND
    SQL-replayable, so the pairs query is hash-gated (mm_ahash_pairs
    stays rows-only; this is the oracled twin). Images shorter than 64
    bytes drop out (no padding invention)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        C = np.array(PHASH_DCT_C, dtype=np.int64)
        for pdf in it:
            ids: list = []
            hashes: list = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload or b"")
                if len(b) < 64:
                    continue
                # DECODE PLUG-POINT (see docstring)
                P = np.frombuffer(b[:64], dtype=np.uint8).astype(np.int64)
                P = P.reshape(8, 8)
                Fm = C @ P @ C.T
                ac = np.delete(Fm.ravel(), 0)  # drop DC, row-major order
                med = np.partition(ac, 31)[31]  # 32nd smallest, exact
                bits = (ac > med).astype(np.int64)
                h = 0
                for i in range(63):
                    h |= int(bits[i]) << i
                ids.append(doc_id)
                hashes.append(h)
            yield pd.DataFrame({"doc_id": ids, "phash": hashes}).astype(
                {"doc_id": "int64", "phash": "int64"}
            )

    return images.select("doc_id", "payload").mapInPandas(
        batches, schema="doc_id long, phash long"
    )


def phash_near_dups(images: DataFrame) -> DataFrame:
    """pHash near-duplicate pairs: banded LSH candidates (8 bands of 8
    bits over the 63-bit signature — pigeonhole-complete for hamming
    < 8, covering the ≤{PHASH_MAX_HAMMING} threshold), exact
    bit_count(xor) verify, hot buckets capped at 200 members like
    every other banded dedup op. Shares _banded_hamming_pairs with
    ahash_near_dups — one plan shape, shuffle rides band-bucket
    occupancy, never all-pairs."""
    return _banded_hamming_pairs(
        image_phash(images), "phash", PHASH_BANDS, PHASH_MAX_HAMMING, 200
    )


phash_near_dups.__doc__ = phash_near_dups.__doc__.format(
    PHASH_MAX_HAMMING=PHASH_MAX_HAMMING
)
