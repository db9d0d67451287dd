"""Driver-checked streaming queries.

Each runs a real Structured Streaming query (file source → watermarked
stateful op → memory sink, availableNow trigger) to completion and
returns the materialized result. Because the streaming transforms reuse
the batch twins' expressions, the results are oracle-checkable with the
SAME DuckDB SQL — certifying streaming semantics, not just plumbing.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from .. import streaming as S
from .behavior import ORACLE_AB, ORACLE_MARKOV, ORACLE_WINDOW_FUNNEL
from .text import ORACLE_HEAVY_HITTERS
from .curation import ORACLE_WEIGHTED_SAMPLE
from .events import (
    ORACLE_HDR_QUANTILES,
    ORACLE_KMV_ROLLING,
    ORACLE_LATENESS,
    ORACLE_BLOOM_ADMIT,
    ORACLE_CMS,
    ORACLE_CUSUM,
    ORACLE_GAPFILL,
    ORACLE_HOURLY,
    ORACLE_IVM,
    ORACLE_KMV,
    ORACLE_M4,
    ORACLE_OHLC,
    ORACLE_RESERVOIR,
    ORACLE_SESSION,
    ORACLE_SLIDING,
)


def _materialize(df: DataFrame, spark: SparkSession, mode: str) -> DataFrame:
    name = f"strq_{uuid.uuid4().hex[:12]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(300)
    if not finished:
        # never hand back a silently-partial table — fail loudly
        q.stop()
        raise TimeoutError(f"streaming query {name} did not finish within 300s")
    return spark.table(name)


def q_stream_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _materialize(S.windowed_counts(S.stream_events(spark, sf_dir)), spark, "complete")


def q_stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _materialize(S.ohlc_bars(S.stream_events(spark, sf_dir)), spark, "complete")


def q_stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _materialize(S.sliding_counts(S.stream_events(spark, sf_dir)), spark, "complete")


def q_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _materialize(S.session_counts(S.stream_events(spark, sf_dir)), spark, "complete")


def q_stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    out = _materialize(
        S.stateful_user_counts(S.stream_events(spark, sf_dir)), spark, "update"
    )
    # update mode emits one row per touched user per micro-batch; keep
    # each user's FINAL state (n_events is a monotone running counter),
    # so the result is correct even when the source splits into several
    # micro-batches
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value", "n_events").alias("total_value"),
    )


def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = S.stream_events(spark, sf_dir)
    deduped = S.dedup_within_watermark(stream.union(stream))
    out = _materialize(deduped, spark, "append")
    return out.select("event_id", "event_type", "user_id")


N_TOP_TYPES = 3


def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast join: the event stream enriched against a
    batch-built top-k event-type dimension, aggregated per type."""
    from pyspark.sql import functions as F

    from ..io import load_table

    batch = load_table(spark, sf_dir, "events")
    dim = (
        batch.groupBy("event_type")
        .agg(F.count("*").alias("type_count"))
        .orderBy(F.desc("type_count"), F.asc("event_type"))
        .limit(N_TOP_TYPES)
        .select("event_type")
    )
    out = S.static_enriched_counts(S.stream_events(spark, sf_dir), dim)
    return _materialize(out, spark, "complete")


ORACLE_STREAM_STATIC = f"""
WITH dim AS (
  SELECT event_type FROM (
    SELECT event_type, count(*) AS type_count FROM events GROUP BY event_type
    ORDER BY type_count DESC, event_type ASC LIMIT {N_TOP_TYPES}
  )
)
SELECT e.event_type, count(*) AS n_events, round(sum(e.value), 2) AS sum_value
FROM events e JOIN dim USING (event_type)
GROUP BY e.event_type
"""


def q_stream_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KMV distinct-count sketch (custom applyInPandasWithState
    state: the K minimum Lehmer hashes per event_type), finalized by the
    SAME estimator/audit code as the batch twin and checked against the
    SAME DuckDB oracle — a hash-gated streaming sketch. Update mode
    emits one row per touched key per micro-batch; the final sketch is
    the emission with the largest n_seen and, among those, the smallest
    h_K (n_seen is monotone nondecreasing and h_K monotone nonincreasing
    once the sketch saturates, so that pair identifies the last state)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .events import kmv_finalize

    out = _materialize(S.kmv_sketch_state(S.stream_events(spark, sf_dir)), spark, "update")
    w = Window.partitionBy("event_type").orderBy(F.desc("n_seen"), F.asc("hk"))
    km = (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", "n_seen", "hk")
    )
    return kmv_finalize(spark, sf_dir, km)


def q_stream_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min Sketch (custom applyInPandasWithState state:
    one W-counter vector per sketch row d), finalized by the SAME
    probe/estimate/audit code as the batch twin (events.cms_finalize)
    and checked against the SAME DuckDB oracle — the second hash-gated
    streaming sketch next to KMV. Update mode emits the full counter
    row per micro-batch stamped with n_seen (strictly monotone per d);
    the final grid is each row's emission with the largest n_seen."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .events import _CMS_D, _CMS_SALT, _CMS_W, cms_finalize

    out = _materialize(
        S.cms_sketch_state(
            S.stream_events(spark, sf_dir), d=_CMS_D, w=_CMS_W, salt=_CMS_SALT
        ),
        spark,
        "update",
    )
    w = Window.partitionBy("d", "cell").orderBy(F.desc("n_seen"))
    cells = (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("d", "cell", "cell_total")
    )
    return cms_finalize(spark, sf_dir, cells)


def q_stream_bloom_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Bloom admit-once gate (custom applyInPandasWithState
    state: the m-bit filter as m/64 longs per event_type plus running
    counters), finalized by the SAME exact-distinct audit as the batch
    twin (events.bloom_admit_finalize) and checked against the SAME
    DuckDB oracle — the third hash-gated streaming sketch next to KMV
    and CMS. Update mode emits (n_events, n_admitted) per touched key
    per micro-batch; n_events is strictly monotone, so each key's final
    state is its max-n_events emission."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .events import _ADMIT_K, _ADMIT_MBITS, _ADMIT_SALT, bloom_admit_finalize

    out = _materialize(
        S.bloom_admit_state(
            S.stream_events(spark, sf_dir),
            m_bits=_ADMIT_MBITS,
            k=_ADMIT_K,
            salt=_ADMIT_SALT,
        ),
        spark,
        "update",
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("n_events"))
    admits = (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", "n_events", "n_admitted")
    )
    return bloom_admit_finalize(spark, sf_dir, admits)


def q_stream_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gapfill/LOCF (custom applyInPandasWithState state: the
    per-user observed-day rollup), selected to each (user, day)'s newest
    emission (n_seen is strictly monotone per user) and rounded
    Spark-side with the SAME F.round the batch twin applies — checked
    against the batch twin's DuckDB oracle, making the continuously-
    maintained hypertable densification hash-gated end-to-end."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    out = _materialize(
        S.gapfill_locf_state(S.stream_events(spark, sf_dir)), spark, "update"
    )
    w = Window.partitionBy("user_id", "day").orderBy(F.desc("n_seen"))
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.date_format(F.expr("date_from_unix_date(CAST(day AS INT))"), "yyyy-MM-dd").alias("day"),
            F.col("n_events").cast("long").alias("n_events"),
            F.round(F.col("locf_raw"), 2).alias("locf_value"),
        )
    )


def q_stream_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Markov transition matrix: per-user ordered history as
    custom state (late events re-chain correctly), newest emission per
    user selected by the monotone n_seen, then the batch twin's exact
    (from,to) aggregate + row-normalizing window — certified by the
    batch twin's DuckDB oracle end-to-end."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    out = _materialize(
        S.markov_transitions_state(S.stream_events(spark, sf_dir)), spark, "update"
    )
    w_user = Window.partitionBy("user_id")
    latest = out.withColumn("max_seen", F.max("n_seen").over(w_user)).filter(
        F.col("n_seen") == F.col("max_seen")
    )
    pairs = latest.groupBy("from_type", "to_type").agg(F.sum("n").alias("n"))
    w_from = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(w_from), 4).alias("p"),
    )



def q_stream_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming M4 downsampling (custom applyInPandasWithState state:
    the four pixel-defining candidate points per (series, hour bucket)),
    selected to each bucket's newest emission (n_seen is strictly
    monotone per key), then exploded to the batch twin's (bucket, role,
    point) rows with the SAME role tie-breaks and F.round — checked
    against the batch twin's DuckDB oracle, so the continuously-
    maintained rendering cache is hash-gated end-to-end. Unlike the
    KMV/CMS/Bloom sketch twins this state is EXACT, so the certificate
    is equality, not an audit column."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    out = _materialize(S.m4_sketch_state(S.stream_events(spark, sf_dir)), spark, "update")
    w = Window.partitionBy("event_type", "bucket_start_s").orderBy(F.desc("n_seen"))
    latest = out.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    roles = F.array(
        F.struct(F.lit("first").alias("role"), F.col("first_ts").alias("ts_us"), F.col("first_val").alias("v")),
        F.struct(F.lit("last").alias("role"), F.col("last_ts").alias("ts_us"), F.col("last_val").alias("v")),
        F.struct(F.lit("min").alias("role"), F.col("min_ts").alias("ts_us"), F.col("min_val").alias("v")),
        F.struct(F.lit("max").alias("role"), F.col("max_ts").alias("ts_us"), F.col("max_val").alias("v")),
    )
    return (
        latest.withColumn("pt", F.explode(roles))
        .select(
            "event_type",
            "bucket_start_s",
            F.col("pt.role").alias("role"),
            F.col("pt.ts_us").alias("ts_us"),
            F.round(F.col("pt.v"), 2).alias("value"),
        )
    )



def q_stream_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming A/B readout: per-user conversion maintained as a plain
    update-mode streaming aggregate (max is monotone, so each user's
    final emission is their true conv flag — no custom state needed),
    then the batch twin's ``ab_finalize`` computes the variant split
    and pooled z-test, certified by the SAME DuckDB oracle. The live
    experimentation dashboard: z updates as micro-batches land, and
    the final answer equals the batch recompute exactly."""
    from pyspark.sql import functions as F

    from .behavior import ab_finalize

    stream = S.stream_events(spark, sf_dir).select(
        "user_id", (F.col("event_type") == "purchase").cast("int").alias("p")
    )
    agg = stream.groupBy("user_id").agg(F.max("p").alias("conv"))
    out = _materialize(agg, spark, "update")
    users = out.groupBy("user_id").agg(F.max("conv").alias("conv"))
    return ab_finalize(users)



def q_stream_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM drift detection (custom applyInPandasWithState
    state: the observed-hour rollup per event type), selected to each
    type's NEWEST emission (n_seen is strictly monotone; a heartbeat
    row keeps the selection honest when new history DE-flags an hour),
    then rounded Spark-side with the batch twin's F.round — certified
    by the batch twin's DuckDB oracle end-to-end. Flags are statements
    about the observed prefix: the final emission equals the batch
    recompute exactly."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    out = _materialize(
        S.cusum_state(S.stream_events(spark, sf_dir)), spark, "update"
    )
    w = Window.partitionBy("event_type")
    latest = out.withColumn("max_seen", F.max("n_seen").over(w)).filter(
        F.col("n_seen") == F.col("max_seen")
    )
    return latest.filter(F.col("is_flag")).select(
        "event_type",
        "bucket_start_s",
        "direction",
        F.col("n").cast("long").alias("n"),
        F.round("stat_raw", 4).alias("cusum_stat"),
    )


def q_stream_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental-view maintenance — the continuously-
    maintained twin of queries/events.q_events_incremental_rollup.
    applyInPandasWithState holds one (count, cent-sum, min, max)
    partial per (event_type, day) — the IVM state table itself — and
    each micro-batch merges deltas with the same commutative-monoid
    algebra the batch twin audits in-band. The finalizer selects each
    key's newest emission (n is strictly monotone per key), re-derives
    the data-driven cutoff, merges partials per type, and joins the
    DIRECT batch recompute over the same parquet to fill the batch
    twin's ivm_match audit column — "state maintained incrementally
    across micro-batches equals a from-scratch rescan" is exactly the
    certificate a production IVM pipeline wants, and the batch twin's
    DuckDB oracle hash-gates it end-to-end (exact integer cents, so
    bit-equality, no tolerance)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..io import load_table
    from .events import _IVM_DELTA_DAYS

    out = _materialize(
        S.ivm_rollup_state(S.stream_events(spark, sf_dir)), spark, "update"
    )
    w = Window.partitionBy("event_type", "day").orderBy(F.desc("n"))
    parts = (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    cutoff = parts.groupBy().agg(
        (F.max("day") - _IVM_DELTA_DAYS).alias("cutoff_day")
    )
    merged = (
        parts.crossJoin(F.broadcast(cutoff))
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("m_n"),
            F.sum("s").alias("m_s"),
            F.min("mn").alias("m_mn"),
            F.max("mx").alias("m_mx"),
            F.countDistinct("day").alias("m_days"),
            F.sum(
                F.when(F.col("day") >= F.col("cutoff_day"), F.col("n")).otherwise(0)
            ).alias("delta_events"),
        )
    )
    direct = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.unix_date(F.to_date("ts")).alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("d_n"),
            F.sum("cents").alias("d_s"),
            F.min("cents").alias("d_mn"),
            F.max("cents").alias("d_mx"),
            F.countDistinct("day").alias("d_days"),
        )
    )
    return (
        merged.join(direct, "event_type")
        .select(
            "event_type",
            F.col("m_n").alias("n_events"),
            F.round(F.col("m_s") / 100.0, 2).alias("sum_value"),
            F.round(F.col("m_mn") / 100.0, 2).alias("min_value"),
            F.round(F.col("m_mx") / 100.0, 2).alias("max_value"),
            F.col("m_days").alias("n_days"),
            F.col("delta_events").cast("long").alias("delta_events"),
            (
                (F.col("m_n") == F.col("d_n"))
                & (F.col("m_s") == F.col("d_s"))
                & (F.col("m_mn") == F.col("d_mn"))
                & (F.col("m_mx") == F.col("d_mx"))
                & (F.col("m_days") == F.col("d_days"))
            ).alias("ivm_match"),
        )
    )


def q_stream_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed-funnel depth (custom applyInPandasWithState
    state: the user's funnel history within the watermark-plus-deadline
    horizon, older views folded into a scalar max — state bounded by
    the 24 h window + allowed lateness, never lifetime events). Each
    user's newest emission (monotone n_seen) feeds the batch twin's
    level histogram and the batch DuckDB oracle certifies the result
    end-to-end."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    out = _materialize(
        S.window_funnel_state(S.stream_events(spark, sf_dir)), spark, "update"
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("n_seen"))
    latest = (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return latest.groupBy("level").agg(F.count("*").cast("long").alias("n_users"))


def q_stream_kmv_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trailing-7-day distinct users — per-day KMV sketches
    maintained as custom state (K longs per active day, forever),
    merged into trailing windows by the BATCH twin's exact finalizer
    (newest emission per day → explode minima → union-keep-K-minima
    per target day → estimator + exact audit), certified end-to-end by
    the batch twin's DuckDB oracle. The dashboard-read path touches
    only sketch rows; raw events are read once by the state op and
    once by the gate-scale exact audit."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..io import load_table
    from .events import _KMV_K, _KMV_ROLL_DAYS

    M = (1 << 31) - 1
    out = _materialize(
        S.kmv_daily_sketch_state(S.stream_events(spark, sf_dir)), spark, "update"
    )
    w = Window.partitionBy("day").orderBy(F.desc("n_seen"))
    daily = (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("day", F.explode("minima").alias("h"))
    )
    span = daily.groupBy().agg(F.max("day").alias("dmax"))
    contrib = (
        daily.crossJoin(F.broadcast(span))
        .select(
            "h",
            F.explode(
                F.sequence(
                    F.col("day"),
                    F.least(F.col("day") + _KMV_ROLL_DAYS - 1, F.col("dmax")),
                )
            ).alias("t_day"),
        )
        .distinct()
    )
    w_roll = Window.partitionBy("t_day").orderBy("h")
    union_k = (
        contrib.withColumn("rn", F.row_number().over(w_roll))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("t_day")
        .agg(F.count("*").alias("n_seen"), F.max("h").alias("hk"))
    )
    est = F.round(
        F.when(F.col("n_seen") < _KMV_K, F.col("n_seen").cast("double")).otherwise(
            F.lit(float(_KMV_K - 1)) * M / F.col("hk")
        ),
        4,
    )
    e = load_table(spark, sf_dir, "events").select(
        F.unix_date(F.to_date("ts")).alias("day"), "user_id"
    )
    exact = (
        e.distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("day"),
                    F.least(F.col("day") + _KMV_ROLL_DAYS - 1, F.col("dmax")),
                )
            ).alias("t_day"),
        )
        .groupBy("t_day")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    return (
        union_k.join(exact, "t_day")
        .select(
            F.col("t_day").cast("long").alias("day"),
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
            est.alias("kmv_estimate"),
            F.round(
                F.abs(est - F.col("exact_distinct")) / F.col("exact_distinct"), 4
            ).alias("rel_err"),
        )
    )


def q_stream_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming out-of-orderness profile — each event scored ONCE
    against its user's running-max event time (1 long of state per
    user), then the batch twin's integer bit-length bucketing and
    histogram, certified by the batch DuckDB oracle. This is the
    measurement loop that would SET the watermarks the other stream
    queries declare — run as a stream over the stream itself."""
    from pyspark.sql import functions as F

    out = _materialize(
        S.lateness_state(S.stream_events(spark, sf_dir)), spark, "append"
    )
    bucket = (
        F.when(F.col("late_s") <= 0, F.lit(-1))
        .when(F.col("late_s") == 1, F.lit(0))
        .otherwise(F.length(F.conv(F.col("late_s") - 1, 10, 2)).cast("long"))
    )
    return (
        out.select("event_type", bucket.alias("late_bucket"), "late_s")
        .groupBy("event_type", "late_bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.max("late_s").cast("long").alias("max_late_s"),
        )
        .select(
            "event_type",
            F.col("late_bucket").cast("long").alias("late_bucket"),
            "n_events",
            "max_late_s",
        )
    )


def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters — Misra-Gries counters maintained as
    custom state per TOKEN-HASH SHARD (≤ K counters × 8 shards of
    strings, forever — state never grows with the vocabulary), the
    streaming twin of queries/text.q_doc_heavy_hitters' sketch phase.
    Each shard's newest emission (monotone n_seen row counter) supplies
    the candidate pool; the SHARED finalizer (text.mg_finalize) exact-
    recounts candidates against the corpus and applies the integer
    threshold, so the batch twin's plain GROUP BY/HAVING DuckDB oracle
    certifies the stream end-to-end — the 21st stream query and the
    last sketch family to gain a streaming twin (r8 verdict #7)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .text import mg_finalize

    out = _materialize(
        S.mg_heavy_hitters_state(S.stream_documents(spark, sf_dir)), spark, "update"
    )
    w = Window.partitionBy("shard").orderBy(F.desc("n_seen"))
    cand = (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.explode("tokens").alias("token"))
        .distinct()
    )
    return mg_finalize(spark, sf_dir, cand)


def q_stream_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantiles — HDR-histogram sketches maintained as
    custom state (≤ ~1.9k integer counters per event type, forever),
    each type's newest emission (monotone n_seen) exploded back to
    sketch rows and finalized by the SHARED events.hdr_finalize
    (cumulative bucket walk + in-band exact nearest-rank audit with the
    HdrHistogram error bound as a gate column), certified end-to-end by
    the batch twin's DuckDB oracle. The 22nd stream query — quantiles
    were the last sketch family without a streaming twin."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .events import hdr_finalize

    out = _materialize(
        S.hdr_sketch_state(S.stream_events(spark, sf_dir)), spark, "update"
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("n_seen"))
    sketch = (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.explode(F.arrays_zip("shifts", "buckets", "counts")).alias("z"),
        )
        .select(
            "event_type",
            F.col("z.shifts").alias("shift"),
            F.col("z.buckets").alias("bucket"),
            F.col("z.counts").alias("n"),
        )
    )
    # lineage break (RDD round-trip, stays distributed): the finalizer
    # self-joins the sketch (cum × targets), and the memory-sink →
    # window → explode plan trips Catalyst's conflicting-reference
    # check on that self-join; fresh expr-ids make it a plain join.
    # The sketch is ≤ ~1.9k rows per type — the round-trip is free.
    sketch = spark.createDataFrame(sketch.rdd, sketch.schema)
    return hdr_finalize(spark, sf_dir, sketch)


def q_stream_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream watermarked join (purchase ← same-user click within
    2 hours): both sides are live streams; bounded time-range condition
    keeps join state finite."""
    out = S.stream_stream_attribution(S.stream_events(spark, sf_dir))
    return _materialize(out, spark, "append")


ORACLE_STREAM_STREAM = """
SELECT p.event_id AS purchase_id,
       c.event_id AS click_id,
       p.user_id AS user_id,
       epoch_us(p.ts) AS purchase_ts_us,
       epoch_us(c.ts) AS click_ts_us,
       round(p.value, 2) AS purchase_value
FROM events p
JOIN events c
  ON p.event_type = 'purchase' AND c.event_type = 'click'
 AND p.user_id = c.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 2 HOUR
"""


ORACLE_STATEFUL = """
SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events GROUP BY user_id
"""

ORACLE_STREAM_DEDUP = """
SELECT event_id, event_type, user_id FROM events
"""


def q_stream_cdc_latest_state(
    spark: SparkSession, sf_dir: str, _max_files_per_trigger: int | None = None
) -> DataFrame:
    """CDC apply / streaming MERGE INTO: the event stream is treated as
    an upsert feed keyed by user_id (newest (ts, event_id) wins) and
    each micro-batch is applied through ``sink.merge_upsert`` — the
    engine's idempotent MERGE with crash-safe atomic swap (O13) — via
    ``foreachBatch`` into a parquet state table; the query returns the
    final materialized state. This is the lakehouse CDC pattern
    (Debezium-feed → foreachBatch MERGE) the reference's micro-batched
    COPY sink approximates (filter.py:58-64 aborts on duplicate PKs;
    we resolve newest-wins instead).

    Correctness composition: the within-batch reduce (max struct per
    key) and the cross-batch merge_upsert (row_number over the same
    version columns) use the SAME (ts, event_id) ordering, so the
    final state is replay- and batch-boundary-independent — the oracle
    recomputes it as one window over the whole table.

    Scale: per batch the state rewrite touches the whole (key-sized,
    not fact-sized) state table; at 100 TB the target partitions by
    key range and rewrites only touched partitions, or swaps in a
    transactional table format — documented in merge_upsert."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ..sink import merge_upsert

    root = tempfile.mkdtemp(prefix="ospdms_cdc_")
    target = os.path.join(root, "state")

    def _latest_per_user(batch_df: DataFrame) -> DataFrame:
        m = F.max(
            F.struct("ts", "event_id", "event_type", "value")
        ).alias("m")
        return batch_df.groupBy("user_id").agg(m).select(
            "user_id",
            F.col("m.ts").alias("ts"),
            F.col("m.event_id").alias("event_id"),
            F.col("m.event_type").alias("event_type"),
            F.col("m.value").alias("value"),
        )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert(
            spark,
            target,
            _latest_per_user(batch_df),
            key="user_id",
            version_cols=("ts", "event_id"),
        )

    try:
        q = (
            S.stream_events(spark, sf_dir, _max_files_per_trigger)
            .writeStream.foreachBatch(_apply)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("stream_cdc_latest_state did not finish within 300s")
        # the key-sized final state lives on in executor blocks, so the
        # MERGE target and the stream checkpoint can go with the root
        return spark.read.parquet(target).select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.unix_micros("ts").alias("last_ts_us"),
            F.col("event_type").alias("last_event_type"),
            F.round("value", 2).alias("last_value"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


ORACLE_CDC_LATEST = """
SELECT user_id,
       event_id AS last_event_id,
       epoch_us(ts) AS last_ts_us,
       event_type AS last_event_type,
       round(value, 2) AS last_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""

def q_stream_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup dedup — each arriving document tagged with its
    earliest near-twin (SimHash Hamming ≤ 3) among everything seen so
    far, the ingest-time dedup a batch pass can't provide (24th stream
    query). Runs the real banded stateful stream
    (streaming.simhash_dedup_state: per-bucket first-200 retained
    signatures via applyInPandasWithState), then a batch finalizer
    merges the 4 per-band verdicts per doc: dup_of = the minimum
    matching earlier doc_id, is_dup = any band matched. The DuckDB
    oracle recomputes the portable SimHash fingerprints bit-for-bit,
    replays the SAME banding + first-K retention (row_number by doc_id
    = arrival order), and takes the same min over retained earlier
    matches — certifying signatures, retention policy, and verdict
    merge end to end."""
    out = _materialize(
        S.simhash_dedup_state(
            S.stream_documents(spark, sf_dir, assert_doc_id_file_order=True)
        ),
        spark,
        "update",
    )
    from pyspark.sql import functions as F

    return out.groupBy("doc_id").agg(
        F.min(F.when(F.col("match_id") >= 0, F.col("match_id"))).alias("dup_of"),
    ).select(
        "doc_id",
        F.col("dup_of").isNotNull().alias("is_dup"),
        "dup_of",
    )


def _stream_simhash_dedup_oracle_sql() -> str:
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
fp AS MATERIALIZED (
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
banded AS MATERIALIZED (
  SELECT doc_id, sh, band, bucket,
         row_number() OVER (PARTITION BY band, bucket ORDER BY doc_id) AS r
  FROM (
    SELECT doc_id, sh, b AS band, (sh >> CAST(b * 16 AS INTEGER)) & 65535 AS bucket
    FROM fp CROSS JOIN (SELECT unnest(range(4)) AS b) bands
  )
),
matches AS (
  SELECT d.doc_id, min(r.doc_id) AS dup_of
  FROM banded d
  JOIN (SELECT * FROM banded WHERE r <= 200) r
    ON r.band = d.band AND r.bucket = d.bucket AND r.doc_id < d.doc_id
  WHERE bit_count(xor(d.sh, r.sh)) <= 3
  GROUP BY 1
)
SELECT f.doc_id,
       m.dup_of IS NOT NULL AS is_dup,
       m.dup_of
FROM fp f LEFT JOIN matches m ON m.doc_id = f.doc_id
"""


ORACLE_STREAM_SIMHASH_DEDUP = _stream_simhash_dedup_oracle_sql()


_SIMHASH_HORIZON_SPAN = 100  # generation width (doc_ids per generation)


def q_stream_simhash_dedup_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generation-horizon variant of :func:`q_stream_simhash_dedup`
    (r11 verdict #5's eviction story, prepared for r13 registration —
    NOT in the r12 registry because the 50-slot window was full):
    retention is first-K per (bucket, generation) with gen =
    doc_id // _SIMHASH_HORIZON_SPAN, a doc matches only retained
    entries from gens ≥ its own − 1, and below-horizon state is
    physically evicted. Same finalizer; the oracle replays the
    per-generation retention and the horizon mask with one extra
    window key and one extra join predicate."""
    out = _materialize(
        S.simhash_dedup_state(
            S.stream_documents(spark, sf_dir, assert_doc_id_file_order=True),
            generation_span=_SIMHASH_HORIZON_SPAN,
        ),
        spark,
        "update",
    )
    from pyspark.sql import functions as F

    return out.groupBy("doc_id").agg(
        F.min(F.when(F.col("match_id") >= 0, F.col("match_id"))).alias("dup_of"),
    ).select(
        "doc_id",
        F.col("dup_of").isNotNull().alias("is_dup"),
        "dup_of",
    )


def _stream_simhash_horizon_oracle_sql() -> str:
    """The unbounded oracle with two edits: the retention row_number
    gains the generation as a partition key (first-K per (bucket,
    GEN)), and the match join gains the horizon predicate
    (r.gen ≥ d.gen − 1). Eviction needs no SQL model: arrival order
    makes max-gen monotone, so evicted entries are exactly the ones
    the horizon predicate already excludes."""
    g = _SIMHASH_HORIZON_SPAN
    base = _stream_simhash_dedup_oracle_sql()
    base = base.replace(
        "row_number() OVER (PARTITION BY band, bucket ORDER BY doc_id) AS r",
        "row_number() OVER (PARTITION BY band, bucket, doc_id // "
        f"{g} ORDER BY doc_id) AS r",
    )
    return base.replace(
        "WHERE bit_count(xor(d.sh, r.sh)) <= 3",
        "WHERE bit_count(xor(d.sh, r.sh)) <= 3\n"
        f"    AND r.doc_id // {g} >= d.doc_id // {g} - 1",
    )


ORACLE_STREAM_SIMHASH_HORIZON = _stream_simhash_horizon_oracle_sql()


def q_stream_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming bottom-k reservoir sample (implemented + differentially
    pinned in r13 as prep, REGISTERED in r14 tier 1b with
    ``events.ORACLE_RESERVOIR`` verbatim — the 26th streaming query,
    completing the streaming-twin arc for the sampling family). The
    custom applyInPandasWithState state is the k smallest
    (Lehmer-priority, event_id) rows per event_type — the mergeable
    form of reservoir sampling, so the retained sample is byte-for-byte
    the batch q_events_reservoir_sample result regardless of micro-batch
    boundaries (3-file replay + RocksDB parity pytest-pinned). Update
    mode emits the full current reservoir per touched key; the final
    reservoir is the emission with the largest n_seen (strictly
    monotone per key)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .events import _RES_K

    out = _materialize(
        S.reservoir_sample_state(S.stream_events(spark, sf_dir), k=_RES_K),
        spark,
        "update",
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("n_seen"))
    last = out.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    z = F.arrays_zip("ids", "users", "vals")
    return (
        last.select("event_type", F.posexplode(z).alias("pos", "r"))
        .select(
            "event_type",
            (F.col("pos") + 1).cast("long").alias("rk"),
            F.col("r.ids").alias("event_id"),
            F.col("r.users").alias("user_id"),
            F.col("r.vals").alias("value"),
        )
    )


def q_stream_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Efraimidis–Spirakis weighted sample (r13 prep,
    REGISTERED in r14 tier 1b with ``curation.ORACLE_WEIGHTED_SAMPLE``
    verbatim — the 27th streaming query). State is the per-source
    top-k by the rounded E–S key — the mergeable form of weighted
    sampling without replacement — so the retained sample equals the
    batch q_doc_weighted_sample rows regardless of micro-batch
    boundaries. Finalizer: max-n_seen emission per source, arrays
    exploded into the batch contract columns (es_key re-rounded to 6
    from the stored raw key, rk = position + 1 since state is kept in
    rank order)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .curation import _WS_TOP_K

    out = _materialize(
        S.weighted_sample_state(
            S.stream_documents(spark, sf_dir), k=_WS_TOP_K
        ),
        spark,
        "update",
    )
    w = Window.partitionBy("source").orderBy(F.desc("n_seen"))
    last = out.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    z = F.arrays_zip("ids", "chars", "raws")
    return (
        last.select("source", F.posexplode(z).alias("pos", "r"))
        .select(
            "source",
            F.col("r.ids").alias("doc_id"),
            F.col("r.chars").alias("n_chars"),
            F.round(F.col("r.raws"), 6).alias("es_key"),
            (F.col("pos") + 1).cast("long").alias("rk"),
        )
    )


QUERIES = {
    "stream_hourly_window": q_stream_hourly_window,
    "stream_simhash_dedup": q_stream_simhash_dedup,
    "stream_simhash_dedup_horizon": q_stream_simhash_dedup_horizon,
    "stream_ohlc_bars": q_stream_ohlc_bars,
    "stream_sliding_window": q_stream_sliding_window,
    "stream_session_windows": q_stream_session_windows,
    "stream_stateful_user_totals": q_stream_stateful_user_totals,
    "stream_dedup_watermark": q_stream_dedup_watermark,
    "stream_static_join": q_stream_static_join,
    "stream_stream_attribution": q_stream_stream_attribution,
    "stream_kmv_distinct": q_stream_kmv_distinct,
    "stream_cms_counts": q_stream_cms_counts,
    "stream_bloom_admit": q_stream_bloom_admit,
    "stream_gapfill_locf": q_stream_gapfill_locf,
    "stream_markov_transitions": q_stream_markov_transitions,
    "stream_m4_downsample": q_stream_m4_downsample,
    "stream_ab_test": q_stream_ab_test,
    "stream_cusum_changepoints": q_stream_cusum_changepoints,
    "stream_incremental_rollup": q_stream_incremental_rollup,
    "stream_window_funnel": q_stream_window_funnel,
    "stream_kmv_rolling_distinct": q_stream_kmv_rolling_distinct,
    "stream_lateness_profile": q_stream_lateness_profile,
    "stream_heavy_hitters": q_stream_heavy_hitters,
    "stream_hdr_quantiles": q_stream_hdr_quantiles,
    "stream_cdc_latest_state": q_stream_cdc_latest_state,
    "stream_reservoir_sample": q_stream_reservoir_sample,
    "stream_weighted_sample": q_stream_weighted_sample,
}

ORACLES = {
    "stream_hourly_window": ORACLE_HOURLY,
    "stream_simhash_dedup": ORACLE_STREAM_SIMHASH_DEDUP,
    "stream_simhash_dedup_horizon": ORACLE_STREAM_SIMHASH_HORIZON,
    "stream_ohlc_bars": ORACLE_OHLC,
    "stream_sliding_window": ORACLE_SLIDING,
    "stream_session_windows": ORACLE_SESSION,
    "stream_stateful_user_totals": ORACLE_STATEFUL,
    "stream_dedup_watermark": ORACLE_STREAM_DEDUP,
    "stream_static_join": ORACLE_STREAM_STATIC,
    "stream_stream_attribution": ORACLE_STREAM_STREAM,
    "stream_kmv_distinct": ORACLE_KMV,
    "stream_cms_counts": ORACLE_CMS,
    "stream_bloom_admit": ORACLE_BLOOM_ADMIT,
    "stream_gapfill_locf": ORACLE_GAPFILL,
    "stream_markov_transitions": ORACLE_MARKOV,
    "stream_m4_downsample": ORACLE_M4,
    "stream_ab_test": ORACLE_AB,
    "stream_cusum_changepoints": ORACLE_CUSUM,
    "stream_incremental_rollup": ORACLE_IVM,
    "stream_window_funnel": ORACLE_WINDOW_FUNNEL,
    "stream_kmv_rolling_distinct": ORACLE_KMV_ROLLING,
    "stream_lateness_profile": ORACLE_LATENESS,
    "stream_heavy_hitters": ORACLE_HEAVY_HITTERS,
    "stream_hdr_quantiles": ORACLE_HDR_QUANTILES,
    "stream_cdc_latest_state": ORACLE_CDC_LATEST,
    # the r14 registrations (r13 verdict #1): the streaming twins share
    # their batch twins' oracles VERBATIM — mergeable state (bottom-k /
    # per-source E–S top-k) makes the retained sample micro-batch-
    # boundary-invariant, so the batch SQL is the exact contract.
    "stream_reservoir_sample": ORACLE_RESERVOIR,
    "stream_weighted_sample": ORACLE_WEIGHTED_SAMPLE,
}
