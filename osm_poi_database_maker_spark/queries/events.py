"""Event-stream queries: the flagship POI-pipeline analogue + temporal ops.

``events.props`` (JSON text) plays the role of the reference's hstore tag
map; ``event_type``/tag values play the tag-of-interest dimension
(SURVEY.md §2.1 O3/O5/O6/O8/O11/O14). Temporal operators (tumbling /
sliding / session windows, as-of join) are the batch twins of the
streaming module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..ops.tags import hstore_literal, non_empty_tags, parse_json_tags, trim_tag_keys


def _tagged_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.withColumn("tags", parse_json_tags(F.col("props"))).filter(
        non_empty_tags(F.col("tags"))
    )


# --- flagship: the reference pipeline shape end-to-end ---------------------

def q_events_toi_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query — the reference's EP1 cascade re-expressed on events.

    parse props → drop empty tag maps (O3) → build a thresholded
    tag-of-interest dimension (top-50 tag values by global count, ties by
    value — reference O14's remote ORDER BY count DESC LIMIT k) →
    broadcast LEFT SEMI join so multi-key matches emit one row (O6,
    reference filter.py:199) → aggregate value stats per event_type.

    Scale: the dimension is tiny by construction (top-k of a distinct-value
    space), so the semi-join broadcasts; the only fact shuffle is the final
    group-by. The single-partition window is safe because its input is the
    already-aggregated distinct-value counts, not the fact table.
    """
    raw = load_table(spark, sf_dir, "events")
    # parse the JSON tag map ONCE: kv is lazily block-materialized
    # (localCheckpoint) because the optimizer pushes the semi-join below
    # a plain repartition barrier (PushDownLeftSemiAntiJoin), which would
    # leave the dimension build and the semi-join each re-parsing the
    # fact table — the dominant CPU at scale. The materialized form
    # (event_id, v) is far narrower than the raw JSON.
    kv = (
        raw.select("event_id", F.explode(parse_json_tags(F.col("props"))).alias("k", "v"))
        .select("event_id", "v")
        .repartition("event_id")
        .localCheckpoint(eager=False)
    )
    # top-k via sort+limit (TakeOrderedAndProject — distributed partial
    # top-k per partition, no single-partition window over the counts)
    counts = kv.groupBy("v").agg(F.count("*").alias("cnt"))
    dim = counts.orderBy(F.desc("cnt"), F.asc("v")).limit(50).select("v")
    kept = kv.join(F.broadcast(dim), "v", "left_semi").select("event_id").distinct()
    # the final aggregate never touches the JSON column: membership in
    # `kept` already implies a non-empty tag map (O3), so the fact side
    # is a column-pruned parquet scan of 4 plain columns
    return (
        raw.join(kept, "event_id", "left_semi")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


ORACLE_TOI = """
WITH e AS (
  SELECT * FROM events WHERE props IS NOT NULL AND props <> '{}'
),
kv AS (
  SELECT event_id, json_extract_string(props, '$."' || k || '"') AS v
  FROM (SELECT event_id, props, unnest(json_keys(props)) AS k FROM e)
),
counts AS (SELECT v, count(*) AS cnt FROM kv GROUP BY v),
dim AS (
  SELECT v FROM (
    SELECT v, row_number() OVER (ORDER BY cnt DESC, v ASC) AS rk FROM counts
  ) WHERE rk <= 50
),
kept AS (SELECT DISTINCT event_id FROM kv WHERE v IN (SELECT v FROM dim))
SELECT e.event_type,
       count(*) AS n_events,
       round(sum(e.value), 2) AS sum_value,
       round(avg(e.value), 4) AS avg_value,
       count(DISTINCT e.user_id) AS n_users
FROM e
WHERE e.event_id IN (SELECT event_id FROM kept)
GROUP BY e.event_type
"""


# --- O17: explode map to rows ----------------------------------------------

def q_events_tag_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode the tag map into (key, value) rows and count — the Spark
    twin of the reference's unnest PL/pgSQL UDTF (schema.sql:66-85)."""
    e = _tagged_events(spark, sf_dir)
    return (
        e.select(F.explode("tags").alias("tag_key", "tag_value"))
        .groupBy("tag_key", "tag_value")
        .agg(F.count("*").alias("n"))
    )


ORACLE_EXPLODE = """
SELECT k AS tag_key, json_extract_string(props, '$."' || k || '"') AS tag_value,
       count(*) AS n
FROM (SELECT props, unnest(json_keys(props)) AS k FROM events
      WHERE props IS NOT NULL AND props <> '{}')
GROUP BY 1, 2
"""


# --- O5: exclude-superset anti-filter --------------------------------------

def q_events_exclude_superset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop events whose tag map is a superset of any exclude tuple
    (reference filter.py:170-173; superset, not any-of), then count
    survivors per type. Exclude tuples: {k=5} and {k=7}."""
    from ..ops.tags import excluded_by_superset

    e = _tagged_events(spark, sf_dir)
    kept = e.filter(~excluded_by_superset(F.col("tags"), [("k=5",), ("k=7",)]))
    return kept.groupBy("event_type").agg(F.count("*").alias("n_kept"))


ORACLE_EXCLUDE = """
SELECT event_type, count(*) AS n_kept
FROM events
WHERE props IS NOT NULL AND props <> '{}'
  AND NOT coalesce(json_extract_string(props, '$.k') = '5', FALSE)
  AND NOT coalesce(json_extract_string(props, '$.k') = '7', FALSE)
GROUP BY event_type
"""


# --- O8 + O11: trim + hstore literal + timestamp projection ----------------

def q_events_hstore_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize the (trimmed) tag map to a PostgreSQL hstore literal and
    format the timestamp to seconds — the reference's output-row shape
    (filter.py:102-111 hstore, filter.py:147 strftime)."""
    e = _tagged_events(spark, sf_dir)
    trimmed = trim_tag_keys(F.col("tags"), ("note", "fixme"))
    return e.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("tstamp"),
        hstore_literal(trimmed).alias("tags_hstore"),
    )


ORACLE_HSTORE = r"""
SELECT event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS tstamp,
       list_aggregate(
         list_transform(
           list_sort(list_filter(json_keys(props), k -> k NOT IN ('note', 'fixme'))),
           k -> '"' ||
                replace(replace(regexp_replace(k, '[\n\r\t]', ' ', 'g'), '\', '\\'), '"', '\"')
                || '"=>"' ||
                replace(replace(regexp_replace(json_extract_string(props, '$."' || k || '"'),
                                               '[\n\r\t]', ' ', 'g'), '\', '\\'), '"', '\"')
                || '"'
         ),
         'string_agg', ','
       ) AS tags_hstore
FROM events
WHERE props IS NOT NULL AND props <> '{}'
"""


# --- temporal: tumbling window ---------------------------------------------

def q_events_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate (batch twin of the streaming
    windowed agg). Output window start as epoch micros for engine-stable
    hashing."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


ORACLE_HOURLY = """
SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


# --- temporal: sliding window ----------------------------------------------

def q_events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 1 hour wide, 15-minute slide — every event lands in
    4 windows (F.window's slideDuration)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "n_events",
        )
    )


ORACLE_SLIDING = """
SELECT epoch_us(time_bucket(INTERVAL 15 MINUTE, ts) - INTERVAL (o.off) MINUTE) AS window_start_us,
       count(*) AS n_events
FROM events, (SELECT unnest([0, 15, 30, 45]) AS off) o
GROUP BY 1
"""


# --- temporal: session windows ---------------------------------------------

def q_events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute gap via Spark's native
    ``session_window`` (batch mode). Two sessions merge iff event gap is
    strictly under the gap duration."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
            "sum_value",
        )
    )


ORACLE_SESSION = """
WITH d AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
s AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM d
)
SELECT user_id,
       epoch_us(min(ts)) AS session_start_us,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM s
GROUP BY user_id, session_id
"""


# --- temporal: as-of join ---------------------------------------------------

def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the same user's latest strictly
    earlier click. Spark lacks a native as-of join; the scale-correct
    formulation is a single shuffle on user_id + an ordered window over the
    unioned stream (no range cross-join blowup)."""
    e = load_table(spark, sf_dir, "events")
    tagged = e.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        # purchases sort before clicks at identical ts => strictly-earlier semantics
        F.when(F.col("event_type") == "click", F.lit(1)).otherwise(F.lit(0)).alias("kind_rank"),
    ).filter(F.col("event_type").isin("click", "purchase"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind_rank")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        tagged.withColumn("prev_click_ts", last_click)
        .filter((F.col("event_type") == "purchase") & F.col("prev_click_ts").isNotNull())
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.unix_micros("ts").alias("purchase_ts_us"),
            F.unix_micros("prev_click_ts").alias("click_ts_us"),
        )
    )


ORACLE_ASOF = """
SELECT p.event_id AS purchase_id,
       p.user_id,
       epoch_us(p.ts) AS purchase_ts_us,
       epoch_us(c.ts) AS click_ts_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND c.ts < p.ts
"""


def q_events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hour, day, and grand-total
    granularities in ONE pass via GROUPING SETS over pre-computed time
    buckets — one shuffle of grouping-id-tagged rows instead of three
    separate aggregations (the timescale rollup shape on Spark)."""
    e = load_table(spark, sf_dir, "events")
    e.select(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("h"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd HH:mm:ss").alias("d"),
        "value",
    ).createOrReplaceTempView("__events_tr")
    return spark.sql(
        """
        SELECT coalesce(h, 'ALL') AS bucket_hour,
               coalesce(d, 'ALL') AS bucket_day,
               count(*) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM __events_tr
        GROUP BY GROUPING SETS ((h, d), (d), ())
        """
    )


ORACLE_TIME_ROLLUP = """
WITH b AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS h,
         strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS d,
         value
  FROM events
)
SELECT coalesce(h, 'ALL') AS bucket_hour,
       coalesce(d, 'ALL') AS bucket_day,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM b
GROUP BY GROUPING SETS ((h, d), (d), ())
"""


def q_events_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gaps per user via the lag window function: for each
    user, the count of events and the average/maximum seconds between
    consecutive events (event_id breaks timestamp ties so the sequence
    is deterministic). One shuffle on user_id shared by the window and
    the subsequent aggregate."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)) / 1_000_000.0
    return (
        e.withColumn("gap_s", gap)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("gap_s"), 2).alias("avg_gap_s"),
            F.round(F.max("gap_s"), 2).alias("max_gap_s"),
        )
    )


ORACLE_GAP_STATS = """
WITH g AS (
  SELECT user_id,
         (epoch_us(ts) - lag(epoch_us(ts)) OVER (
            PARTITION BY user_id ORDER BY ts, event_id)) / 1000000.0 AS gap_s
  FROM events
)
SELECT user_id,
       count(*) AS n_events,
       round(avg(gap_s), 2) AS avg_gap_s,
       round(max(gap_s), 2) AS max_gap_s
FROM g
GROUP BY user_id
"""


def q_events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification + last-observation-carried-forward
    (the TimescaleDB ``time_bucket_gapfill``/``locf`` hypertable shape,
    which the reference's PostgreSQL tier would provide): per user,
    a contiguous daily date spine from first to last active day, the
    day's event count (0 on silent days), and the most recent observed
    value carried forward across the gaps.

    The day's closing value is ``max_by(value, event_id)`` — event_id
    is the unique ingestion sequence, so "last" is deterministic in
    both engines without relying on timestamp-tie luck. The spine is
    generated ARRAY-SIDE per user (``sequence(d0, d1)`` + explode), not
    via a driver-side calendar table or a cross join against a global
    spine: each user only densifies its own [first, last] range, so
    the row blow-up is bounded by user_span_days, and a 100 TB events
    table with 1e9 users never materializes a 1e9 × global-calendar
    cross product. Exchanges: one shuffle for the (user, day) rollup,
    one on user_id shared by the spine aggregation, the spine↔daily
    join, and the LOCF window (all three are user_id-keyed).
    """
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.count("*").alias("n"),
            F.max_by("value", "event_id").alias("day_close"),
        )
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select("user_id", F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .withColumn("locf_value", F.round(F.last("day_close", ignorenulls=True).over(w), 2))
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
            "locf_value",
        )
    )


ORACLE_GAPFILL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         count(*) AS n, arg_max(value, event_id) AS day_close
  FROM events GROUP BY 1, 2
),
spine AS (
  SELECT user_id,
         CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                     CAST(d1 AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1)
)
SELECT s.user_id, strftime(s.day, '%Y-%m-%d') AS day,
       coalesce(d.n, 0) AS n_events,
       round(last_value(d.day_close IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS locf_value
FROM spine s
LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day
"""


_SK_ACC = 10_000  # GK sketch accuracy: rank error ≤ n/accuracy (+1 for ties)
_SK_RSD = 0.02  # HLL++ relative standard deviation
_SK_BOUND = 4 * _SK_RSD  # gate at 4 sigma of the HLL contract


def q_events_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the 100 TB form of distinct counting and
    quantiles: approx_count_distinct (HyperLogLog++, fixed ~KB state,
    mergeable map-side) and approx_percentile (Greenwald-Khanna),
    HASH-GATED on their published error contracts (r10 verdict #3 —
    the events_hll_cardinality_audit / lineitem_approx_quantile_audit
    pattern, per-group instead of global): each event_type row carries
    the exact distinct count and exact p50/p95 (oracle-recomputed by
    DuckDB) plus three contract booleans — HLL within 4×rsd of exact,
    each GK answer's occupied rank interval [count(<)+1, count(<=)]
    intersecting its target rank ± n/accuracy+1 (tie-robust: a
    duplicated value occupies a rank RANGE, so the <=-count alone can
    overshoot by the tie multiplicity even when the sketch is in
    contract) —
    that the oracle asserts TRUE, so an estimator regression trips the
    driver's value-hash gate instead of hiding in a rows-only row.
    The sketch estimates themselves stay engine-side (engine-specific
    internals); the exact columns are the fixture-scale yardstick that
    a 100 TB run drops.

    Plan: the sketches + exact percentiles share one aggregate; the
    EXACT distinct count runs as its own two-step aggregate
    (pre-distinct on (type, user) then count) joined back on the 5-row
    group key — mixing a DISTINCT aggregate into the same agg as the
    object-aggregate percentiles forces Spark through an Expand +
    object-hash-aggregate fallback that benched 13× slower at sf0.1
    (re-measured r11; same finding as the r5 original). The rank check
    is one conditional-count pass over the fact with the 5-row group
    aggregate broadcast back — no sort, no window."""
    e = load_table(spark, sf_dir, "events")
    qs = F.array(F.lit(0.5), F.lit(0.95))
    agg = e.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.approx_count_distinct("user_id", _SK_RSD).alias("apx_users"),
        F.percentile("value", qs).alias("ex"),
        F.percentile_approx("value", qs, F.lit(_SK_ACC)).alias("apx"),
    )
    exact = (
        e.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("exact_users"))
    )
    agg = agg.join(exact, "event_type")
    ranks = (
        e.select("event_type", "value")
        .join(F.broadcast(agg), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("n_events").alias("n_events"),
            F.first("exact_users").alias("exact_users"),
            F.first("apx_users").alias("apx_users"),
            F.first("ex").alias("ex"),
            F.sum(
                (F.col("value") <= F.element_at("apx", 1)).cast("long")
            ).alias("r50_le"),
            F.sum(
                (F.col("value") < F.element_at("apx", 1)).cast("long")
            ).alias("r50_lt"),
            F.sum(
                (F.col("value") <= F.element_at("apx", 2)).cast("long")
            ).alias("r95_le"),
            F.sum(
                (F.col("value") < F.element_at("apx", 2)).cast("long")
            ).alias("r95_lt"),
        )
    )
    # Tie-robust rank gate (r11 advice #3): the returned value q̂
    # OCCUPIES the whole rank interval [count(< q̂)+1, count(<= q̂)] —
    # with duplicated values the <=-count alone can overshoot the
    # target by the tie multiplicity even when the sketch satisfies
    # its guarantee. Gate on the INTERVAL intersecting
    # [qn − tol, qn + tol]: lt+1 ≤ qn+tol AND le ≥ qn−tol. For
    # all-distinct values le = lt+1 and this reduces exactly to the
    # old |le − qn| ≤ tol form.
    rank_tol = F.col("n_events") / _SK_ACC + 1

    def within(lt: str, le: str, q: float):
        target = q * F.col("n_events")
        return (F.col(lt) + 1 <= target + rank_tol) & (
            F.col(le) >= target - rank_tol
        )

    return ranks.select(
        "event_type",
        "n_events",
        "exact_users",
        (
            F.abs(F.col("apx_users") - F.col("exact_users"))
            / F.col("exact_users")
            <= _SK_BOUND
        ).alias("users_within_bound"),
        F.round(F.element_at("ex", 1), 4).alias("p50_exact"),
        within("r50_lt", "r50_le", 0.5).alias("p50_within_rank_bound"),
        F.round(F.element_at("ex", 2), 4).alias("p95_exact"),
        within("r95_lt", "r95_le", 0.95).alias("p95_within_rank_bound"),
    )


ORACLE_SKETCH_STATS = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS users_within_bound,
       round(quantile_cont(value, 0.5), 4) AS p50_exact,
       TRUE AS p50_within_rank_bound,
       round(quantile_cont(value, 0.95), 4) AS p95_exact,
       TRUE AS p95_within_rank_bound
FROM events GROUP BY event_type
"""


_INCIDENT_WINDOW_US = 5 * 60 * 1_000_000  # error event opens a 5-minute window


def q_events_incident_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: every error event opens a 5-minute incident
    window; count the events of ANY user that fall inside each window.

    Spark has no native range join — a naive `a.ts BETWEEN b.t0 AND b.t1`
    is a BroadcastNestedLoopJoin (quadratic work at scale). The
    scale-correct formulation buckets time by the window length W: an
    interval of length W overlaps at most 2 buckets, so each error emits
    its window into 2 coarse buckets, events map to exactly 1, and the
    join becomes a bucket equi-join (shuffle-hash/broadcast, AQE's
    choice) followed by the exact range filter. Fan-out is bounded at 2×
    per incident regardless of data volume — the standard interval-join
    decomposition (same trick Spark's own stream-stream time-interval
    join applies internally).
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("us"), "user_id", "event_type"
    )
    w = F.lit(_INCIDENT_WINDOW_US)
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.col("us").alias("t0"),
        (F.col("us") + w).alias("t1"),
    )
    # each window spans bucket(t0) and bucket(t0)+1 (len == bucket width)
    windows = errors.withColumn(
        "bucket", F.explode(F.array((F.col("t0") / w).cast("long"),
                                    (F.col("t0") / w).cast("long") + 1))
    )
    hits = e.withColumn("bucket", (F.col("us") / w).cast("long")).join(
        windows, "bucket"
    ).filter((F.col("us") >= F.col("t0")) & (F.col("us") <= F.col("t1")))
    return (
        hits.groupBy("incident_id", "t0")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum((F.col("event_type") == "error").cast("long")).alias("n_errors"),
        )
        .select(
            "incident_id",
            F.col("t0").alias("t0_us"),
            "n_events",
            "n_users",
            "n_errors",
        )
    )


ORACLE_INCIDENTS = f"""
SELECT i.event_id AS incident_id,
       epoch_us(i.ts) AS t0_us,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
       CAST(sum(CASE WHEN e.event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_errors
FROM (SELECT * FROM events WHERE event_type = 'error') i
JOIN events e
  ON epoch_us(e.ts) >= epoch_us(i.ts)
 AND epoch_us(e.ts) <= epoch_us(i.ts) + {_INCIDENT_WINDOW_US}
GROUP BY 1, 2
"""


# --- multi-EXISTS decorrelation (TPC-H Q21 shape) ---------------------------

_MULTI_EXISTS_TOP_K = 25


def q_events_multi_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stranded-error leaderboard — the TPC-H Q21 decorrelation shape
    (two correlated subqueries, one EXISTS and one NOT EXISTS, on the
    SAME fact as the outer block) re-expressed over events: count each
    user's error events on days where the user ALSO clicked (EXISTS —
    they were engaged) but did NOT purchase (NOT EXISTS — the error
    plausibly cost a conversion); top-25 users by that count.

    Decorrelated plan (what a planner must do with Q21 to survive —
    reference analogue: PostgreSQL decorrelates the anti-join family in
    its schema.sql-backed workloads): both subqueries share the
    (user_id, day) correlation key, so they become ONE LEFT SEMI and ONE
    LEFT ANTI hash join chained on the same key. The click/purchase
    branches are event_type-pruned scans (predicate pushed to parquet);
    at tested SFs size-based planning BROADCASTS both, so the error
    branch reaches the final per-user count with zero shuffles; at 100 TB
    they exceed the threshold and the chain becomes two shuffle joins
    sharing the error side's single (user_id, day) exchange
    (ENSURE_REQUIREMENTS reuses it). No row ever duplicates (semi/anti
    emit at most one match per probe), no correlated re-execution.
    Top-k is TakeOrdered with the (count desc, user asc) deterministic
    tie-break in both engines."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.to_date("ts").alias("day")
    )
    err = e.filter(F.col("event_type") == "error").select("user_id", "day")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "day")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "day")
    stranded = err.join(clicks, ["user_id", "day"], "left_semi").join(
        purchases, ["user_id", "day"], "left_anti"
    )
    return (
        stranded.groupBy("user_id")
        .agg(F.count("*").alias("n_stranded_errors"))
        .orderBy(F.desc("n_stranded_errors"), F.asc("user_id"))
        .limit(_MULTI_EXISTS_TOP_K)
    )


# deliberately the LITERAL correlated form — DuckDB's own decorrelation
# must agree with the hand-decorrelated Spark plan
ORACLE_MULTI_EXISTS = f"""
WITH e AS (SELECT user_id, event_type, CAST(ts AS DATE) AS day FROM events)
SELECT user_id, count(*) AS n_stranded_errors
FROM e e1
WHERE e1.event_type = 'error'
  AND EXISTS (SELECT 1 FROM e e2
              WHERE e2.user_id = e1.user_id AND e2.day = e1.day
                AND e2.event_type = 'click')
  AND NOT EXISTS (SELECT 1 FROM e e3
                  WHERE e3.user_id = e1.user_id AND e3.day = e1.day
                    AND e3.event_type = 'purchase')
GROUP BY 1
ORDER BY 2 DESC, 1 ASC
LIMIT {_MULTI_EXISTS_TOP_K}
"""


# --- KMV distinct sketch (portable, oracle-checked) -------------------------

_KMV_K = 64


def q_events_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per event_type —
    the PORTABLE companion to events_sketch_stats' HLL sketches: the
    sketch is the K=64 smallest Lehmer-hash values of the distinct
    users, the estimate is (K−1)·M / h_K, and because the hash family
    is the repo's portable Lehmer construction the DuckDB oracle
    recomputes the IDENTICAL sketch and estimate — a distinct sketch
    with a cross-engine hash gate instead of a rows-only waiver. Each
    row carries the exact distinct and the relative error as in-band
    audit (same pattern as the ANN recall columns).

    Scale shape: the min-K reduction is two bounded window passes —
    per-(type, input partition) local top-K first (the global K minima
    are always a subset of the union of per-partition K minima, so the
    result is partitioning-invariant), then a global top-K over the
    ≤ K·P survivors — never a full sort of the distinct set; the
    sketch itself is mergeable, which is the whole point of KMV at
    100 TB (union sketches = K smallest of the concatenation). The
    Lehmer map is a bijection on [0, M), so distinct users never
    collide and ordering ties are impossible."""
    from pyspark.sql import Window

    from .curation import _lehmer_h

    M = (1 << 31) - 1
    e = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    # pmod-normalize the id into [0, M) BEFORE the *64 widen: a negative
    # or >2^57 id would otherwise make Spark's sign-of-dividend `%` (and
    # int64 wrap) diverge from the numpy fold in the streaming twin
    # (streaming.kmv_sketch_state). After pmod every term is nonnegative
    # and < 2^37, where Spark, DuckDB and numpy `%` all agree.
    du = e.distinct().withColumn(
        "h", _lehmer_h(F.pmod(F.col("user_id"), F.lit(M)) * 64)
    )
    local = Window.partitionBy(F.col("event_type"), F.spark_partition_id()).orderBy("h")
    survivors = du.withColumn("lrn", F.row_number().over(local)).filter(
        F.col("lrn") <= _KMV_K
    )
    glob = Window.partitionBy("event_type").orderBy("h")
    kmins = survivors.withColumn("rn", F.row_number().over(glob)).filter(
        F.col("rn") <= _KMV_K
    )
    km = kmins.groupBy("event_type").agg(
        F.count("*").alias("n_seen"), F.max("h").alias("hk")
    )
    return kmv_finalize(spark, sf_dir, km)


def kmv_finalize(spark: SparkSession, sf_dir: str, km: DataFrame) -> DataFrame:
    """THE KMV estimate/audit finalizer — single definition of the
    (K−1)·M/h_K estimator, the <K exact fallback, and the in-band
    rel_err audit, shared by the batch operator and the streaming twin
    (streaming.kmv_sketch_state → q_stream_kmv_distinct) so the
    batch-certifies-streaming contract can't diverge. ``km`` is one row
    per event_type with (n_seen, hk)."""
    M = (1 << 31) - 1
    e = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    est = F.round(
        F.when(F.col("n_seen") < _KMV_K, F.col("n_seen").cast("double")).otherwise(
            F.lit(float(_KMV_K - 1)) * M / F.col("hk")
        ),
        4,
    )
    return (
        exact.join(km, "event_type")
        .withColumn("kmv_estimate", est)
        .withColumn(
            "rel_err",
            F.round(
                F.abs(F.col("kmv_estimate") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                4,
            ),
        )
        .select("event_type", "exact_distinct", "kmv_estimate", "rel_err")
    )


def _kmv_oracle_sql() -> str:
    from .text import _LEHMER_A as A, _LEHMER_M as M

    return f"""
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
h AS (
  SELECT event_type,
         ((((user_id % {M} + {M}) % {M}) * 64 % {M}) * {A} % {M}) * {A} % {M} AS h
  FROM du
),
rk AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM h
),
km AS (
  SELECT event_type, count(*) AS n_seen, max(h) AS hk
  FROM rk WHERE rn <= {_KMV_K} GROUP BY 1
),
ex AS (
  SELECT event_type, count(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY 1
),
j AS (
  SELECT ex.event_type, ex.exact_distinct,
         round(CASE WHEN km.n_seen < {_KMV_K} THEN CAST(km.n_seen AS DOUBLE)
                    ELSE {float(_KMV_K - 1)} * {M} / km.hk END, 4) AS kmv_estimate
  FROM ex JOIN km USING (event_type)
)
SELECT event_type, exact_distinct, kmv_estimate,
       round(abs(kmv_estimate - exact_distinct) / exact_distinct, 4) AS rel_err
FROM j
"""


ORACLE_KMV = _kmv_oracle_sql()


# --- Count-Min Sketch heavy-hitter counts -----------------------------------

_CMS_D = 4  # sketch depth (independent hash rows)
_CMS_W = 256  # sketch width (counters per row)
_CMS_PROBE_MAX = 25  # probe batch: user_id < 25 (covers every fixture SF)
_CMS_SALT = 32  # decorrelates the CMS hash rows from KMV's user_id*64 use


def q_events_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch (Cormode–Muthukrishnan) frequency estimates for a
    probe batch of users — the third portable sketch family next to KMV
    (distinct counts) and the HLL stats: a D×W counter grid whose row
    hashes are the repo's Lehmer construction, so the DuckDB oracle
    rebuilds the IDENTICAL sketch and the driver hash-checks not just
    the estimates but the sketch's exact collision behavior. Every row
    carries the exact count and the overcount (CMS guarantees
    estimate ≥ exact; equality unless the user collides with others in
    ALL D rows) as the in-band audit.

    Scale shape: counts pre-aggregate per user FIRST (one map-side
    combining exchange — adding per-user totals into cells yields the
    same sketch as per-event increments, at |users| instead of |events|
    explode cost); the D×W grid aggregates to ≤ D·W rows and
    BROADCASTS to the probe join — at 100 TB the sketch is the thing
    you ship (D·W counters), never the key universe. The sketch is
    mergeable by cell-wise addition, which is the point of CMS in a
    distributed setting."""
    from .curation import _lehmer_h
    from .text import _LEHMER_M

    e = load_table(spark, sf_dir, "events").select("user_id")
    per_user = (
        e.groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    d_arr = F.array(*[F.lit(d) for d in range(_CMS_D)])
    cell = (
        _lehmer_h(
            F.pmod(F.col("user_id"), F.lit(_LEHMER_M)) * 64 + _CMS_SALT + F.col("d")
        )
        % _CMS_W
    )
    cells = (
        per_user.select("user_id", "cnt", F.explode(d_arr).alias("d"))
        .select("d", cell.alias("cell"), "cnt")
        .groupBy("d", "cell")
        .agg(F.sum("cnt").alias("cell_total"))
    )
    return cms_finalize(spark, sf_dir, cells, per_user=per_user)


def cms_finalize(
    spark: SparkSession, sf_dir: str, cells: DataFrame, per_user: DataFrame | None = None
) -> DataFrame:
    """THE CMS probe/audit finalizer — single definition of the probe
    join, min-over-rows estimate, and exact/overcount audit, shared by
    the batch operator and the streaming twin (streaming.cms_sketch_state
    → q_stream_cms_counts) so the batch-certifies-streaming contract
    can't diverge. ``cells`` is the sketch: (d, cell, cell_total) rows,
    ≤ D·W of them, broadcast to the probe join. ``per_user`` lets the
    batch caller share its checkpointed per-user rollup; the streaming
    caller leaves it None and the exact audit is recomputed here."""
    from .curation import _lehmer_h
    from .text import _LEHMER_M

    if per_user is None:
        per_user = (
            load_table(spark, sf_dir, "events")
            .select("user_id")
            .groupBy("user_id")
            .agg(F.count("*").alias("cnt"))
        )
    d_arr = F.array(*[F.lit(d) for d in range(_CMS_D)])
    cell = (
        _lehmer_h(
            F.pmod(F.col("user_id"), F.lit(_LEHMER_M)) * 64 + _CMS_SALT + F.col("d")
        )
        % _CMS_W
    )
    probes = (
        per_user.filter(F.col("user_id") < _CMS_PROBE_MAX)
        .select(
            "user_id",
            F.col("cnt").alias("exact_count"),
            F.explode(d_arr).alias("d"),
        )
        .select("user_id", "exact_count", "d", cell.alias("cell"))
    )
    return (
        probes.join(F.broadcast(cells), ["d", "cell"])
        .groupBy("user_id", "exact_count")
        .agg(F.min("cell_total").alias("cms_estimate"))
        .select(
            "user_id",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).alias("overcount"),
        )
        # no trailing orderBy (order-insensitive hash; sort = wasted exchange)
    )


def _cms_oracle_sql() -> str:
    from .text import _LEHMER_A as A, _LEHMER_M as M

    return f"""
WITH per_user AS (
  SELECT user_id, count(*) AS cnt FROM events GROUP BY 1
),
dd AS (SELECT unnest(range({_CMS_D})) AS d),
cells AS (
  SELECT d,
         ((((user_id % {M} + {M}) % {M}) * 64 + {_CMS_SALT} + d) % {M}) * {A} % {M} * {A} % {M}
           % {_CMS_W} AS cell,
         CAST(sum(cnt) AS BIGINT) AS cell_total
  FROM per_user CROSS JOIN dd
  GROUP BY 1, 2
),
probes AS (
  SELECT user_id, cnt AS exact_count, d,
         ((((user_id % {M} + {M}) % {M}) * 64 + {_CMS_SALT} + d) % {M}) * {A} % {M} * {A} % {M}
           % {_CMS_W} AS cell
  FROM per_user CROSS JOIN dd
  WHERE user_id < {_CMS_PROBE_MAX}
)
SELECT p.user_id, p.exact_count,
       CAST(min(c.cell_total) AS BIGINT) AS cms_estimate,
       CAST(min(c.cell_total) - p.exact_count AS BIGINT) AS overcount
FROM probes p JOIN cells c ON p.d = c.d AND p.cell = c.cell
GROUP BY 1, 2
ORDER BY user_id
"""


ORACLE_CMS = _cms_oracle_sql()


# --- variable-length interval overlap join (session concurrency) -----------

_OVL_GAP_US = 1_800_000_000  # session gap: 30 minutes
_OVL_BUCKET_US = 3_600_000_000  # overlap-join grid: 1 hour


def _rank_against(
    markers: DataFrame,
    queries: DataFrame,
    inclusive: bool,
    memo_key: tuple[str, str] | None = None,
) -> DataFrame:
    """For every query row, the COUNT of marker values ≤ v (inclusive)
    or < v (strict) — a distributed order-statistics sweep, no pair
    join: markers (weight 1) and queries (weight 0) merge into one
    stream bucketed by the deterministic literal range id
    (:func:`~.curation._range_pid`), a per-bucket cumulative weight sum
    runs in parallel, and a |buckets|-row running-offset broadcast
    lifts local sums to global counts. Tie rule rides the sort: at
    equal v, markers order before queries for ≤ and after them for <.
    One shuffle of |markers|+|queries| skinny rows; linear at any scale.
    """
    from pyspark.sql import Window

    from .curation import _range_pid

    mk = markers.select(
        "v",
        F.lit(1).alias("w"),
        F.lit(None).cast("long").alias("user_id"),
        F.lit(None).cast("long").alias("sid"),
        F.lit(0 if inclusive else 1).alias("kind"),
    )
    qr = queries.select(
        "v",
        F.lit(0).alias("w"),
        "user_id",
        "sid",
        F.lit(1 if inclusive else 0).alias("kind"),
    )
    u = _range_pid(mk.unionByName(qr), ["v"], memo_key=memo_key)
    w_local = Window.partitionBy("pid").orderBy("v", "kind", "user_id", "sid")
    local = u.withColumn(
        "cum", F.sum("w").over(w_local.rowsBetween(Window.unboundedPreceding, 0))
    )
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        u.groupBy("pid")
        .agg(F.sum("w").alias("n"))
        .withColumn("off", F.coalesce(F.sum("n").over(w_off), F.lit(0)))
        .select("pid", "off")
    )
    return (
        local.filter(F.col("w") == 0)
        .join(F.broadcast(offsets), "pid")
        .select("user_id", "sid", (F.col("off") + F.col("cum")).alias("cnt"))
    )


def q_events_session_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrency analysis — for each per-user activity session
    (30-minute-gap island), how many OTHER users' sessions ran
    concurrently with it (t0_a ≤ t1_b ∧ t0_b ≤ t1_a).

    Plan (r14 rewrite): the answer is a COUNT, so no pair is ever
    materialized — the sweep-line identity
    ``n_concurrent = |{t0 ≤ t1_s}| − |{t1 < t0_s}| − 1`` turns the
    interval join into two order-statistics sweeps (:func:`_rank_against`,
    linear, bucketed prefix sums). The identity is exact because
    same-user sessions are >30-min-gap-separated by construction and can
    never overlap, so the only same-user member of the overlap set is
    the session itself (the −1). The former bucket-decomposed pair join
    (grid explode + bucket equi-join + distinct) materialized
    Θ(peak-concurrency²) candidates — measured 270 s at the sf1.0
    replica where 10× users share one wall-clock span vs ~linear for
    this form; the DuckDB oracle still computes the literal pair join
    (IEJoin), keeping the two engines algorithm-independent.

    Determinism: session boundaries depend only on the sorted micros
    sequence per user (gap > 30 min opens a new island; the cumulative
    flag sum runs over the (us, event_id) total order so equal
    timestamps can't make island ids engine-ambiguous)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us"), "event_id"
    )
    wo = Window.partitionBy("user_id").orderBy("us", "event_id")
    brk = (
        (F.col("us") - F.lag("us").over(wo) > _OVL_GAP_US)
        .cast("long")
    )
    sess = (
        e.withColumn("brk", F.coalesce(brk, F.lit(0)))
        .withColumn(
            "sid",
            F.sum("brk").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min("us").alias("t0"),
            F.max("us").alias("t1"),
            F.count("*").alias("n_events"),
        )
        .localCheckpoint(eager=False)
    )
    # starts ≤ t1_s (inclusive) minus ends < t0_s (strict) minus self
    # both sweeps share "events.session_bounds": each buckets every
    # session's t0 and t1 (markers ∪ queries), the same multiset
    memo_key = (sf_dir, "events.session_bounds")
    a = _rank_against(
        sess.select(F.col("t0").alias("v")),
        sess.select("user_id", "sid", F.col("t1").alias("v")),
        inclusive=True,
        memo_key=memo_key,
    ).withColumnRenamed("cnt", "n_start_le")
    b = _rank_against(
        sess.select(F.col("t1").alias("v")),
        sess.select("user_id", "sid", F.col("t0").alias("v")),
        inclusive=False,
        memo_key=memo_key,
    ).withColumnRenamed("cnt", "n_end_lt")
    return (
        sess.join(a, ["user_id", "sid"])
        .join(b, ["user_id", "sid"])
        .select(
            "user_id",
            F.col("t0").alias("session_t0_us"),
            "n_events",
            (F.col("n_start_le") - F.col("n_end_lt") - 1)
            .cast("long")
            .alias("n_concurrent"),
        )
    )


ORACLE_SESSION_OVERLAP = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_id FROM events
),
o AS (
  SELECT user_id, us, event_id,
         CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                   > {_OVL_GAP_US} THEN 1 ELSE 0 END AS brk
  FROM e
),
si AS (
  SELECT user_id, us,
         sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM o
),
sess AS (
  SELECT user_id, sid, min(us) AS t0, max(us) AS t1, count(*) AS n_events
  FROM si GROUP BY 1, 2
),
ovl AS (
  SELECT a.user_id, a.sid, count(*) AS n_concurrent
  FROM sess a JOIN sess b
    ON a.user_id <> b.user_id AND a.t0 <= b.t1 AND b.t0 <= a.t1
  GROUP BY 1, 2
)
SELECT s.user_id, s.t0 AS session_t0_us, s.n_events,
       coalesce(o.n_concurrent, 0) AS n_concurrent
FROM sess s LEFT JOIN ovl o ON o.user_id = s.user_id AND o.sid = s.sid
"""


# --- Bloom admit-once filter (test-then-insert stream gate) -----------------

_ADMIT_MBITS = 1024  # Bloom bits per event_type filter (m/64 = 16 longs state)
_ADMIT_K = 4  # bit positions per user id
_ADMIT_SALT = 96  # decorrelates from CMS's salt+d ∈ [32,36) and KMV's 0


def q_events_bloom_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom admit-once gate — the approximate first-occurrence filter a
    training-data ingest runs in front of expensive downstream work:
    each arriving event tests its user's k bit positions against a
    per-event_type Bloom filter and is ADMITTED iff any bit is unset
    (then sets them). Repeat users are always rejected; a brand-new
    user is falsely rejected only when all k of its bits were set by
    earlier users — the one-sided error, carried in-band as
    ``n_fp_rejected`` (exact distinct − admitted, computed beside the
    sketch at fixture scale; at 100 TB it is what the filter avoids).

    "Earlier" is defined by event_id — the unique ingestion sequence —
    so the fold is deterministic: an event is admitted iff one of its
    bits' FIRST setter (min event_id over all events hashing there) is
    the event itself. That reformulation turns the sequential
    test-then-insert fold into two relational passes, which is what
    makes it both distributable and oracle-checkable:

    * build: explode k bit positions per event (pmod-normalized Lehmer
      fold, same family as CMS/KMV), aggregate min(event_id) per
      (event_type, bit) — map-side partial min, output ≤ types·m rows;
    * probe: collapse each type's first-setter table into ONE row
      holding an m-slot array (the Bloom bitmask pattern measured 9 s →
      2 s on doc_bloom_decontaminate), broadcast it, and test each
      event's k bits INLINE — no explode, no shuffle on the probe side.

    State/broadcast is m/64·8 bytes per event_type FOREVER regardless
    of user cardinality — the reason to run a Bloom gate instead of an
    exact distinct-set at 100 TB. The streaming twin
    (streaming.bloom_admit_state → q_stream_bloom_admit) folds the same
    bits through applyInPandasWithState and shares this finalizer and
    oracle."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "user_id"
    )
    admits = _bloom_admit_counts(ev)
    return bloom_admit_finalize(spark, sf_dir, admits)


def _bloom_admit_counts(ev: DataFrame) -> DataFrame:
    """(event_type, n_events, n_admitted) via the two relational passes."""
    from .text import _LEHMER_A, _LEHMER_M

    j_arr = F.array(*[F.lit(j) for j in range(_ADMIT_K)])
    bitpos = (
        (F.pmod(F.col("user_id"), F.lit(_LEHMER_M)) * 64 + _ADMIT_SALT + F.col("j"))
        % _LEHMER_M
        * _LEHMER_A
        % _LEHMER_M
        * _LEHMER_A
        % _LEHMER_M
        % _ADMIT_MBITS
    )
    first_set = (
        ev.select("event_type", "event_id", F.explode(j_arr).alias("j"), "user_id")
        .select("event_type", "event_id", bitpos.alias("bit"))
        .groupBy("event_type", "bit")
        .agg(F.min("event_id").alias("first_eid"))
    )
    # one row per event_type: array slot bit+1 → first-setter event_id
    fs_row = (
        first_set.groupBy("event_type")
        .agg(F.map_from_entries(F.collect_list(F.struct("bit", "first_eid"))).alias("fm"))
        .select(
            "event_type",
            F.expr(
                f"transform(sequence(0, {_ADMIT_MBITS - 1}),"
                " i -> coalesce(element_at(fm, CAST(i AS BIGINT)), CAST(-1 AS BIGINT)))"
            ).alias("fs"),
        )
    )
    m, a = _LEHMER_M, _LEHMER_A
    bit_sql = (
        f"((pmod(user_id, {m}) * 64 + {_ADMIT_SALT} + j) % {m})"
        f" * {a} % {m} * {a} % {m} % {_ADMIT_MBITS}"
    )
    admitted = F.expr(
        f"exists(sequence(0, {_ADMIT_K - 1}),"
        f" j -> element_at(fs, CAST(({bit_sql}) AS INT) + 1) = event_id)"
    )
    return (
        ev.join(F.broadcast(fs_row), "event_type")
        .withColumn("adm", admitted.cast("long"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"), F.sum("adm").alias("n_admitted"))
    )


def bloom_admit_finalize(
    spark: SparkSession, sf_dir: str, admits: DataFrame
) -> DataFrame:
    """THE Bloom-admit audit finalizer — single definition of the exact
    distinct-user audit and false-positive column, shared by the batch
    operator and the streaming twin so the batch-certifies-streaming
    contract can't diverge. ``admits`` is (event_type, n_events,
    n_admitted) however the caller derived it."""
    exact = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count("*").alias("n_distinct_users"))
    )
    return (
        admits.join(exact, "event_type")
        .select(
            "event_type",
            "n_events",
            "n_admitted",
            "n_distinct_users",
            (F.col("n_distinct_users") - F.col("n_admitted")).alias("n_fp_rejected"),
        )
        # no trailing orderBy (order-insensitive hash; sort = wasted exchange)
    )


def _bloom_admit_oracle_sql() -> str:
    from .text import _LEHMER_A as A, _LEHMER_M as M

    return f"""
WITH bits AS (
  SELECT event_type, event_id,
         ((((user_id % {M} + {M}) % {M}) * 64 + {_ADMIT_SALT} + j) % {M})
           * {A} % {M} * {A} % {M} % {_ADMIT_MBITS} AS bit
  FROM events CROSS JOIN (SELECT unnest(range({_ADMIT_K})) AS j)
),
fs AS (
  SELECT event_type, bit, min(event_id) AS first_eid
  FROM bits GROUP BY 1, 2
),
adm AS (
  SELECT b.event_type, b.event_id,
         max(CASE WHEN f.first_eid = b.event_id THEN 1 ELSE 0 END) AS admitted
  FROM bits b JOIN fs f ON f.event_type = b.event_type AND f.bit = b.bit
  GROUP BY 1, 2
),
per_type AS (
  SELECT event_type, count(*) AS n_events,
         CAST(sum(admitted) AS BIGINT) AS n_admitted
  FROM adm GROUP BY 1
),
ex AS (
  SELECT event_type, count(DISTINCT user_id) AS n_distinct_users
  FROM events GROUP BY 1
)
SELECT p.event_type, p.n_events, p.n_admitted, e.n_distinct_users,
       e.n_distinct_users - p.n_admitted AS n_fp_rejected
FROM per_type p JOIN ex e USING (event_type)
ORDER BY p.event_type
"""


ORACLE_BLOOM_ADMIT = _bloom_admit_oracle_sql()


# --- OHLC bars (ordered aggregates) -----------------------------------------

# lpad'd decimal strings only sort numerically for NON-NEGATIVE inputs
# ('-' sorts below digits, and larger-magnitude negatives sort later);
# shifting both halves by 2^62 keeps every plausible input positive
# (micros |x| < 2^51 for any real-world date; ids assumed > -2^62) so the
# padded concatenation is order-preserving in both engines.
_OHLC_SHIFT = 1 << 62


def ohlc_ordering_key() -> F.Column:
    """THE chronological ordering key for min_by/max_by open/close —
    single definition shared by the batch operator, the streaming twin
    (streaming.ohlc_bars) and mirrored in ORACLE_OHLC, so the
    batch-certifies-streaming contract can't silently diverge."""
    return F.concat(
        F.lpad((F.unix_micros("ts") + F.lit(_OHLC_SHIFT)).cast("string"), 20, "0"),
        F.lpad((F.col("event_id") + F.lit(_OHLC_SHIFT)).cast("string"), 20, "0"),
    )


def ohlc_aggregates() -> list:
    """The six OHLC aggregate expressions, shared batch/streaming."""
    key = ohlc_ordering_key()
    return [
        F.round(F.min_by("value", key), 2).alias("open"),
        F.round(F.max("value"), 2).alias("high"),
        F.round(F.min("value"), 2).alias("low"),
        F.round(F.max_by("value", key), 2).alias("close"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("volume"),
    ]


def q_events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type — the resample-to-bars shape every
    metering/finance pipeline runs: open/close are the values of the
    chronologically first/last event in the bar, high/low the extremes,
    plus volume. Exercises the ORDERED aggregates (``min_by``/``max_by``
    ↔ DuckDB ``arg_min``/``arg_max``) the rest of the registry reaches
    for windows to get.

    Deterministic ordering without a window: the ordering key is the
    zero-padded string (2^62-shifted micros ‖ 2^62-shifted event_id) —
    unique (event_id is) and order-preserving for any real-world input
    incl. pre-1970 timestamps and negative ids (see _OHLC_SHIFT), so
    first/last are well-defined and identical across engines even on
    equal timestamps. ONE map-side-combining aggregate per (type, hour)
    — no per-bar window, no second exchange; min_by/max_by partials
    merge like any min, which is why this shape beats row_number at
    100 TB."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias("bar"),
    ).agg(*ohlc_aggregates())


_OHLC_KEY_SQL = f"""lpad(CAST(epoch_us(ts) + {_OHLC_SHIFT} AS VARCHAR), 20, '0')
                            || lpad(CAST(event_id + {_OHLC_SHIFT} AS VARCHAR), 20, '0')"""

ORACLE_OHLC = f"""
SELECT event_type,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS bar,
       round(arg_min(value, {_OHLC_KEY_SQL}), 2) AS open,
       round(max(value), 2) AS high,
       round(min(value), 2) AS low,
       round(arg_max(value, {_OHLC_KEY_SQL}), 2) AS close,
       count(*) AS n_events,
       round(sum(value), 2) AS volume
FROM events
GROUP BY 1, 2
"""


def q_events_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 time-series downsampling (Jugel et al., VLDB 2014): per
    (series, hour bucket), the four pixel-defining points — first, last,
    min-value, max-value — the error-free downsampling a charting
    frontend needs so a 100 TB series renders from |buckets|·4 points
    with no visual difference from the raw data.

    Each role is a deterministic argmin/argmax: first/last by
    (ts, event_id), min/max by (value, event_id) — four row_number
    rankings sharing ONE (event_type, bucket) partition, so the plan is
    a single hash-exchange followed by in-partition sorts (no
    per-role re-shuffle), then a 4-way role filter union'd row-wise.
    Emission is one row per (bucket, role) with the role's point —
    buckets with a single event legitimately emit the same point under
    all four roles, exactly as M4 defines."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        (F.floor(F.unix_micros("ts") / 3_600_000_000) * 3600).alias("bucket_start_s"),
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "value",
    )
    part = ["event_type", "bucket_start_s"]
    w_first = Window.partitionBy(*part).orderBy(F.asc("ts_us"), F.asc("event_id"))
    w_last = Window.partitionBy(*part).orderBy(F.desc("ts_us"), F.desc("event_id"))
    w_min = Window.partitionBy(*part).orderBy(F.asc("value"), F.asc("event_id"))
    w_max = Window.partitionBy(*part).orderBy(F.desc("value"), F.asc("event_id"))
    ranked = (
        base.withColumn("rn_first", F.row_number().over(w_first))
        .withColumn("rn_last", F.row_number().over(w_last))
        .withColumn("rn_min", F.row_number().over(w_min))
        .withColumn("rn_max", F.row_number().over(w_max))
    )
    roles = F.concat(
        F.when(F.col("rn_first") == 1, F.array(F.lit("first"))).otherwise(F.array()),
        F.when(F.col("rn_last") == 1, F.array(F.lit("last"))).otherwise(F.array()),
        F.when(F.col("rn_min") == 1, F.array(F.lit("min"))).otherwise(F.array()),
        F.when(F.col("rn_max") == 1, F.array(F.lit("max"))).otherwise(F.array()),
    )
    return (
        ranked.withColumn("role", F.explode(roles))
        .select(
            "event_type",
            "bucket_start_s",
            "role",
            "ts_us",
            F.round("value", 2).alias("value"),
        )
    )


ORACLE_M4 = """
WITH base AS (
  SELECT event_type,
         CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) * 3600
           AS bucket_start_s,
         epoch_us(ts) AS ts_us, event_id, value
  FROM events
),
ranked AS (
  SELECT *,
    row_number() OVER (PARTITION BY event_type, bucket_start_s
                       ORDER BY ts_us ASC, event_id ASC) AS rn_first,
    row_number() OVER (PARTITION BY event_type, bucket_start_s
                       ORDER BY ts_us DESC, event_id DESC) AS rn_last,
    row_number() OVER (PARTITION BY event_type, bucket_start_s
                       ORDER BY value ASC, event_id ASC) AS rn_min,
    row_number() OVER (PARTITION BY event_type, bucket_start_s
                       ORDER BY value DESC, event_id ASC) AS rn_max
  FROM base
)
SELECT event_type, bucket_start_s, 'first' AS role, ts_us,
       round(value, 2) AS value FROM ranked WHERE rn_first = 1
UNION ALL
SELECT event_type, bucket_start_s, 'last', ts_us, round(value, 2)
FROM ranked WHERE rn_last = 1
UNION ALL
SELECT event_type, bucket_start_s, 'min', ts_us, round(value, 2)
FROM ranked WHERE rn_min = 1
UNION ALL
SELECT event_type, bucket_start_s, 'max', ts_us, round(value, 2)
FROM ranked WHERE rn_max = 1
"""


def q_events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of ``value`` per event type — the
    TimescaleDB ``time_weight('LOCF', ...)`` hypertable aggregate the
    reference's PostgreSQL tier would supply: each observation holds its
    value until the user's next event, so the mean is weighted by
    holding duration, not by sample count (a sensor that reports once an
    hour and once a second averages the same).

    Exactness contract: values go fixed-point (round(v·100) cents, the
    portable pattern) and durations are integer seconds, so the weighted
    sum is an exact int64 reduction in both engines — the single final
    division rounds to 6. The last observation of each user has no
    successor and is dropped (the open interval carries no weight),
    matching the LOCF integral over the observed span. ``event_id``
    breaks timestamp ties deterministically; tied events contribute
    zero-duration intervals.

    One shuffle on ``user_id`` for the lead window, then a tiny
    per-event-type aggregate with map-side partials — the shape survives
    100 TB because state per user is one row of lookahead, and the
    weighted sum composes associatively."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = F.round(F.col("value") * 100).cast("long")
    dur = (
        F.lead(F.col("ts").cast("long")).over(w) - F.col("ts").cast("long")
    ).alias("dur")
    held = (
        e.select("user_id", "ts", "event_id", "event_type", cents.alias("cents"))
        .withColumn("dur", dur)
        .filter(F.col("dur").isNotNull())
    )
    return held.groupBy("event_type").agg(
        F.count("*").alias("n_intervals"),
        F.sum("dur").alias("held_seconds"),
        # Σ(cents·dur) in decimal(38,0): value-cents × multi-year second
        # gaps × per-type interval count breaches 2⁶³ near sf100
        # (SCALE.md §int64); the quotient is double-rounded anyway
        F.round(
            F.sum(
                F.col("cents").cast("decimal(19,0)")
                * F.col("dur").cast("decimal(19,0)")
            ).cast("double")
            / (F.lit(100.0) * F.sum("dur")),
            6,
        ).alias("time_weighted_avg"),
    )


ORACLE_TWA = """
WITH held AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS cents,
         date_diff('second', ts,
                   lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           AS dur
  FROM events
)
SELECT event_type,
       count(*) AS n_intervals,
       CAST(sum(dur) AS BIGINT) AS held_seconds,
       round(CAST(sum(cents * dur) AS DOUBLE) / (100.0 * sum(dur)), 6)
         AS time_weighted_avg
FROM held
WHERE dur IS NOT NULL
GROUP BY event_type
"""



_XCORR_MAX_LAG = 3


def q_events_lead_lag_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation matrix between event-type time series:
    Pearson corr of hourly volumes for every ordered (driver, follower)
    type pair at lags 0..3 hours — "do purchases follow clicks an hour
    later?" — the cross-correlation-function sweep a causal-signal hunt
    runs before any model. Self-pairs at lag ≥ 1 are the series'
    autocorrelations.

    Aggregate-then-window again: the raw stream collapses to (type,
    hour) counts first, both series are densified onto ONE shared
    global hour spine (array-side sequence over the 2-value min/max
    row — zero-filled silent hours keep the correlation honest; an
    inner join of sparse series would silently condition on "both
    active"), the lag shift is an equi-join on the shifted hour index,
    and the Pearson r partial-aggregates map-side. A 1000× event volume
    changes only the first aggregate; the sweep itself is
    |types|² × |lags| × |hours| on counts.

    Exactness discipline (r8): r is derived from exact INTEGER
    sufficient statistics (m, Σa, Σb, Σab, Σa², Σb² over integer hourly
    counts) — never F.corr/corr(), whose double partial-aggregation
    order differs between engines and can flip a rounded 4th decimal on
    a 0.00005 boundary. The combination terms (m·Σab − Σa·Σb etc.) are
    computed in decimal(38,0) so no product can overflow int64 at any
    SF; the single final double division/sqrt is bit-identical in both
    engines because its inputs are the same exact integers."""
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / 3_600_000_000).alias("hi"),
    ).agg(F.count("*").alias("n"))
    rng = counts.groupBy().agg(F.min("hi").alias("h0"), F.max("hi").alias("h1"))
    grid = (
        counts.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(rng))
        .select("event_type", F.explode(F.sequence("h0", "h1")).alias("hi"))
    )
    hourly = grid.join(counts, ["event_type", "hi"], "left").select(
        "event_type", "hi", F.coalesce("n", F.lit(0)).cast("long").alias("n")
    )
    lags = F.array(*[F.lit(i) for i in range(_XCORR_MAX_LAG + 1)])
    a = hourly.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("n_a"),
        F.col("hi").alias("hi_a"),
        F.explode(lags).alias("lag_hours"),
    ).withColumn("hi_b", F.col("hi_a") + F.col("lag_hours"))
    b = hourly.select(
        F.col("event_type").alias("type_b"),
        F.col("hi").alias("hi_b"),
        F.col("n").alias("n_b"),
    )
    stats = (
        a.join(b, "hi_b")
        .groupBy("type_a", "type_b", "lag_hours")
        .agg(
            F.count("*").alias("m"),
            F.sum("n_a").alias("sa"),
            F.sum("n_b").alias("sb"),
            F.sum(F.col("n_a") * F.col("n_b")).alias("sab"),
            F.sum(F.col("n_a") * F.col("n_a")).alias("saa"),
            F.sum(F.col("n_b") * F.col("n_b")).alias("sbb"),
        )
    )
    d = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    num = d("m") * d("sab") - d("sa") * d("sb")
    var_a = d("m") * d("saa") - d("sa") * d("sa")
    var_b = d("m") * d("sbb") - d("sb") * d("sb")
    den = F.sqrt(var_a.cast("double") * var_b.cast("double"))
    return stats.select(
        "type_a",
        "type_b",
        "lag_hours",
        F.col("m").alias("n_hours"),
        F.round(num.cast("double") / F.nullif(den, F.lit(0.0)), 4).alias("xcorr"),
    )


ORACLE_XCORR = f"""
WITH counts AS (
  SELECT event_type,
         CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS hi,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
rng AS (SELECT min(hi) AS h0, max(hi) AS h1 FROM counts),
grid AS (
  SELECT t.event_type, s.hi
  FROM (SELECT DISTINCT event_type FROM counts) t
  CROSS JOIN (SELECT unnest(range(h0, h1 + 1)) AS hi FROM rng) s
),
hourly AS (
  SELECT g.event_type, g.hi, CAST(coalesce(c.n, 0) AS BIGINT) AS n
  FROM grid g LEFT JOIN counts c
    ON c.event_type = g.event_type AND c.hi = g.hi
),
stats AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag_hours,
         CAST(count(*) AS HUGEINT) AS m,
         CAST(sum(a.n) AS HUGEINT) AS sa,
         CAST(sum(b.n) AS HUGEINT) AS sb,
         CAST(sum(a.n * b.n) AS HUGEINT) AS sab,
         CAST(sum(a.n * a.n) AS HUGEINT) AS saa,
         CAST(sum(b.n * b.n) AS HUGEINT) AS sbb
  FROM hourly a
  CROSS JOIN (SELECT unnest(range({_XCORR_MAX_LAG} + 1)) AS lag_hours) l
  JOIN hourly b ON b.hi = a.hi + l.lag_hours
  GROUP BY 1, 2, 3
)
SELECT type_a, type_b, lag_hours, CAST(m AS BIGINT) AS n_hours,
       round(CAST(m * sab - sa * sb AS DOUBLE)
             / nullif(sqrt(CAST(m * saa - sa * sa AS DOUBLE)
                           * CAST(m * sbb - sb * sb AS DOUBLE)), 0.0),
             4) AS xcorr
FROM stats
"""



_CUSUM_K_SD = 0.5   # allowance (slack) in sd units
_CUSUM_H_SD = 4.0   # decision threshold in sd units


def q_events_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection over each type's zero-filled hourly
    volume series — the classic s_t = max(0, s_{t-1} + (x_t - mu - k))
    drift detector, made distributable by the prefix-sum identity
    s_t = S_t - min(0, min_{j<=t} S_j): the RECURSION disappears into
    two window functions (a running sum and a running min) over the
    same (type, hour) sort, so Spark runs one exchange + one sort per
    type instead of a sequential fold. Upside and downside detectors
    share the sort; rows where either side's statistic clears the
    4-sigma decision interval are emitted with their direction.

    Cross-engine exactness by construction: mu and sd come from exact
    INTEGER sums (sum x, sum x^2 over counts), so both engines derive
    bit-identical doubles, and the prefix sums fold in the identical
    hour order — no rounding-tolerance games at the threshold."""
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / 3_600_000_000).alias("hi"),
    ).agg(F.count("*").alias("n"))
    grid = (
        counts.groupBy("event_type")
        .agg(F.min("hi").alias("h0"), F.max("hi").alias("h1"))
        .select("event_type", F.explode(F.sequence("h0", "h1")).alias("hi"))
    )
    hourly = grid.join(counts, ["event_type", "hi"], "left").select(
        "event_type", "hi", F.coalesce("n", F.lit(0)).alias("n")
    )
    stats = hourly.groupBy("event_type").agg(
        F.count("*").alias("n_h"),
        F.sum("n").alias("sx"),
        # Σn² in decimal(38,0): safe past 3e6 events/hour/type, where the
        # int64 form would overflow at 1e5 hours (SCALE.md §int64)
        F.sum(
            F.col("n").cast("decimal(19,0)") * F.col("n").cast("decimal(19,0)")
        ).alias("sx2"),
    )
    mu = F.col("sx") / F.col("n_h")
    var = (F.col("sx2").cast("double") - F.col("n_h") * mu * mu) / F.nullif(
        F.col("n_h") - 1, F.lit(0)
    )
    stats = stats.select(
        "event_type",
        mu.alias("mu"),
        F.sqrt(var).alias("sd"),
    )
    scored = hourly.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "hi",
        "n",
        (F.col("n") - F.col("mu") - _CUSUM_K_SD * F.col("sd")).alias("d_up"),
        (F.col("mu") - F.col("n") - _CUSUM_K_SD * F.col("sd")).alias("d_dn"),
        (_CUSUM_H_SD * F.col("sd")).alias("h_lim"),
    )
    w = Window.partitionBy("event_type").orderBy("hi").rowsBetween(
        Window.unboundedPreceding, 0
    )
    run = scored.select(
        "event_type",
        (F.col("hi") * 3600).alias("bucket_start_s"),
        "n",
        "h_lim",
        F.sum("d_up").over(w).alias("su"),
        F.sum("d_dn").over(w).alias("sdn"),
    ).select(
        "event_type",
        "bucket_start_s",
        "n",
        "h_lim",
        (F.col("su") - F.least(F.lit(0.0), F.min("su").over(w.orderBy("bucket_start_s")))).alias("s_up"),
        (F.col("sdn") - F.least(F.lit(0.0), F.min("sdn").over(w.orderBy("bucket_start_s")))).alias("s_dn"),
    )
    up = run.filter(F.col("s_up") > F.col("h_lim")).select(
        "event_type",
        "bucket_start_s",
        F.lit("up").alias("direction"),
        F.col("n").cast("long").alias("n"),
        F.round("s_up", 4).alias("cusum_stat"),
    )
    dn = run.filter(F.col("s_dn") > F.col("h_lim")).select(
        "event_type",
        "bucket_start_s",
        F.lit("down").alias("direction"),
        F.col("n").cast("long").alias("n"),
        F.round("s_dn", 4).alias("cusum_stat"),
    )
    return up.unionAll(dn)


ORACLE_CUSUM = f"""
WITH counts AS (
  SELECT event_type,
         CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS hi,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT event_type, unnest(range(h0, h1 + 1)) AS hi
  FROM (SELECT event_type, min(hi) AS h0, max(hi) AS h1 FROM counts GROUP BY 1)
),
hourly AS (
  SELECT g.event_type, g.hi, coalesce(c.n, 0) AS n
  FROM grid g LEFT JOIN counts c ON c.event_type = g.event_type AND c.hi = g.hi
),
stats AS (
  SELECT event_type,
         (CAST(sum(n) AS BIGINT) / CAST(count(*) AS DOUBLE)) AS mu,
         sqrt((CAST(sum(n * n) AS BIGINT) - count(*) *
               (CAST(sum(n) AS BIGINT) / CAST(count(*) AS DOUBLE)) *
               (CAST(sum(n) AS BIGINT) / CAST(count(*) AS DOUBLE)))
              / nullif(count(*) - 1, 0)) AS sd
  FROM hourly GROUP BY 1
),
scored AS (
  SELECT h.event_type, h.hi, h.n,
         h.n - s.mu - {_CUSUM_K_SD} * s.sd AS d_up,
         s.mu - h.n - {_CUSUM_K_SD} * s.sd AS d_dn,
         {_CUSUM_H_SD} * s.sd AS h_lim
  FROM hourly h JOIN stats s USING (event_type)
),
run AS (
  SELECT event_type, hi * 3600 AS bucket_start_s, n, h_lim,
         sum(d_up) OVER w AS su,
         sum(d_dn) OVER w AS sdn
  FROM scored
  WINDOW w AS (PARTITION BY event_type ORDER BY hi
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
cusum AS (
  SELECT event_type, bucket_start_s, n, h_lim,
         su - least(0.0, min(su) OVER w) AS s_up,
         sdn - least(0.0, min(sdn) OVER w) AS s_dn
  FROM run
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start_s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, bucket_start_s, 'up' AS direction,
       CAST(n AS BIGINT) AS n, round(s_up, 4) AS cusum_stat
FROM cusum WHERE s_up > h_lim
UNION ALL
SELECT event_type, bucket_start_s, 'down', CAST(n AS BIGINT), round(s_dn, 4)
FROM cusum WHERE s_dn > h_lim
"""



_STL_HALF = 12  # centered moving-average half-width: 25h window


def q_events_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite seasonal decomposition of each type's hourly volume:
    trend = centered 25-hour moving average, seasonal = per hour-of-day
    mean of the detrended series, residual = the rest — the
    trend/seasonal/residual split that turns "traffic looks weird" into
    "weird AFTER removing the daily rhythm" (the CUSUM/z detectors'
    natural input).

    Exactness discipline: the trend numerator is an INTEGER window sum,
    and the seasonal mean is computed as sum(25·n − S) / (25·count) —
    integer numerators all the way down, so neither engine ever sums
    doubles in a nondeterministic order; rounding is display-only.
    Shape: aggregate-then-window (the sweep never sees raw events), one
    window pass per type for the trend, a |types|×24-row seasonal
    profile broadcast back. Edge hours without the full 25h window are
    excluded from BOTH the seasonal fit and the output (no half-window
    bias)."""
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / 3_600_000_000).alias("hi"),
    ).agg(F.count("*").alias("n"))
    grid = (
        counts.groupBy("event_type")
        .agg(F.min("hi").alias("h0"), F.max("hi").alias("h1"))
        .select("event_type", F.explode(F.sequence("h0", "h1")).alias("hi"))
    )
    hourly = grid.join(counts, ["event_type", "hi"], "left").select(
        "event_type", "hi", F.coalesce("n", F.lit(0)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("hi").rowsBetween(
        -_STL_HALF, _STL_HALF
    )
    width = 2 * _STL_HALF + 1
    trended = (
        hourly.withColumn("s25", F.sum("n").over(w))
        .withColumn("w_cnt", F.count("n").over(w))
        .filter(F.col("w_cnt") == width)
        .withColumn("det_num", width * F.col("n") - F.col("s25"))
        .withColumn("hod", F.pmod(F.col("hi"), F.lit(24)))
    )
    seasonal = trended.groupBy("event_type", "hod").agg(
        F.sum("det_num").alias("s_num"), F.count("*").alias("s_cnt")
    )
    seas = F.col("s_num") / (width * F.col("s_cnt"))
    return (
        trended.join(F.broadcast(seasonal), ["event_type", "hod"])
        .select(
            "event_type",
            (F.col("hi") * 3600).alias("bucket_start_s"),
            F.col("n").cast("long").alias("n"),
            F.round(F.col("s25") / width, 4).alias("trend"),
            F.round(seas, 4).alias("seasonal"),
            F.round(F.col("n") - F.col("s25") / width - seas, 4).alias("resid"),
        )
    )


ORACLE_STL = f"""
WITH counts AS (
  SELECT event_type,
         CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS hi,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT event_type, unnest(range(h0, h1 + 1)) AS hi
  FROM (SELECT event_type, min(hi) AS h0, max(hi) AS h1 FROM counts GROUP BY 1)
),
hourly AS (
  SELECT g.event_type, g.hi, CAST(coalesce(c.n, 0) AS BIGINT) AS n
  FROM grid g LEFT JOIN counts c ON c.event_type = g.event_type AND c.hi = g.hi
),
trended AS (
  SELECT event_type, hi, n,
         CAST(sum(n) OVER w AS BIGINT) AS s25,
         count(n) OVER w AS w_cnt,
         (hi % 24 + 24) % 24 AS hod
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hi
               ROWS BETWEEN {_STL_HALF} PRECEDING AND {_STL_HALF} FOLLOWING)
),
full_rows AS (
  SELECT *, {2 * _STL_HALF + 1} * n - s25 AS det_num
  FROM trended WHERE w_cnt = {2 * _STL_HALF + 1}
),
seasonal AS (
  SELECT event_type, hod,
         CAST(sum(det_num) AS BIGINT) AS s_num,
         CAST(count(*) AS BIGINT) AS s_cnt
  FROM full_rows GROUP BY 1, 2
)
SELECT f.event_type, f.hi * 3600 AS bucket_start_s, f.n,
       round(f.s25 / CAST({2 * _STL_HALF + 1} AS DOUBLE), 4) AS trend,
       round(s.s_num / ({2 * _STL_HALF + 1} * CAST(s.s_cnt AS DOUBLE)), 4)
         AS seasonal,
       round(f.n - f.s25 / CAST({2 * _STL_HALF + 1} AS DOUBLE)
             - s.s_num / ({2 * _STL_HALF + 1} * CAST(s.s_cnt AS DOUBLE)), 4)
         AS resid
FROM full_rows f JOIN seasonal s USING (event_type, hod)
"""



def q_events_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct dimension enrichment — the feature-store
    join: every event picks the customer's LATEST order as of the event
    instant (no leakage from the future), implemented as the
    union-sort-LOCF merge instead of a range join: dimension versions
    and facts stack into ONE stream keyed by customer, one partitioned
    sort orders them by (ts, dim-before-fact, version), and a
    last-non-null window carries the prevailing version onto each fact
    row. Same-day version ties resolve to the highest orderkey (the
    day's last version), and a dimension row ON the event's own date
    is visible (inclusive as-of).

    Why this shape: the naive plan is a per-event ORDER BY ... LIMIT 1
    range probe (exactly what the DuckDB oracle runs via LATERAL) —
    O(|facts|·log|versions|) with a non-equi join no optimizer
    co-partitions. The LOCF merge is one co-shuffle of both inputs on
    the customer key and one sort — the sort-merge-join shape, linear
    in |facts|+|versions| per key, and the window never spans keys.
    Events from users with no prior order keep NULLs (left
    semantics)."""
    e = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    dim = o.select(
        F.col("o_custkey").alias("k"),
        (F.unix_date(F.to_date("o_orderdate")).cast("long") * 86_400_000_000).alias(
            "ts_us"
        ),
        F.lit(0).alias("kind"),
        F.col("o_orderkey").alias("sk"),
        F.struct(
            F.col("o_orderkey").alias("orderkey"),
            F.round("o_totalprice", 2).alias("totalprice"),
        ).alias("dimrec"),
        F.lit(None).cast("long").alias("event_id"),
    )
    fact = e.select(
        F.col("user_id").alias("k"),
        F.unix_micros("ts").alias("ts_us"),
        F.lit(1).alias("kind"),
        F.col("event_id").alias("sk"),
        F.lit(None).cast("struct<orderkey:long,totalprice:double>").alias("dimrec"),
        "event_id",
    )
    w = (
        Window.partitionBy("k")
        .orderBy("ts_us", "kind", "sk")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = dim.unionByName(fact).withColumn(
        "asof", F.last("dimrec", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("kind") == 1).select(
        "event_id",
        F.col("k").alias("user_id"),
        "ts_us",
        F.col("asof.orderkey").alias("asof_orderkey"),
        F.col("asof.totalprice").alias("asof_totalprice"),
    )


ORACLE_PIT = """
SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
       d.orderkey AS asof_orderkey, d.totalprice AS asof_totalprice
FROM events e
LEFT JOIN LATERAL (
  SELECT o.o_orderkey AS orderkey, round(o.o_totalprice, 2) AS totalprice
  FROM orders o
  WHERE o.o_custkey = e.user_id
    AND epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) <= epoch_us(e.ts)
  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
  LIMIT 1
) d ON true
"""



_ROLL_RANGE_US = 86_400_000_000 - 1  # 24h, inclusive of the current instant


def q_events_rolling_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-24-hour activity via a bounded RANGE window
    frame — the frame semantics a ROWS frame cannot fake: the frame is
    defined by the EVENT-TIME distance (every event in (t−24h, t]),
    so bursty users get wide frames and sparse users narrow ones, and
    same-microsecond peers are always in or out TOGETHER (RANGE treats
    ties as one unit — no arbitrary row-order dependence to round
    away). The per-event fraud/velocity feature ("how many actions in
    the last day at the moment of THIS action") feature stores
    backfill exactly this way.

    One exchange on user_id + one sort carries both aggregates; the
    value sum stays exact by summing CENTS (integers) inside the frame
    and dividing once at the edge — the usual no-float-accumulation
    discipline."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-_ROLL_RANGE_US, 0)
    )
    return base.select(
        "event_id",
        "user_id",
        "ts_us",
        F.count("*").over(w).alias("n_24h"),
        (F.sum("cents").over(w) / 100.0).alias("value_24h"),
    ).withColumn("value_24h", F.round("value_24h", 2))


ORACLE_ROLLING_RANGE = f"""
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       CAST(count(*) OVER w AS BIGINT) AS n_24h,
       round(CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
             / 100.0, 2) AS value_24h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN {_ROLL_RANGE_US} PRECEDING AND CURRENT ROW)
"""



_IVM_DELTA_DAYS = 7


def q_events_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance, demonstrated and
    AUDITED in one query: the per-type rollup is produced by MERGING
    stored per-(type, day) partial aggregates for history (day <
    max_day − 7) with freshly-aggregated partials for the last-week
    delta — the insert-only IVM path that lets a 100 TB daily rollup
    absorb a new partition by touching |types|×|days| state rows plus
    the delta instead of rescanning history — and an in-band
    ``ivm_match`` column compares every merged metric against the
    direct full recompute. Count/sum/min/max merge because they are
    commutative monoids; the sum is carried as EXACT integer cents so
    "merged equals recomputed" is a bit-equality, not a tolerance (a
    float partial sum could differ between the two paths in one engine
    and not the other). The cutoff derives from the data (no driver
    clock), so the query is reproducible."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.unix_date(F.to_date("ts")).alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    cutoff = base.groupBy().agg(
        (F.max("day") - _IVM_DELTA_DAYS).alias("cutoff_day")
    )
    partials = (
        base.crossJoin(F.broadcast(cutoff))
        .groupBy("event_type", "day", "cutoff_day")
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").alias("s"),
            F.min("cents").alias("mn"),
            F.max("cents").alias("mx"),
        )
        .withColumn("is_history", F.col("day") < F.col("cutoff_day"))
    )
    # the merge path: history partials (the "stored state") re-aggregated
    # together with the delta partials — partials in, partials out
    merged = partials.groupBy("event_type").agg(
        F.sum("n").alias("m_n"),
        F.sum("s").alias("m_s"),
        F.min("mn").alias("m_mn"),
        F.max("mx").alias("m_mx"),
        F.countDistinct("day").alias("m_days"),
        F.sum(F.when(~F.col("is_history"), F.col("n")).otherwise(0)).alias(
            "delta_events"
        ),
    )
    # the audit path: direct recompute from the raw rows
    direct = base.groupBy("event_type").agg(
        F.count("*").alias("d_n"),
        F.sum("cents").alias("d_s"),
        F.min("cents").alias("d_mn"),
        F.max("cents").alias("d_mx"),
        F.countDistinct("day").alias("d_days"),
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


ORACLE_IVM = f"""
WITH base AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
cutoff AS (SELECT max(day) - {_IVM_DELTA_DAYS} AS cutoff_day FROM base),
partials AS (
  SELECT event_type, day, cutoff_day,
         CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s,
         min(cents) AS mn, max(cents) AS mx,
         day < cutoff_day AS is_history
  FROM base CROSS JOIN cutoff
  GROUP BY 1, 2, 3
),
merged AS (
  SELECT event_type,
         CAST(sum(n) AS BIGINT) AS m_n, CAST(sum(s) AS BIGINT) AS m_s,
         min(mn) AS m_mn, max(mx) AS m_mx,
         CAST(count(DISTINCT day) AS BIGINT) AS m_days,
         CAST(sum(CASE WHEN is_history THEN 0 ELSE n END) AS BIGINT)
           AS delta_events
  FROM partials GROUP BY 1
),
direct AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS d_n, CAST(sum(cents) AS BIGINT) AS d_s,
         min(cents) AS d_mn, max(cents) AS d_mx,
         CAST(count(DISTINCT day) AS BIGINT) AS d_days
  FROM base GROUP BY 1
)
SELECT m.event_type, m.m_n AS n_events,
       round(m.m_s / 100.0, 2) AS sum_value,
       round(m.m_mn / 100.0, 2) AS min_value,
       round(m.m_mx / 100.0, 2) AS max_value,
       m.m_days AS n_days, m.delta_events,
       (m.m_n = d.d_n AND m.m_s = d.d_s AND m.m_mn = d.d_mn
        AND m.m_mx = d.d_mx AND m.m_days = d.d_days) AS ivm_match
FROM merged m JOIN direct d USING (event_type)
"""


def q_events_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness profile — the measurement a watermark/allowed-
    lateness choice should be MADE from, instead of guessed: an event is
    "late" when it arrives after a later-timestamped event of the same
    user (arrival order proxied by event_id, the ingest sequence), its
    lateness is the gap to the user's running max event time, and the
    profile buckets latenesses by power-of-two seconds per event type.
    Reading the table answers "what watermark keeps 99% of late data"
    — the number every `withWatermark` in streaming.py encodes.

    One sorted window per user (running max over the event_id arrival
    order, EXCLUSIVE frame), integer lateness seconds, one hash
    aggregate onto ⌈log₂⌉ buckets. The bucket is computed as the BIT
    LENGTH of (late_s − 1) — pure integer/string ops, because libm
    log2 at exact powers of two is the kind of cross-platform ulp leak
    this registry designs out — so everything is exact integers,
    nothing global.

    On the driver fixture the ingest order IS time order, so the whole
    profile lands in the -1 (on-time) bucket — itself the useful
    answer ("a minimal watermark suffices"); the nonzero-lateness
    bucket math is pinned by a pytest over a synthetic disordered
    stream (tests/test_r8_queries.py)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lat = (
        e.select("user_id", "event_id", "event_type", F.unix_seconds("ts").alias("t"))
        .withColumn("prev_max", F.max("t").over(w))
        .withColumn("late_s", F.col("prev_max") - F.col("t"))
    )
    # ceil(log2(x)) = bit_length(x − 1) for x ≥ 2; 0 for x = 1
    bucket = (
        F.when(F.col("late_s") <= 0, F.lit(-1))
        .when(F.col("late_s") == 1, F.lit(0))
        .otherwise(F.length(F.conv(F.col("late_s") - 1, 10, 2)).cast("long"))
    )
    per_type = (
        lat.filter(F.col("prev_max").isNotNull())
        .select("event_type", bucket.alias("late_bucket"), "late_s")
        .groupBy("event_type", "late_bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.max("late_s").alias("max_late_s"),
        )
    )
    return per_type.select(
        "event_type",
        F.col("late_bucket").cast("long").alias("late_bucket"),
        "n_events",
        F.col("max_late_s").cast("long").alias("max_late_s"),
    )


ORACLE_LATENESS = """
WITH lat AS (
  SELECT event_type,
         max(epoch_us(ts) // 1000000) OVER (
           PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           - epoch_us(ts) // 1000000 AS late_s
  FROM events
)
SELECT event_type,
       CAST(CASE WHEN late_s <= 0 THEN -1
                 WHEN late_s = 1 THEN 0
                 ELSE length(bin(CAST(late_s - 1 AS BIGINT)))
            END AS BIGINT) AS late_bucket,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(late_s) AS BIGINT) AS max_late_s
FROM lat WHERE late_s IS NOT NULL
GROUP BY 1, 2
"""


_ROBOT_MIN_GAPS = 5
_ROBOT_CV_MAX = 0.3


def q_events_robotic_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/automation detection by inter-arrival regularity: per user,
    the coefficient of variation (σ/μ, population form) of the gaps
    between consecutive events — humans are bursty (CV ≳ 1), schedulers
    and scripts are metronomic (CV → 0) — flagged when the rounded CV
    falls below 0.3 with ≥ 5 gaps observed. The abuse-filter twin of
    the quality scores on the documents side: training pipelines drop
    robotic traffic BEFORE behavioral features are fitted on it.

    Exactness: CV derives from integer sufficient statistics
    (n, Σg, Σg²) over whole-second gaps; the quadratic sums run in
    decimal(38,0) per the r8 width policy (a year-long gap is ~3e7 s,
    squared ≈ 1e15 — ×1e4 events/user is fine, but a 100× stream is
    not), and the flag compares the ROUNDED cv so both engines decide
    the boundary identically. One sorted window per user (the lag
    diff) + one hash aggregate; nothing global."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = (
        e.select("user_id", "ts", "event_id")
        .withColumn(
            "gap",
            F.unix_seconds(F.lead("ts").over(w)) - F.unix_seconds(F.col("ts")),
        )
        .filter(F.col("gap").isNotNull())
    )
    d = F.col("gap").cast("decimal(19,0)")
    stats = g.groupBy("user_id").agg(
        F.count("*").alias("n_gaps"),
        F.sum("gap").alias("sg"),
        F.sum(d * d).alias("sg2"),
    ).filter(F.col("n_gaps") >= _ROBOT_MIN_GAPS)
    n = F.col("n_gaps").cast("double")
    sg = F.col("sg").cast("double")
    # greatest(·, 0): constant-gap users can land an ulp below zero
    # after the decimal→double conversions; both engines clamp alike
    var = F.greatest(
        (n * F.col("sg2").cast("double") - sg * sg) / (n * n), F.lit(0.0)
    )
    cv = F.round(F.sqrt(var) / (sg / n), 4)
    return stats.select(
        "user_id",
        "n_gaps",
        F.round(sg / n, 2).alias("mean_gap_s"),
        cv.alias("cv"),
        (cv < _ROBOT_CV_MAX).alias("is_robotic"),
    )


ORACLE_ROBOTIC = f"""
WITH g AS (
  SELECT user_id,
         epoch_us(lead(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id)) // 1000000
           - epoch_us(ts) // 1000000 AS gap
  FROM events
),
stats AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
         CAST(sum(gap) AS BIGINT) AS sg,
         CAST(sum(CAST(gap AS HUGEINT) * gap) AS DOUBLE) AS sg2
  FROM g WHERE gap IS NOT NULL
  GROUP BY 1 HAVING count(*) >= {_ROBOT_MIN_GAPS}
)
SELECT user_id, n_gaps,
       round(CAST(sg AS DOUBLE) / n_gaps, 2) AS mean_gap_s,
       round(sqrt(greatest((n_gaps * sg2 - CAST(sg AS DOUBLE) * sg)
                  / (CAST(n_gaps AS DOUBLE) * n_gaps), 0.0))
             / (CAST(sg AS DOUBLE) / n_gaps), 4) AS cv,
       round(sqrt(greatest((n_gaps * sg2 - CAST(sg AS DOUBLE) * sg)
                  / (CAST(n_gaps AS DOUBLE) * n_gaps), 0.0))
             / (CAST(sg AS DOUBLE) / n_gaps), 4) < {_ROBOT_CV_MAX}
         AS is_robotic
FROM stats
"""


_KMV_ROLL_DAYS = 7


def q_events_kmv_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day, maintained by MERGING
    per-day KMV sketches (union = K smallest of the concatenated
    sketches) — the mergeable-summary rollup a production DAU/WAU
    dashboard runs: daily sketches are built ONCE (each day's data
    touched once), and every trailing window is set algebra on
    K-row summaries, so a 90-day backfill re-reads zero raw events.
    The exact trailing distinct rides along as the in-band audit
    (at 100 TB the audit runs on sampled days).

    Same portable Lehmer construction as the KMV family, so DuckDB
    replays the identical sketches; rolling membership is an explode
    of each day's sketch onto the 7 target days it serves (fan-out =
    7·K rows per day, never 7× the raw stream)."""
    from pyspark.sql import Window

    from .curation import _lehmer_h

    M = (1 << 31) - 1
    e = load_table(spark, sf_dir, "events").select(
        F.unix_date(F.to_date("ts")).alias("day"), "user_id"
    )
    du = e.distinct().withColumn(
        "h", _lehmer_h(F.pmod(F.col("user_id"), F.lit(M)) * 64)
    )
    w_day = Window.partitionBy("day").orderBy("h")
    daily = (
        du.withColumn("rn", F.row_number().over(w_day))
        .filter(F.col("rn") <= _KMV_K)
        .select("day", "h")
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


def _kmv_rolling_oracle_sql() -> str:
    from .text import _LEHMER_A as A, _LEHMER_M as M

    return f"""
WITH du AS (
  SELECT DISTINCT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day, user_id
  FROM events
),
h AS (
  SELECT day,
         ((((user_id % {M} + {M}) % {M}) * 64 % {M}) * {A} % {M}) * {A} % {M} AS h
  FROM du
),
daily AS (
  SELECT day, h FROM (
    SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn
    FROM h
  ) WHERE rn <= {_KMV_K}
),
span AS (SELECT max(day) AS dmax FROM daily),
contrib AS (
  SELECT DISTINCT h,
         unnest(range(day, least(day + {_KMV_ROLL_DAYS}, dmax + 1))) AS t_day
  FROM daily CROSS JOIN span
),
union_k AS (
  SELECT t_day, count(*) AS n_seen, max(h) AS hk FROM (
    SELECT t_day, h,
           row_number() OVER (PARTITION BY t_day ORDER BY h) AS rn
    FROM contrib
  ) WHERE rn <= {_KMV_K} GROUP BY 1
),
exact AS (
  SELECT t_day, count(DISTINCT user_id) AS exact_distinct FROM (
    SELECT user_id,
           unnest(range(day, least(day + {_KMV_ROLL_DAYS}, dmax + 1))) AS t_day
    FROM du CROSS JOIN span
  ) GROUP BY 1
),
j AS (
  SELECT u.t_day AS day, x.exact_distinct,
         round(CASE WHEN u.n_seen < {_KMV_K} THEN CAST(u.n_seen AS DOUBLE)
                    ELSE {float(_KMV_K - 1)} * {M} / u.hk END, 4) AS kmv_estimate
  FROM union_k u JOIN exact x ON x.t_day = u.t_day
)
SELECT CAST(day AS BIGINT) AS day,
       CAST(exact_distinct AS BIGINT) AS exact_distinct,
       kmv_estimate,
       round(abs(kmv_estimate - exact_distinct) / exact_distinct, 4) AS rel_err
FROM j
"""


ORACLE_KMV_ROLLING = _kmv_rolling_oracle_sql()


_DECAY_CAP = 60  # contributions older than 60 half-lives are exactly 0


def q_events_decay_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed engagement score per user — the feature-store
    staple score = Σ value·2^(−Δdays) (half-life = 1 day, anchored at
    the corpus' last event day), made EXACT: every term is computed as
    integer cents · 2^(60−min(Δ,60)) — a shifted integer in
    decimal(38,0) — summed exactly and divided by 2⁶⁰ only at the
    display boundary. Float pow + float accumulation (the naive form)
    exposes partial-aggregation order; the shifted-integer form cannot
    disagree between engines at ANY row count, and contributions older
    than 60 half-lives are exactly zero on both sides (vs denormal
    underflow divergence). One map-side-combining aggregate over the
    fact stream; the day anchor is a broadcast 1-row scalar."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "user_id",
        F.unix_date(F.to_date("ts")).alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    anchor = base.groupBy().agg(F.max("day").alias("day0"))
    # SQL shiftleft (the PySpark helper only takes a literal shift):
    # 1L << (60 − min(Δ, 60)) — an exact power-of-two weight in int64
    term = F.col("cents").cast("decimal(19,0)") * F.expr(
        f"cast(shiftleft(cast(1 as bigint), cast({_DECAY_CAP}"
        f" - least(day0 - day, {_DECAY_CAP}) as int)) as decimal(19,0))"
    )
    return (
        base.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(term).alias("scaled"),
            F.min(F.col("day0") - F.col("day")).alias("days_since_last"),
        )
        .select(
            "user_id",
            "n_events",
            F.round(
                (F.col("scaled") / F.lit(float(2**_DECAY_CAP))).cast("double")
                / 100.0,
                4,
            ).alias("decay_score"),
            F.col("days_since_last").cast("long").alias("days_since_last"),
        )
    )


ORACLE_DECAY = f"""
WITH base AS (
  SELECT user_id,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
anchor AS (SELECT max(day) AS day0 FROM base)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(cents AS HUGEINT)
                      * (CAST(1 AS BIGINT)
                         << ({_DECAY_CAP} - least(day0 - day, {_DECAY_CAP}))))
                  AS DOUBLE) / {float(2 ** _DECAY_CAP)!r} / 100.0, 4)
         AS decay_score,
       CAST(min(day0 - day) AS BIGINT) AS days_since_last
FROM base CROSS JOIN anchor
GROUP BY user_id
"""


def q_events_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set-operation estimates: the Jaccard similarity of every
    event-type PAIR's user sets, estimated from the types' K-minimum-
    values sketches alone — the classic "how much do these audiences
    overlap" question answered WITHOUT touching the raw sets twice
    (Beyer et al. SIGMOD'07: the K minima of A∪B are the K smallest of
    sketch(A) ∪ sketch(B), and J ≈ |members of that union sketch in
    both sketches| / |union sketch|). Exact Jaccard rides along as the
    in-band audit (the recall_vs_exact pattern); at 100 TB the audit
    runs on a sampled pair batch while the estimator ships only
    K·|types| sketch rows — sketches the per-type KMV query already
    maintains, which is the whole point of mergeable summaries: set
    algebra on sketches, not sets.

    Determinism: the sketch is the same portable Lehmer construction
    the KMV distinct family replays in DuckDB (bijective on [0, M), so
    no hash ties exist and row_number needs no tie-break); every
    estimate is a ratio of two small integers both engines derive from
    identical sketch membership."""
    from pyspark.sql import Window

    from .curation import _lehmer_h

    M = (1 << 31) - 1
    e = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    du = e.distinct().withColumn(
        "h", _lehmer_h(F.pmod(F.col("user_id"), F.lit(M)) * 64)
    )
    local = Window.partitionBy(
        F.col("event_type"), F.spark_partition_id()
    ).orderBy("h")
    surv = du.withColumn("lrn", F.row_number().over(local)).filter(
        F.col("lrn") <= _KMV_K
    )
    glob = Window.partitionBy("event_type").orderBy("h")
    sk = (
        surv.withColumn("rn", F.row_number().over(glob))
        .filter(F.col("rn") <= _KMV_K)
        .select(F.col("event_type").alias("t"), "h")
        .localCheckpoint(eager=False)
    )
    types = sk.select(F.col("t").alias("ty")).distinct()
    pairs = (
        types.select(F.col("ty").alias("type_a"))
        .crossJoin(types.select(F.col("ty").alias("type_b")))
        .filter(F.col("type_a") < F.col("type_b"))
    )
    members = (
        F.broadcast(pairs)
        .join(sk, (F.col("t") == F.col("type_a")) | (F.col("t") == F.col("type_b")))
        .groupBy("type_a", "type_b", "h")
        .agg(
            F.max(F.when(F.col("t") == F.col("type_a"), 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("t") == F.col("type_b"), 1).otherwise(0)).alias("in_b"),
        )
    )
    w_u = Window.partitionBy("type_a", "type_b").orderBy("h")
    union_sk = members.withColumn("rn", F.row_number().over(w_u)).filter(
        F.col("rn") <= _KMV_K
    )
    est = union_sk.groupBy("type_a", "type_b").agg(
        F.count("*").alias("k_union"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_both"),
    )
    ua = du.select(F.col("event_type").alias("type_a"), "user_id")
    ub = du.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        ua.join(ub, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sizes = du.groupBy("event_type").agg(F.count("*").alias("n"))
    exact = (
        inter.join(
            sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("na")),
            "type_a",
        )
        .join(
            sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb")),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            (F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))).alias(
                "exact_j"
            ),
        )
    )
    return (
        est.join(exact, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "k_union",
            "n_both",
            F.round(F.col("n_both") / F.col("k_union"), 4).alias("est_jaccard"),
            F.round("exact_j", 4).alias("exact_jaccard"),
            F.round(
                F.abs(F.col("n_both") / F.col("k_union") - F.col("exact_j")), 4
            ).alias("abs_err"),
        )
    )


def _kmv_overlap_oracle_sql() -> str:
    from .text import _LEHMER_A as A, _LEHMER_M as M

    return f"""
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
h AS (
  SELECT event_type AS t,
         ((((user_id % {M} + {M}) % {M}) * 64 % {M}) * {A} % {M}) * {A} % {M} AS h
  FROM du
),
rk AS (
  SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rn FROM h
),
sk AS (SELECT t, h FROM rk WHERE rn <= {_KMV_K}),
pairs AS (
  SELECT a.t AS type_a, b.t AS type_b
  FROM (SELECT DISTINCT t FROM sk) a JOIN (SELECT DISTINCT t FROM sk) b
    ON a.t < b.t
),
members AS (
  SELECT p.type_a, p.type_b, s.h,
         max(CASE WHEN s.t = p.type_a THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN s.t = p.type_b THEN 1 ELSE 0 END) AS in_b
  FROM pairs p JOIN sk s ON s.t = p.type_a OR s.t = p.type_b
  GROUP BY 1, 2, 3
),
union_sk AS (
  SELECT *, row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn
  FROM members
),
est AS (
  SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS k_union,
         CAST(sum(in_a * in_b) AS BIGINT) AS n_both
  FROM union_sk WHERE rn <= {_KMV_K} GROUP BY 1, 2
),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_inter
  FROM du a JOIN du b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
sizes AS (SELECT event_type, count(*) AS n FROM du GROUP BY 1),
exact AS (
  SELECT i.type_a, i.type_b,
         i.n_inter / CAST(sa.n + sb.n - i.n_inter AS DOUBLE) AS exact_j
  FROM inter i
  JOIN sizes sa ON sa.event_type = i.type_a
  JOIN sizes sb ON sb.event_type = i.type_b
)
SELECT e.type_a, e.type_b, e.k_union, e.n_both,
       round(e.n_both / CAST(e.k_union AS DOUBLE), 4) AS est_jaccard,
       round(x.exact_j, 4) AS exact_jaccard,
       round(abs(e.n_both / CAST(e.k_union AS DOUBLE) - x.exact_j), 4)
         AS abs_err
FROM est e JOIN exact x ON x.type_a = e.type_a AND x.type_b = e.type_b
"""


ORACLE_KMV_OVERLAP = _kmv_overlap_oracle_sql()


# --- HDR-histogram quantile sketch ------------------------------------------

_HDR_SUB_BITS = 5  # sub-bucket resolution: relative error ≤ 2^-5 ≈ 3.1%
_HDR_QS = ((0.5, "p50"), (0.9, "p90"), (0.99, "p99"))


def hdr_bucketize(cents):
    """HDR-histogram bucket coordinates for a positive integer column —
    pure integer arithmetic with an exact twin in DuckDB SQL: shift =
    max(bit_length(v) − 1 − S, 0) (bit_length via base-2 string render,
    identical in both engines — no float log2 near power-of-2
    boundaries), bucket = v >> shift. Buckets cover [bucket·2^shift,
    (bucket+1)·2^shift), so width/lower-bound ≤ 2^-S: the classic
    HdrHistogram bound. 2^shift via pow is exact (double holds integers
    to 2^53; shift ≤ 50)."""
    blen = F.length(F.conv(cents, 10, 2))
    shift = F.greatest(blen - 1 - _HDR_SUB_BITS, F.lit(0))
    p2 = F.pow(F.lit(2.0), shift).cast("long")
    bucket = (cents / p2).cast("long")  # exact: cents ≤ 2^40, p2 divides range
    return shift.alias("shift"), bucket.alias("bucket"), p2.alias("p2")


def hdr_finalize(spark: SparkSession, sf_dir: str, sketch: DataFrame) -> DataFrame:
    """Shared HDR finalizer: (event_type, shift, bucket, n) sketch rows →
    nearest-rank quantile estimates + an in-band EXACT audit. Both the
    batch sketch (one hash aggregate) and the streaming state op feed
    this, so the batch DuckDB oracle certifies either path.

    The estimate for rank r is the midpoint of the first bucket (by
    lower bound) whose cumulative count reaches r; the audit recomputes
    the exact nearest-rank value from the raw table and checks
    |est − exact| ≤ exact · 2^-S — the HdrHistogram guarantee, asserted
    in-band so a bucketing bug fails the hash gate, not just drifts."""
    from ..io import load_table

    lb = (F.col("bucket") * F.col("p2")).alias("lb")
    sk = sketch.withColumn("p2", F.pow(F.lit(2.0), F.col("shift")).cast("long")).select(
        "event_type", "shift", "bucket", "n", "p2", lb
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("lb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sk.withColumn("cum", F.sum("n").over(w_cum))
    tot = sk.groupBy("event_type").agg(F.sum("n").alias("n_total"))
    qs = spark.createDataFrame(list(_HDR_QS), "q double, q_label string")
    targets = tot.crossJoin(F.broadcast(qs)).select(
        "event_type", "q_label", "n_total",
        F.ceil(F.col("q") * F.col("n_total")).cast("long").alias("rank"),
    )
    w_pick = Window.partitionBy("event_type", "q_label").orderBy("lb")
    est = (
        cum.join(targets, "event_type")
        .filter(F.col("cum") >= F.col("rank"))
        .withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select(
            "event_type", "q_label", "n_total", "rank",
            ((F.col("lb") * 2 + F.col("p2") - 1) / 2.0).alias("est"),
        )
    )
    cents = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.round(F.abs(F.col("value")) * 100).cast("long").alias("cents"),
        )
        .filter(F.col("cents") >= 1)
    )
    w_rank = Window.partitionBy("event_type").orderBy("cents")
    ranked = cents.withColumn("vrank", F.row_number().over(w_rank))
    exact = ranked.join(
        targets,
        (ranked["event_type"] == targets["event_type"])
        & (ranked["vrank"] == targets["rank"]),
    ).select(ranked["event_type"], "q_label", F.col("cents").alias("exact"))
    bound = 2.0 ** (-_HDR_SUB_BITS)
    return (
        est.join(exact, ["event_type", "q_label"])
        .select(
            "event_type",
            "q_label",
            F.col("n_total").cast("long").alias("n_total"),
            F.round("est", 4).alias("est"),
            F.col("exact").cast("long").alias("exact"),
            F.round(F.abs(F.col("est") - F.col("exact")) / F.col("exact"), 6).alias(
                "rel_err"
            ),
            (
                F.abs(F.col("est") - F.col("exact")) <= F.col("exact") * bound
            ).alias("within_bound"),
        )
    )


def q_events_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles from an HDR-histogram sketch — the mergeable-summary
    answer to "p50/p90/p99 of a metric over 100 TB without a global
    sort": integer cents map to (shift, bucket) coordinates (relative
    bucket width ≤ 2^-5), ONE map-side-combining hash aggregate builds
    the fixed-size sketch (≤ (64−S)·2^S ≈ 1.9k buckets per key,
    regardless of row count), and nearest-rank quantiles read off the
    cumulative bucket walk. Completes the sketch family (KMV, CMS,
    Bloom, HLL, Misra-Gries — quantiles were the missing entry) and, as
    everywhere in this repo, the sketch answers are audited IN-BAND
    against the exact nearest-rank values (window rank-select, the
    gate-scale certificate; at 100 TB the audit runs on samples) with
    the HdrHistogram error bound asserted as a gate column."""
    e = load_table(spark, sf_dir, "events")
    cents = (
        F.round(F.abs(F.col("value")) * 100).cast("long").alias("cents")
    )
    vals = e.select("event_type", cents).filter(F.col("cents") >= 1)
    shift, bucket, _p2 = hdr_bucketize(F.col("cents"))
    sketch = (
        vals.select("event_type", shift, bucket)
        .groupBy("event_type", "shift", "bucket")
        .agg(F.count("*").alias("n"))
    )
    return hdr_finalize(spark, sf_dir, sketch)


def _hdr_oracle_sql() -> str:
    s = _HDR_SUB_BITS
    q_rows = ", ".join(f"({q}, '{lab}')" for q, lab in _HDR_QS)
    return f"""
WITH vals AS (
  SELECT event_type, CAST(round(abs(value) * 100) AS BIGINT) AS cents
  FROM events
  WHERE CAST(round(abs(value) * 100) AS BIGINT) >= 1
),
coords AS (
  SELECT event_type, cents,
         greatest(length(bin(cents)) - 1 - {s}, 0) AS shift
  FROM vals
),
sk AS (
  SELECT event_type, shift,
         cents // CAST(power(2, shift) AS BIGINT) AS bucket,
         CAST(power(2, shift) AS BIGINT) AS p2,
         count(*) AS n
  FROM coords GROUP BY 1, 2, 3, 4
),
cum AS (
  SELECT *, bucket * p2 AS lb,
         sum(n) OVER (PARTITION BY event_type ORDER BY bucket * p2
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM sk
),
tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_total FROM sk GROUP BY 1),
qs AS (SELECT * FROM (VALUES {q_rows}) AS t(q, q_label)),
targets AS (
  SELECT event_type, q_label, n_total,
         CAST(ceil(q * n_total) AS BIGINT) AS rank
  FROM tot CROSS JOIN qs
),
est AS (
  SELECT event_type, q_label, n_total, rank,
         (lb * 2 + p2 - 1) / 2.0 AS est
  FROM (
    SELECT c.event_type, t.q_label, t.n_total, t.rank, c.lb, c.p2,
           row_number() OVER (PARTITION BY c.event_type, t.q_label
                              ORDER BY c.lb) AS rn
    FROM cum c JOIN targets t ON t.event_type = c.event_type
    WHERE c.cum >= t.rank
  ) WHERE rn = 1
),
ranked AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY cents) AS vrank
  FROM vals
),
exact AS (
  SELECT r.event_type, t.q_label, r.cents AS exact
  FROM ranked r JOIN targets t
    ON t.event_type = r.event_type AND r.vrank = t.rank
)
SELECT e.event_type, e.q_label, e.n_total,
       round(e.est, 4) AS est,
       CAST(x.exact AS BIGINT) AS exact,
       round(abs(e.est - x.exact) / x.exact, 6) AS rel_err,
       abs(e.est - x.exact) <= x.exact * {2.0 ** (-s)!r} AS within_bound
FROM est e JOIN exact x
  ON x.event_type = e.event_type AND x.q_label = e.q_label
"""


ORACLE_HDR_QUANTILES = _hdr_oracle_sql()


# --- native-sketch audit: HLL++ cardinality vs its rsd contract ------------

_HLL_RSD = 0.02  # relative standard deviation passed to the sketch
_HLL_BOUND = 4 * _HLL_RSD  # gate at 4 sigma of the contract


def q_events_hll_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit of SPARK'S OWN ``approx_count_distinct`` (HyperLogLog++ —
    the cardinality operator a 100 TB profile actually runs instead of
    exact countDistinct) against its accuracy contract: per event_type,
    the sketch estimate must sit within 4×rsd of the exact user count
    (measured 0.0-0.4% at rsd=0.02 across all fixture SFs). Same gate
    pattern as lineitem_approx_quantile_audit and the ANN recall
    contracts — the sketch internals stay engine-side, the exact count
    and the contract boolean are oracle-recomputed/asserted, so an
    estimator regression trips the driver's value-hash gate.

    Plan: ONE aggregate computes both forms (exact distinct plans as
    Expand + two-phase hash aggregate; the HLL is a mergeable partial)
    — production drops the exact column, the audit keeps it as the
    yardstick."""
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("exact_users"),
        F.approx_count_distinct("user_id", _HLL_RSD).alias("apx"),
    )
    return agg.select(
        "event_type",
        "n_events",
        "exact_users",
        (
            F.abs(F.col("apx") - F.col("exact_users"))
            / F.col("exact_users")
            <= _HLL_BOUND
        ).alias("within_rsd_bound"),
    )


ORACLE_HLL_AUDIT = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_rsd_bound
FROM events GROUP BY event_type
"""


# --- skew-managed join as a driver-gated operator ---------------------------

_HOT_USERS = 5


def q_events_salted_hot_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted hot-key join, driver-gated for SEMANTIC neutrality: the
    event fact joined to its own top-5-users dimension through
    ``ops.skew.salted_join`` (the explicit-salting complement to AQE's
    skew splitting — the fact side's key is widened with a
    deterministic xxhash64 salt, the dimension exploded n_salts×, the
    join runs on (key, salt) so one hot user's rows spread across 16
    reducers). The DuckDB oracle computes the PLAIN join — salting must
    never lose or duplicate a row, and this gate proves it on real
    data, not just the unit fixture (tests/test_skew.py).

    At 100 TB this is the one-user-is-40%-of-events shape: the salt
    bounds any reducer at hot_key_rows / n_salts while the dimension
    blowup stays dimension-sized (5 × 16 rows here)."""
    from ..ops.skew import salted_join

    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id").agg(F.count("*").alias("n"))
    # orderBy().limit(k) → TakeOrderedAndProject instead of ranking the
    # |users|-row count table through a single-partition WindowExec
    # (r14, guide §2.5); the row_number then ranks only the k survivors
    # — identical rows under the same deterministic total order.
    w = Window.orderBy(F.desc("n"), F.asc("user_id"))
    dim = (
        counts.orderBy(F.desc("n"), F.asc("user_id"))
        .limit(_HOT_USERS)
        .withColumn("hot_rank", F.row_number().over(w))
        .select("user_id", "hot_rank")
    )
    joined = salted_join(
        e.select("user_id", "event_type", "value"), dim, "user_id"
    )
    return joined.groupBy("hot_rank", "user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


ORACLE_SALTED_HOT_JOIN = f"""
WITH counts AS (
  SELECT user_id, count(*) AS n FROM events GROUP BY user_id
),
dim AS (
  SELECT user_id, hot_rank FROM (
    SELECT user_id,
           CAST(row_number() OVER (ORDER BY n DESC, user_id ASC) AS INT)
             AS hot_rank
    FROM counts
  ) WHERE hot_rank <= {_HOT_USERS}
)
SELECT d.hot_rank, e.user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(e.value), 2) AS sum_value
FROM events e JOIN dim d ON d.user_id = e.user_id
GROUP BY 1, 2
"""


_RES_K = 20  # sample size per group


def q_events_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group reservoir sample — bottom-k by a
    portable hash priority (the distributed form of reservoir sampling:
    assign every row a pseudo-random priority, keep the k smallest per
    group; same sample no matter how the data is partitioned, re-run,
    or merged — the property that makes the sample auditable and the
    reference's REST-sourced top-k analogue for facts). Priority is the
    repo's two-step Lehmer mix of event_id (the curation samplers'
    portable hash), so the DuckDB oracle replays the exact sample.

    Plan: one window row_number per event_type ordered by (priority,
    id) with the rk ≤ k filter — Spark's WindowGroupLimit rewrite
    pushes the limit BELOW the shuffle as a per-partition partial
    top-k, so each map task forwards at most k rows per group: the
    shuffle carries O(groups·k·partitions) rows, not the corpus. That
    is precisely the merge step of distributed reservoir sampling, for
    free from the optimizer."""
    from .text import _LEHMER_A, _LEHMER_M

    e = load_table(spark, sf_dir, "events")
    h = (
        (F.col("event_id") % F.lit(_LEHMER_M))
        * F.lit(_LEHMER_A)
        % F.lit(_LEHMER_M)
        * F.lit(_LEHMER_A)
        % F.lit(_LEHMER_M)
    )
    w = Window.partitionBy("event_type").orderBy(F.asc("h"), F.asc("event_id"))
    return (
        e.withColumn("h", h)
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _RES_K)
        .select("event_type", "rk", "event_id", "user_id", "value")
    )


def _oracle_reservoir() -> str:
    from .text import _LEHMER_A, _LEHMER_M

    h = (
        f"(((event_id % {_LEHMER_M}) * {_LEHMER_A}) % {_LEHMER_M})"
        f" * {_LEHMER_A} % {_LEHMER_M}"
    )
    return f"""
SELECT event_type,
       CAST(row_number() OVER (
         PARTITION BY event_type ORDER BY {h}, event_id) AS BIGINT) AS rk,
       event_id, user_id, value
FROM events
QUALIFY rk <= {_RES_K}
"""


ORACLE_RESERVOIR = _oracle_reservoir()


QUERIES = {
    "events_hdr_quantiles": q_events_hdr_quantiles,
    "events_reservoir_sample": q_events_reservoir_sample,
    "events_kmv_overlap": q_events_kmv_overlap,
    "events_decay_engagement": q_events_decay_engagement,
    "events_kmv_rolling_distinct": q_events_kmv_rolling_distinct,
    "events_robotic_cadence": q_events_robotic_cadence,
    "events_lateness_profile": q_events_lateness_profile,
    "events_multi_exists": q_events_multi_exists,
    "events_ohlc_bars": q_events_ohlc_bars,
    "events_kmv_distinct": q_events_kmv_distinct,
    "events_cms_counts": q_events_cms_counts,
    "events_incident_windows": q_events_incident_windows,
    "events_toi_pipeline": q_events_toi_pipeline,
    "events_salted_hot_join": q_events_salted_hot_join,
    "events_hll_cardinality_audit": q_events_hll_cardinality_audit,
    "events_tag_explode": q_events_tag_explode,
    "events_exclude_superset": q_events_exclude_superset,
    "events_hstore_projection": q_events_hstore_projection,
    "events_hourly_window": q_events_hourly_window,
    "events_sliding_window": q_events_sliding_window,
    "events_session_windows": q_events_session_windows,
    "events_asof_join": q_events_asof_join,
    "events_sketch_stats": q_events_sketch_stats,
    "events_time_rollup": q_events_time_rollup,
    "events_gap_stats": q_events_gap_stats,
    "events_gapfill_locf": q_events_gapfill_locf,
    "events_bloom_admit": q_events_bloom_admit,
    "events_session_overlap": q_events_session_overlap,
    "events_time_weighted_avg": q_events_time_weighted_avg,
    "events_lead_lag_corr": q_events_lead_lag_corr,
    "events_cusum_changepoints": q_events_cusum_changepoints,
    "events_stl_decompose": q_events_stl_decompose,
    "events_pit_enrich": q_events_pit_enrich,
    "events_rolling_range_window": q_events_rolling_range_window,
    "events_incremental_rollup": q_events_incremental_rollup,
    "events_m4_downsample": q_events_m4_downsample,
}

ORACLES = {
    "events_multi_exists": ORACLE_MULTI_EXISTS,
    "events_reservoir_sample": ORACLE_RESERVOIR,
    "events_hdr_quantiles": ORACLE_HDR_QUANTILES,
    "events_kmv_overlap": ORACLE_KMV_OVERLAP,
    "events_decay_engagement": ORACLE_DECAY,
    "events_kmv_rolling_distinct": ORACLE_KMV_ROLLING,
    "events_robotic_cadence": ORACLE_ROBOTIC,
    "events_lateness_profile": ORACLE_LATENESS,
    "events_kmv_distinct": ORACLE_KMV,
    "events_cms_counts": ORACLE_CMS,
    "events_ohlc_bars": ORACLE_OHLC,
    "events_incident_windows": ORACLE_INCIDENTS,
    "events_toi_pipeline": ORACLE_TOI,
    "events_salted_hot_join": ORACLE_SALTED_HOT_JOIN,
    "events_hll_cardinality_audit": ORACLE_HLL_AUDIT,
    "events_sketch_stats": ORACLE_SKETCH_STATS,
    "events_tag_explode": ORACLE_EXPLODE,
    "events_exclude_superset": ORACLE_EXCLUDE,
    "events_hstore_projection": ORACLE_HSTORE,
    "events_hourly_window": ORACLE_HOURLY,
    "events_sliding_window": ORACLE_SLIDING,
    "events_session_windows": ORACLE_SESSION,
    "events_asof_join": ORACLE_ASOF,
    "events_time_rollup": ORACLE_TIME_ROLLUP,
    "events_gap_stats": ORACLE_GAP_STATS,
    "events_gapfill_locf": ORACLE_GAPFILL,
    "events_bloom_admit": ORACLE_BLOOM_ADMIT,
    "events_session_overlap": ORACLE_SESSION_OVERLAP,
    "events_time_weighted_avg": ORACLE_TWA,
    "events_lead_lag_corr": ORACLE_XCORR,
    "events_cusum_changepoints": ORACLE_CUSUM,
    "events_stl_decompose": ORACLE_STL,
    "events_pit_enrich": ORACLE_PIT,
    "events_rolling_range_window": ORACLE_ROLLING_RANGE,
    "events_incremental_rollup": ORACLE_IVM,
    "events_m4_downsample": ORACLE_M4,
}
