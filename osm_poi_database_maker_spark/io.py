"""Fixture loaders / table registry.

The driver materializes a TPC-H-ish star schema plus ``events``,
``documents`` and ``embeddings`` parquet tables under
``/root/testdata/sf{0.001,0.01,0.1}`` (see ``TESTDATA.md``). Everything in
the engine reads through :func:`load_tables` so the same code serves local
fixtures and a production lakehouse path.

Scale note: each table is a plain ``spark.read.parquet`` — Catalyst handles
column pruning and predicate pushdown into the scan; at cluster scale the
paths would be partitioned directories and the loaders are unchanged.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import stat
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to a plain TIMESTAMP whose
    instant equals the stored wall-clock time read as UTC — independent
    of the session time zone AND of how the fixture generation encoded
    the column. Seen encodings across driver generations:

    - parquet TIMESTAMP(NANOS): Spark rejects it outright; with
      ``nanosAsLong`` it surfaces as ``bigint`` nanos → truncate to
      micros (the same truncation DuckDB applies on read);
    - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): surfaces as
      TIMESTAMP_NTZ → wall-time arithmetic from the NTZ epoch (a plain
      CAST would shift by the session zone offset);
    - parquet TIMESTAMP(MICROS, adjusted): already TIMESTAMP.

    DuckDB reads all three as naive timestamps, so its ``epoch_us(ts)``
    is wall-as-UTC micros — exactly what ``unix_micros`` yields after
    this normalization.
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if dt == "timestamp_ntz":
        return df.withColumn(
            "ts",
            F.expr(
                "timestamp_micros(timestampdiff("
                "MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts))"
            ),
        )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The fixture table ``name``. Parquet schema inference runs a Spark
    job, so the inferred schema is memoised per :func:`fixture_version`
    and later reads of the same files pass it explicitly (no job)."""
    # nanosAsLong keeps legacy TIMESTAMP(NANOS) fixtures readable at all
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = session_memo(
        spark,
        ("load_table.schema", path, fixture_version(sf_dir, name)),
        lambda: spark.read.parquet(path).schema,
    )
    df = spark.read.schema(schema).parquet(path)
    if name == "events":
        df = normalize_events_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def fixture_version(sf_dir: str, *tables: str) -> str | None:
    """Version token of the named fixture tables: a hash over (path
    relative to ``sf_dir``, size, ``st_mtime_ns``) of every file under
    each ``<table>.parquet`` — a single file or a directory of parts,
    walked recursively, so any nested part that is added, removed, or
    rewritten with a new size or mtime changes the token. ``None`` when
    a path cannot be stat'ed."""
    entries: list[tuple[str, int, int]] = []

    def visit(path: str) -> None:
        st = os.stat(path)
        if stat.S_ISDIR(st.st_mode):
            for name in sorted(os.listdir(path)):
                visit(os.path.join(path, name))
        else:
            entries.append(
                (os.path.relpath(path, sf_dir), st.st_size, st.st_mtime_ns)
            )

    try:
        for table in tables:
            visit(os.path.join(sf_dir, f"{table}.parquet"))
    except OSError:
        return None
    return hashlib.sha256(repr(entries).encode()).hexdigest()


# applicationId -> {key: value}; holds the live application only
_SESSION_MEMO: dict[str, dict] = {}


def session_memo(spark: SparkSession, key: tuple, compute):
    """``compute()`` once per ``key`` within the live Spark application,
    the stored value afterwards. Keys carry a :func:`fixture_version`
    token so a fixture rewritten under a long-lived session is never
    served stale; a key containing ``None`` (a fixture that cannot be
    stat'ed) is computed every time and never stored. The first call
    under a different ``applicationId`` drops every entry of the
    previous application, whose DataFrames can no longer run."""
    if None in key:
        return compute()
    app = spark.sparkContext.applicationId
    memo = _SESSION_MEMO.get(app)
    if memo is None:
        _SESSION_MEMO.clear()
        memo = _SESSION_MEMO[app] = {}
    if key not in memo:
        memo[key] = compute()
    return memo[key]


def derived_path(stem: str, *key) -> str:
    """Location of a file or directory derived from ``key`` (fixture
    contents, a :func:`fixture_version` token, layout parameters): a
    content hash, so a different key never reuses an older artefact."""
    digest = hashlib.sha256(repr(key).encode()).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), f"ospdms_{stem}_{digest}")


def _remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.lexists(path):
        os.unlink(path)


def write_once(path: str, write) -> str:
    """Publish ``path`` once: ``write(tmp)`` builds the file or directory
    at a per-process sibling, which then moves into place in one step,
    so ``path`` is either absent or complete — a failed or crashed write
    never leaves a partial artefact there. An existing ``path`` is
    returned as is. When a concurrent writer publishes first, its
    artefact is kept and ours is dropped: a directory rename fails onto
    their non-empty directory, and a file is hard-linked, because a file
    rename would silently replace theirs."""
    if os.path.exists(path):
        return path
    tmp = f"{path}.tmp.{os.getpid()}"
    _remove(tmp)  # left by a crashed process that had the same pid
    try:
        write(tmp)
        publish = os.rename if os.path.isdir(tmp) else os.link
        try:
            publish(tmp, path)
        except OSError:
            if not os.path.exists(path):
                raise
    finally:
        _remove(tmp)
    return path


#: Reference filter.py:239 verbatim query contract: first page of 100
#: values per key, server-sorted by way-usage count descending.
TAGINFO_VALUES_API_URL = (
    "https://taginfo.openstreetmap.org/api/4/key/values"
    "?key={key}&page=1&rp=100&sortname=count_ways&sortorder=desc"
)


def retrieve_taginfo(key: str, http_get=None) -> dict[str, int]:
    """O14 source half (reference filter.py:235-247): fetch the top-100
    values for one key from the TagInfo API and keep those that are
    documented in the OSM wiki and contain no ``;`` — returning
    ``{value: count}``. ``http_get(url) -> parsed json`` is injectable
    for tests; the default is an import-gated ``requests`` call (the
    fetch is driver-side and dimension-sized, never distributed)."""
    if http_get is None:
        try:
            import requests
        except ImportError as e:  # pragma: no cover - requests is optional
            raise RuntimeError(
                "TagInfo fetch needs the 'requests' package; pass http_get= "
                "or pre-populate the tags.json cache"
            ) from e

        def http_get(url: str):
            return requests.get(url, timeout=30).json()

    payload = http_get(TAGINFO_VALUES_API_URL.format(key=key))
    return {
        item["value"]: item["count"]
        for item in payload["data"]
        if ";" not in item["value"] and item["in_wiki"]
    }


def fetch_taginfo_cache(
    keys: tuple[str, ...], path: str, http_get=None, now_iso: str | None = None
) -> dict:
    """O15 cache-or-fetch (reference filter.py:281-299): serve an
    existing ``tags.json`` if present, else call TagInfo per key and
    publish the cache (:func:`write_once`) in the exact reference shape
    ``{"retrieval_date": ..., "data": {key: {value: count}}}`` — the
    shape :func:`taginfo_from_json` reads back into the dimension."""
    import datetime
    import json

    def fetch(tmp: str) -> None:
        tags = {
            "retrieval_date": now_iso
            or datetime.datetime.now().isoformat(timespec="minutes"),
            "data": {k: retrieve_taginfo(k, http_get) for k in keys},
        }
        with open(tmp, "w") as fh:
            fh.write(json.dumps(tags))

    with open(write_once(path, fetch)) as fh:
        return json.load(fh)


def taginfo_from_json(spark: SparkSession, path: str) -> DataFrame:
    """O14/O15 JSON source parity: read the reference's ``tags.json``
    cache shape — ``{"retrieval_date": str, "data": {key: {value:
    count}}}`` (filter.py:291-297) — into the engine's flat
    ``(key, value, count)`` dimension. The nested map explodes twice;
    the file is driver-dimension-sized so this is one task."""
    raw = spark.read.schema(
        "retrieval_date string, data map<string,map<string,bigint>>"
    ).option("multiLine", "true").json(path)
    return (
        raw.select(F.explode("data").alias("key", "values"))
        .select("key", F.explode("values").alias("value", "count"))
    )


def register_catalog_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None
) -> None:
    """Register fixtures as EXTERNAL catalog tables (no data copy —
    ``USING parquet LOCATION``) so they can carry persistent statistics,
    unlike temp views."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for name in names or TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        # drop-and-recreate, not IF NOT EXISTS: re-registering with a
        # different sf_dir must repoint the location, never silently keep
        # serving (and ANALYZE-ing) the previous scale factor's files
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(f"CREATE TABLE {name} USING parquet LOCATION '{path}'")


def analyze_tables(
    spark: SparkSession, names: tuple[str, ...]
) -> dict[str, dict[str, str]]:
    """O21 (reference hand-sets ``n_distinct`` planner hints,
    schema.sql:119-122, 175-177): compute real table + column statistics
    so Catalyst's cost-based optimizer gets row counts, sizes and NDVs —
    strictly better than the reference's hand-tuned constants, and AQE
    re-plans from actual runtime sizes on top. Returns the recorded
    stats per table for auditing."""
    out: dict[str, dict[str, str]] = {}
    for name in names:
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR ALL COLUMNS")
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        out[name] = {
            r.col_name: r.data_type for r in rows if r.col_name in ("Statistics",)
        }
    return out
