"""Sinks: PostgreSQL COPY / JDBC writers + parquet dead-letter (O12/O13).

The reference buffers rows and bulk-loads them with ``COPY FROM STDIN``
every 10k rows (reference filter.py:33-77, 192-211), aborting on duplicate
PKs and dumping failed batches to a CSV dead-letter file. Spark-first
equivalents:

* :func:`render_copy_rows` — the COPY text protocol line as a column
  expression (tab-separated, COPY-escaped, ``\\N`` for NULL) so the
  serialization is distributed and codegen'd;
* :func:`write_copy_postgres_cli` — ``foreachPartition`` + ``psql``:
  each of the N partitions pipes its rows into its own ``COPY FROM
  STDIN`` (N parallel COPYs ≙ the reference's single-threaded batched
  COPY, scaled out);
* :func:`write_jdbc` — plain-column path via Spark's JDBC writer with
  ``batchsize`` ≙ WRITE_AFTER;
* :func:`write_dead_letter` — parquet quarantine, replacing the CSV dump;
* idempotency: :func:`~.pipeline.dedup_latest` before the write + append
  semantics replace the reference's duplicate-PK abort.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: column order of the reference's COPY statements (filter.py:48-56);
#: the geometry column is ``geom`` for nodes and ``linestring`` for ways
#: (filter.py:43).
NODE_COPY_COLUMNS = ("id", "version", "user_id", "tstamp", "changeset_id", "tags_hstore", "geom")
#: the ways table carries the same fields but stores its geometry in a
#: ``linestring`` column — the DataFrame side keeps the neutral ``geom``
#: name and the switch happens in the COPY column list (copy_statement).
WAY_COPY_COLUMNS = NODE_COPY_COLUMNS


def copy_statement(
    table: str,
    columns: Sequence[str] = NODE_COPY_COLUMNS,
    geom_column: str = "geom",
) -> str:
    """The exact ``COPY`` SQL the bulk loader issues — factored out of
    :func:`write_copy_postgres_cli` so the per-table geometry column switch
    (``geom`` for nodes, ``linestring`` for ways — reference
    filter.py:43) is golden-testable without a live server."""
    target_cols = [geom_column if c == "geom" else c for c in columns]
    return f"COPY {table} ({', '.join(target_cols)}) FROM STDIN WITH (FORMAT text)"


def copy_escape(c: Column) -> Column:
    r"""COPY text-format escaping for a single field: backslash doubling
    plus control-character escapes. Applied on top of the hstore literal
    (whose own escaping is orthogonal).

    r14 opt round 1: literal ``replace`` instead of ``regexp_replace`` —
    every search pattern here is a single literal character, so the two
    are value-identical (all-occurrence, left-to-right literal scan),
    but ``replace`` needs no regex engine per field per row and its
    generated bytecode is a fraction of regexp_replace's: the six-field
    ``copy_line`` projection compiled to an 8 784-bytecode method, above
    HotSpot's 8 000-bytecode JIT ceiling, so the serializer ran
    interpreted for the life of the JVM (CodegenMetrics; the only such
    method left in the 259-query registry). With ``replace`` the same
    subtree's maxMethodCodeSize drops under the ceiling."""
    c = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit("\t"), F.lit("\\t"))
    c = F.replace(c, F.lit("\n"), F.lit("\\n"))
    c = F.replace(c, F.lit("\r"), F.lit("\\r"))
    return c


def copy_line(columns: Sequence[str]) -> Column:
    r"""The COPY text line as ONE column expression — tab-joined fields,
    ``\N`` for NULL, COPY-escaped (the reference's ``_osm_as_pg_row``,
    filter.py:139-152). Factored out of :func:`render_copy_rows` so
    composed pipelines can carry the serialized line NEXT TO audit
    columns (queries/osm.q_osm_poi_pipeline_full)."""
    parts = [
        F.when(F.col(c).isNull(), F.lit(r"\N")).otherwise(copy_escape(F.col(c).cast("string")))
        for c in columns
    ]
    return F.concat_ws("\t", *parts)


def render_copy_rows(df: DataFrame, columns: Sequence[str] = NODE_COPY_COLUMNS) -> DataFrame:
    r"""Project to one COPY text line per row (see :func:`copy_line`).
    Returns a 1-column DataFrame ``line``."""
    return df.select(copy_line(columns).alias("line"))


def write_copy_postgres_cli(
    df: DataFrame,
    socket_dir: str,
    dbname: str,
    user: str,
    table: str,
    columns: Sequence[str] = NODE_COPY_COLUMNS,
) -> None:
    """Bulk-load via one ``psql``-driven COPY stream per partition: each
    executor partition pipes its rendered text lines
    (:func:`render_copy_rows`) into ``psql -c "COPY ... FROM STDIN"``
    over a unix socket. Pure stdlib (subprocess), so the live-PG
    round-trip is testable wherever the server binaries exist, without
    a driver library. Scale: one connection per partition; throughput
    scales with partitions until Postgres is the bottleneck, and
    ``df.repartition(n)`` controls the fan-in."""
    import subprocess

    stmt = copy_statement(table, columns)
    lines = render_copy_rows(df, columns)

    def _write_partition(rows: Iterator) -> None:
        # Stream chunks into psql's stdin instead of materializing the
        # whole partition as one Python string — a large partition at
        # the 100 TB scale must not need O(partition) executor memory.
        it = iter(rows)
        try:
            first = next(it)
        except StopIteration:
            return
        proc = subprocess.Popen(
            ["psql", "-h", socket_dir, "-U", user, "-d", dbname,
             "-v", "ON_ERROR_STOP=1", "-c", stmt],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )
        try:
            chunk: list[str] = [first.line]
            size = len(first.line)
            for row in it:
                chunk.append(row.line)
                size += len(row.line)
                if size >= 1 << 20:  # ~1 MiB per write
                    proc.stdin.write(("\n".join(chunk) + "\n").encode())
                    chunk, size = [], 0
            if chunk:
                proc.stdin.write(("\n".join(chunk) + "\n").encode())
            # communicate() flushes + closes stdin and drains both pipes
            _, err = proc.communicate()
        except BrokenPipeError:
            _, err = proc.communicate()
        if proc.returncode != 0:
            raise RuntimeError(
                f"psql COPY failed (rc={proc.returncode}): "
                f"{err.decode()[:500]}"
            )

    lines.foreachPartition(_write_partition)


def write_jdbc(
    df: DataFrame, url: str, table: str, batchsize: int = 10_000, mode: str = "append"
) -> None:
    """Plain-column JDBC path; ``batchsize`` mirrors the reference's
    WRITE_AFTER=10000 micro-batch (settings_default.py:50)."""
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .mode(mode)
        .save()
    )


def write_routed(df: DataFrame, path: str) -> None:
    """O16 partitioned sink (reference routes rows to nodes vs ways
    tables, filter.py:185-211): one write, ``partitionBy("osm_type")``,
    each entity type in its own directory. Readers of a single type get
    partition pruning for free (`WHERE osm_type = 'node'` never touches
    way files)."""
    df.write.partitionBy("osm_type").mode("overwrite").parquet(path)


def merge_upsert(
    spark,
    target_path: str,
    updates: DataFrame,
    key: str = "id",
    version_cols: tuple[str, ...] = ("version", "tstamp"),
) -> None:
    """Idempotent upsert into a parquet table — the engine's MERGE INTO
    (the reference aborts on duplicate PKs, filter.py:58-64; we resolve
    instead): union target + updates, keep the highest ``version_cols``
    row per key, swap the rewritten table in. Ties on ``version_cols``
    resolve in favor of the UPDATES side, so a same-version correction
    always lands and replays stay deterministic.

    Scale note: this rewrites the whole table — correct and simple for
    dimension-sized tables; fact-sized targets should partition (layout
    module) and rewrite only the partitions the updates touch, or use a
    table format with transactional merge (Delta/Iceberg). The swap is
    LOCAL-filesystem only (os.rename): target→.__old__,
    staging→target, drop .__old__ — and :func:`_recover_swap` runs
    before the exists-probe, so a crash at any point in that sequence
    is rolled forward or back automatically; the target is never
    treated as absent while a renamed-away copy still exists (this
    also covers a crash left by an older build's legacy ``.old`` name,
    recovered ROLL-FORWARD-ONLY so a user's manual ``.old`` backup
    beside a healthy target is never touched). Object-store targets
    need a transactional table format instead."""
    import os

    from pyspark.sql.window import Window

    target = target_path.rstrip("/")
    # roll an interrupted previous swap forward/back BEFORE the exists
    # probe: a crash that left target renamed to .__old__ must not make
    # this run treat the table as absent and silently drop history
    _recover_swap(target)
    exists = os.path.exists(target_path)
    if exists:
        # read/union failures (corrupt target, schema drift) must RAISE —
        # never silently degrade to updates-only and wipe history
        current = spark.read.parquet(target_path).withColumn("__src", F.lit(0))
        merged = current.unionByName(updates.withColumn("__src", F.lit(1)))
    else:
        merged = updates.withColumn("__src", F.lit(1))
    w = Window.partitionBy(key).orderBy(
        *[F.desc(c) for c in version_cols], F.desc("__src")
    )
    latest = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )
    latest.write.mode("overwrite").parquet(target + _STAGING_SUFFIX)
    if exists:
        _atomic_swap(target)
    else:
        os.rename(target + _STAGING_SUFFIX, target)


def write_dead_letter(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """Quarantine sink (reference dumps failed batches to
    logs/error_obj_list.csv, filter.py:72-73): append-mode so re-runs
    accumulate an auditable reject log. ``fmt="csv"`` reproduces the
    reference's artifact byte-for-byte shape (header row, one file per
    partition); parquet is the default for typed re-ingestion."""
    out = df.withColumn("_quarantined_at", F.current_timestamp())
    writer = out.write.mode("append")
    if fmt == "csv":
        writer.option("header", "true").csv(path)
    else:
        writer.parquet(path)


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 128 << 20,
    order_by: Sequence[str] = (),
) -> dict[str, int]:
    """Compact a small-files parquet directory in place: read, size the
    output file count from the ACTUAL on-disk bytes (never a row-count
    guess), optionally range-sort for clustering, and atomically swap.

    The operational pain this solves at 100 TB: every micro-batch /
    per-task write leaves files far under the HDFS-block-ish sweet spot,
    and a 10⁶-file table is slow to list, plan, and read long before it
    is big. Compaction is one read + one shuffle-free coalesce (or a
    range exchange when ``order_by`` asks for clustering — sorted output
    gets min/max-pruned on the sort key by later scans).
    Hive-partitioned layouts (``key=value`` directories) are detected
    from the on-disk paths and preserved via ``partitionBy`` — the swap
    never silently flattens a partitioned table.

    Same staging + rename protocol as :func:`merge_upsert`: a NEW reader
    between the two renames (or after a crash in that window) sees a
    missing/stale directory — in-flight Spark jobs that already listed
    files are unaffected. Run it from the single writer that owns the
    table, as any in-place rewrite.

    Returns {"files_before", "files_after", "bytes"}.
    """
    import glob
    import os
    import shutil

    files = [
        f
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.isfile(f)
    ]
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total // target_file_bytes))
    # hive-partition columns, in directory order, from any file's path
    part_cols: list[str] = []
    if files:
        rel = os.path.relpath(files[0], path)
        part_cols = [
            seg.split("=", 1)[0] for seg in rel.split(os.sep)[:-1] if "=" in seg
        ]
    df = spark.read.parquet(path)
    if order_by:
        out = df.repartitionByRange(n_out, *[F.col(c) for c in order_by]).sortWithinPartitions(
            *order_by
        )
    else:
        out = df.coalesce(n_out)
    target = path.rstrip("/")
    _recover_swap(target)
    writer = out.write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(target + _STAGING_SUFFIX)
    _atomic_swap(target)
    after = len(
        [
            f
            for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
            if os.path.isfile(f)
        ]
    )
    return {"files_before": len(files), "files_after": after, "bytes": total}


_STAGING_SUFFIX = ".__staging__"
_OLD_SUFFIX = ".__old__"
# Suffixes used by earlier builds of this protocol. A crash under OLD code
# can leave e.g. `target.old` with `target` missing; if recovery only knew
# the current names, the next merge_upsert would treat the table as absent
# and silently rebuild it from updates alone — the exact history loss the
# swap protocol exists to prevent. BUT these names are collision-prone
# (a user's manual `cp -r table table.old` backup is indistinguishable
# from a crash remnant), so legacy handling is ROLL-FORWARD ONLY: a
# legacy old-copy is renamed into place iff the target is missing (the
# history-loss case); legacy dirs sitting beside a present target are
# never deleted. The dunder names are collision-proof by convention and
# keep the full recover-and-clean behavior.
_LEGACY_OLD_SUFFIXES = (".old",)
# Staging names earlier builds wrote before their rename swap. Their
# presence beside a legacy `.old` is the corroborating evidence that the
# `.old` is a crash remnant and not a user's manual backup: the old-build
# crash window (after `target -> target.old`, before `staging -> target`)
# necessarily leaves the staging directory behind, whereas a deliberate
# `rm -rf table` after a `cp -r table table.old` backup leaves no staging.
_LEGACY_STAGING_SUFFIXES = (".staging", ".__compacting__")


def _recover_swap(target: str) -> None:
    """Crash recovery for the staging/old rename swap around ``target``:
    roll an interrupted swap forward or back so the target directory is
    always present-and-consistent before new work starts.

    * ``.__old__`` present, target missing → crash BETWEEN the renames:
      roll back (rename old → target). A legacy ``.old`` with the target
      missing is promoted ONLY when a legacy staging remnant sits beside
      it — the signature an old-build crash necessarily leaves — so a
      user's manual ``cp -r table table.old`` backup is never consumed
      after they deliberately delete the table (r5 advice). Without the
      remnant the ``.old`` is left alone and a loud warning is logged.
    * ``.__old__`` and target both present → crash after the swap,
      before cleanup: drop the old copy. Legacy ``.old`` beside a
      present target is left UNTOUCHED — it may be a user backup.
    * ``.__staging__`` present → incomplete write: drop it. Legacy
      staging names (``.staging`` / ``.__compacting__``) are left in
      place — they are inert, and deleting them could destroy an
      unrelated user directory — EXCEPT after a successful legacy
      promotion, where the corroborating remnant is renamed aside
      (``*.__recovered__``) so the crash signature is consumed with the
      recovery and cannot later vouch for a user's manual backup.
    """
    import os
    import shutil

    old = target + _OLD_SUFFIX
    if os.path.exists(old):
        if os.path.exists(target):
            shutil.rmtree(old)
        else:
            os.rename(old, target)
    if not os.path.exists(target):
        crash_evidence = any(
            os.path.exists(target + s) for s in _LEGACY_STAGING_SUFFIXES
        )
        for old_sfx in _LEGACY_OLD_SUFFIXES:
            legacy = target + old_sfx
            if os.path.exists(legacy):
                if crash_evidence:
                    os.rename(legacy, target)
                    # Consume the crash signature with the recovery: the
                    # staging remnant corroborated THIS promotion; left in
                    # place it would also "corroborate" a future manual
                    # `.old` backup after a deliberate delete — the exact
                    # case the guard exists to protect. Rename it aside
                    # (not delete — it may hold partial data worth
                    # inspecting) so it can never double as evidence.
                    for stg_sfx in _LEGACY_STAGING_SUFFIXES:
                        remnant = target + stg_sfx
                        if os.path.exists(remnant):
                            recovered = remnant + ".__recovered__"
                            if os.path.exists(recovered):
                                shutil.rmtree(recovered)
                            os.rename(remnant, recovered)
                else:
                    import logging

                    logging.getLogger(__name__).warning(
                        "found %s with %s missing but no legacy staging "
                        "remnant — treating it as a user backup, NOT a "
                        "crash remnant; rename it to %s manually if it "
                        "should be the live table",
                        legacy,
                        target,
                        target,
                    )
                break
    staging = target + _STAGING_SUFFIX
    if os.path.exists(staging):
        shutil.rmtree(staging)


def _atomic_swap(target: str) -> None:
    """Swap ``target.__staging__`` into place: target → .__old__,
    staging → target, drop .__old__. Callers write staging first and
    run :func:`_recover_swap` before starting."""
    import os
    import shutil

    staging, old = target + _STAGING_SUFFIX, target + _OLD_SUFFIX
    os.rename(target, old)
    os.rename(staging, target)
    shutil.rmtree(old)


def purge_keys(
    spark,
    path: str,
    keys: DataFrame,
    key: str = "user_id",
) -> dict[str, int]:
    """Right-to-be-forgotten purge: delete every row whose ``key`` is in
    ``keys`` from a hive-partitioned parquet table, rewriting ONLY the
    partitions that actually contain a match — untouched partitions'
    files are never opened for write, so a deletion batch against a
    1000-partition table costs proportional to the partitions it hits,
    not the table.

    Per partition DIRECTORY (never via Spark's decoded partition
    values — type inference, URL-escaping, and NULL partitions all make
    decoded values fail to round-trip to directory names, which would
    silently skip matching partitions): one key-column semi-join count
    decides whether the partition is affected (clean partitions cost a
    single pruned key-column scan and are never opened for write);
    affected partitions anti-join against the broadcast key set into a
    staging dir and swap atomically. A crash mid-swap is rolled forward
    or back by :func:`_recover_swap` on the next run, so the partition
    is never left missing. A partition left empty by the purge is
    removed outright. Multi-level partition layouts are rejected (the
    per-directory rewrite would flatten nested levels); single-level
    covers the engine's own layouts, and deeper trees belong in a
    transactional table format anyway.

    LOCAL-filesystem rename semantics, single-writer assumption, and
    the "fact-sized tables should use a transactional format" note all
    carry over from merge_upsert. Returns
    {"partitions_total", "partitions_rewritten", "rows_deleted"}.
    """
    import glob
    import os
    import shutil

    # recover interrupted swaps FIRST: a partition renamed to .__old__
    # mid-crash is invisible to the partition glob until rolled back
    for stray in glob.glob(os.path.join(path, "*")):
        for suffix in (_OLD_SUFFIX, _STAGING_SUFFIX, *_LEGACY_OLD_SUFFIXES):
            if stray.endswith(suffix):
                _recover_swap(stray[: -len(suffix)])
    part_dirs = sorted(
        d
        for d in glob.glob(os.path.join(path, "*"))
        if os.path.isdir(d)
        and "=" in os.path.basename(d)
        and not os.path.basename(d).endswith((_STAGING_SUFFIX, _OLD_SUFFIX))
    )
    if not part_dirs:
        raise ValueError(f"{path} is not a hive-partitioned table")
    for d in part_dirs:
        nested = [
            sub
            for sub in glob.glob(os.path.join(d, "*"))
            if os.path.isdir(sub) and "=" in os.path.basename(sub)
        ]
        if nested:
            raise ValueError(
                f"{path} is multi-level partitioned ({os.path.basename(d)}/"
                f"{os.path.basename(nested[0])}); purge_keys supports one "
                "level — use a transactional table format for deeper trees"
            )

    keyset = F.broadcast(keys.select(F.col(key)).distinct())
    rewritten = 0
    deleted = 0
    for d in part_dirs:
        part = spark.read.parquet(d)
        # pruned key-column scan; the ONLY cost on clean partitions
        n_match = part.join(keyset, key, "left_semi").count()
        if n_match == 0:
            continue
        # plain parquet count() answers from footer metadata — no scan
        n_after = part.count() - n_match
        if n_after:
            part.join(keyset, key, "left_anti").write.mode("overwrite").parquet(
                d + _STAGING_SUFFIX
            )
            _atomic_swap(d)
        else:
            shutil.rmtree(d)
        rewritten += 1
        deleted += n_match
    return {
        "partitions_total": len(part_dirs),
        "partitions_rewritten": rewritten,
        "rows_deleted": deleted,
    }
