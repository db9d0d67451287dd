"""Skew- and shuffle-management operators.

Two complements to AQE (which the session enables globally):

* :func:`salted_join` — explicit key salting for joins whose hot keys are
  known to dwarf AQE's skew-split thresholds (the classic
  one-user-is-40%-of-events shape). The hot side's key is widened with a
  random-but-deterministic salt, the dimension side is exploded once per
  salt value, and the join key becomes (key, salt) — splitting each hot
  key's row group across ``n_salts`` reducers.
* :func:`write_bucketed` — persistent co-location: both sides of a
  recurring equi-join written bucketed on the join key join WITHOUT a
  shuffle (the Osmosis ``way_nodes ⨝ nodes`` assembly pattern at 100 TB;
  SURVEY §2 O10/P8). Bucketed tables require ``saveAsTable`` (bucket
  metadata lives in the catalog, not the parquet footer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    skewed: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where ``skewed[key]`` has pathological hot values.

    The skewed side gets ``salt = pmod(xxhash64(<row identity>), n)`` —
    deterministic per row content, no rand() so retries/recomputes are
    stable; the dim side is exploded ``n_salts``× (dimension-sized, so
    the blowup is bounded) and the join runs on (key, salt).

    Supported ``how``: inner / left / left_semi / left_anti — shapes
    where unmatched DIM rows never surface. right/full would emit each
    unmatched dim row once per salt copy (n_salts duplicates), so they
    are rejected.
    """
    if how.replace("outer", "").strip("_") in ("right", "full", ""):
        raise ValueError(
            f"salted_join does not support how={how!r}: unmatched dim rows "
            "would be duplicated once per salt copy"
        )
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(n_salts))
    left = skewed.withColumn("__salt", salt.cast("int"))
    right = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = left.join(right, [key, "__salt"], how)
    return out.drop("__salt")


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 32,
    path: str | None = None,
) -> None:
    """Write a table bucketed (and sorted) on the join key. Two tables
    bucketed with the SAME bucket count on the same key equi-join with
    zero Exchange in the plan — the shuffle is paid once at write time,
    then amortized over every subsequent join. ``path`` makes the table
    external (data at ``path``, bucket metadata in the catalog)."""
    writer = df.write.bucketBy(n_buckets, key).sortBy(key)
    if path:
        writer = writer.option("path", path)
    writer.mode("overwrite").format("parquet").saveAsTable(table)
