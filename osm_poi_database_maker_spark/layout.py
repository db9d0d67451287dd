"""At-rest table layouts for a production lakehouse.

The fixtures arrive as single parquet files; at 100 TB every table gets a
layout that turns the common predicates into partition pruning or
row-group skipping, paid once at write time:

| table      | layout                                   | pruned predicate |
|---|---|---|
| events     | ``partitionBy(event_date)``              | time ranges      |
| documents  | bucketed by doc_id (``ops/skew``)        | dedup/join keys  |
| embeddings | ``partitionBy(ivf_cell)``                | ANN probes       |
| nodes/POIs | range-partition by grid cell + Z-order (``spatial``) | bbox |

Each writer returns the reader-side DataFrame so callers can verify the
pruned plan (`PartitionFilters` in explain output; tests assert it).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def write_events_by_day(events: DataFrame, path: str) -> None:
    """Daily partitions: a `ts >= X` filter reads only the matching
    ``event_date=...`` directories (PartitionFilters — zero IO for the
    rest). Day granularity keeps partition counts sane at 100 TB
    (~365/year, each internally splittable by file size)."""
    (
        events.withColumn("event_date", F.to_date("ts"))
        .write.partitionBy("event_date")
        .mode("overwrite")
        .parquet(path)
    )


def read_events_day_range(
    spark: SparkSession, path: str, start: str, end: str
) -> DataFrame:
    """Time-range read over the daily layout; the date predicate prunes
    partitions at planning time (no file listing beyond the range)."""
    df = spark.read.parquet(path)
    return df.filter((F.col("event_date") >= start) & (F.col("event_date") <= end))


def write_embeddings_by_cell(embeddings: DataFrame, path: str, cells: "object") -> None:
    """IVF inverted lists as partition directories: assign each vector to
    its nearest centroid cell (``similarity.train_ivf_centroids``) and
    partition by it — an ANN probe of n cells reads n directories."""
    from .similarity import nearest_cell_udf

    nearest_cell = nearest_cell_udf(cells)
    (
        embeddings.withColumn("ivf_cell", nearest_cell(F.col("embedding")))
        .write.partitionBy("ivf_cell")
        .mode("overwrite")
        .parquet(path)
    )
