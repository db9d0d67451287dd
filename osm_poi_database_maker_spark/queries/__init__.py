"""Query registry: every operator exposed through the driver contract.

Each submodule defines ``QUERIES`` (name → callable(spark, sf_dir) →
DataFrame) and ``ORACLES`` (name → equivalent DuckDB SQL). Conventions that
keep the driver's order-insensitive value-hash stable across engines:

* alias every computed column identically in Spark and SQL;
* round double aggregates (``F.round(...)`` / ``round(...)``) so
  partial-aggregation order can't flip low bits;
* cast timestamps to formatted strings at the output boundary;
* break every top-k / row_number tie with a deterministic key;
* NEVER let an oracle emit HUGEINT: DuckDB types integer ``sum()`` as
  HUGEINT (int128), which the driver's pandas-side canonicalizer
  (``.df()``) renders as float64 — ``15.0`` hash-mismatches Spark's
  ``15``. Wrap every integer sum, and anything derived from one
  (``min(sum(..))``, differences), in ``CAST(... AS BIGINT)``;
  the oracle comparator (``tools/check.compare``) rejects HUGEINT output
  columns outright.
"""

from __future__ import annotations

from . import (
    behavior,
    core,
    curation,
    dedup,
    events,
    multimodal,
    osm,
    profiling,
    similarity,
    streaming_queries,
    text,
)

_MODULES = (
    core,
    events,
    behavior,
    text,
    curation,
    dedup,
    similarity,
    osm,
    multimodal,
    profiling,
    streaming_queries,
)

QUERIES = {}
ORACLES = {}
# SF ≥ 0.1 oracle overrides: same result contract, sub-quadratic
# candidate generation where the independent-algorithm original is
# quadratic in SF. The DRIVER contract (oracle_sql()) always serves
# ORACLES — the driver gates at sf0.01; only tools/check.py swaps in
# ORACLES_BIG for large-SF batteries.
ORACLES_BIG = {}
for _m in _MODULES:
    _dup = QUERIES.keys() & _m.QUERIES.keys()
    assert not _dup, f"{_m.__name__} re-registers {sorted(_dup)}"
    QUERIES.update(_m.QUERIES)
    ORACLES.update(getattr(_m, "ORACLES", {}))
    ORACLES_BIG.update(getattr(_m, "ORACLES_BIG", {}))
