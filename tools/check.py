"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given SF dir, then compares row count, schema (column names,
sorted), and an order-insensitive value hash (columns sorted by name, rows
sorted, values canonicalized). Exit non-zero on any mismatch.

``duck`` and ``compare`` are the parity primitive; tier-1's
``tests/test_entry.py::test_query_runs_on_smoke_sf`` runs them on every query
at sf0.001.

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _hash_rows(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _sf_of(sf_dir: str) -> float:
    """Parse the scale factor from a .../sfX.Y dir name (0.0 if absent)."""
    import re

    m = re.search(r"sf(\d+(?:\.\d+)?)", os.path.basename(sf_dir.rstrip("/")))
    return float(m.group(1)) if m else 0.0


def duck(sf_dir: str):
    """A DuckDB connection with one view per fixture table under sf_dir."""
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def compare(s_cols: list[str], s_rows: list[tuple], rel) -> list[str]:
    """Problems between a Spark result and its DuckDB oracle relation
    (empty list = match): HUGEINT output, schema, row count, value hash,
    and on a hash mismatch the first 3 differing canonical rows."""
    d_cols = list(rel.columns)
    # Driver parity: the driver canonicalizes DuckDB results pandas-side
    # (`.df()`), where HUGEINT (int128 — DuckDB's type for integer sum())
    # degrades to float64 and hashes as `15.0` against Spark's `15`.
    # fetchall() hides this (Python ints), so reject HUGEINT outputs
    # outright — oracles must CAST integer sums (and anything derived from
    # one) to BIGINT.
    huge = [
        c for c, t in zip(d_cols, rel.types) if str(t).upper() in ("HUGEINT", "UHUGEINT")
    ]
    if huge:
        return [
            f"oracle emits HUGEINT column(s) {huge} — "
            "the driver's pandas canonicalizer renders HUGEINT as "
            "float64; CAST(... AS BIGINT) in the oracle SQL"
        ]
    d_rows = rel.fetchall()
    problems = []
    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"schema spark={sorted(s_cols)} duck={sorted(d_cols)}")
    if len(s_rows) != len(d_rows):
        problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
    if not problems:
        hs = _hash_rows(s_cols, s_rows)
        hd = _hash_rows(d_cols, d_rows)
        if hs != hd:
            problems.append(f"valuehash spark={hs} duck={hd}")
            srt = lambda cols, rows: sorted(  # noqa: E731
                tuple(_canon(r[i]) for i in sorted(range(len(cols)), key=lambda j: cols[j]))
                for r in rows
            )
            a, b = srt(s_cols, s_rows), srt(d_cols, d_rows)
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            for x, y in diffs:
                problems.append(f"  spark row {x}\n  duck  row {y}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from osm_poi_database_maker_spark.queries import ORACLES_BIG
    from osm_poi_database_maker_spark.session import get_spark

    spark = get_spark("correctness-check")
    con = duck(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if _sf_of(sf_dir) >= 0.1:
        # Battery-time budget (SCALE.md §battery-budget): at SF ≥ 0.1
        # swap in sub-quadratic oracle forms for the queries whose
        # independent-algorithm oracle is quadratic in SF. The sf0.01
        # gate (and the driver) always runs the originals.
        oracles = {**oracles, **ORACLES_BIG}
    unknown = only - set(qs)
    if unknown:
        print(f"unknown query names: {sorted(unknown)}")
        return 2
    failures = []
    n_run = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_run += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(s_rows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            problems = compare(s_cols, s_rows, con.sql(oracles[name]))
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {exc}")
            failures.append(name)
            continue
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"ok   {name}: {len(s_rows)} rows match ({time.time()-t0:.1f}s)")
    print(f"\n{n_run - len(failures)}/{n_run} pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
