"""Fast oracle hygiene: every registered DuckDB oracle must plan
(EXPLAIN) and bind to HUGEINT-free output against the smoke fixtures
without executing. Catches SQL syntax/column drift in seconds; value
parity is tests/test_entry.py::test_query_runs_on_smoke_sf's job."""

from __future__ import annotations

import pytest

from osm_poi_database_maker_spark.queries import ORACLES
from tests.conftest import SF_SMOKE
from tools.check import duck


@pytest.fixture(scope="module")
def con():
    return duck(SF_SMOKE)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_explains(con, name):
    con.execute(f"EXPLAIN {ORACLES[name]}")


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_no_hugeint_output(con, name):
    """DuckDB types integer sum() as HUGEINT (int128); a pandas-side
    canonicalizer renders HUGEINT as float64 and the value hash breaks
    (15.0 vs 15). Binding the oracle and checking output types keeps the
    class unshippable."""
    rel = con.sql(ORACLES[name])
    huge = [
        c
        for c, t in zip(rel.columns, rel.types)
        if str(t).upper() in ("HUGEINT", "UHUGEINT")
    ]
    assert not huge, f"oracle {name} emits HUGEINT column(s) {huge}"
