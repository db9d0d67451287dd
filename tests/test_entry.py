"""Driver-contract tests: entry(), queries(), oracle_sql(), and the
oracle gate — every registered query value-matches its DuckDB oracle."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_SMOKE
from tools.check import compare, duck


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["event_type", "n_events", "sum_value", "avg_value", "n_users"]


def test_oracle_keys_subset_of_queries():
    """Every registered query carries an oracle: the gate has no rows-only
    case."""
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) == set(qs)
    assert len(qs) >= 20


def test_sketch_stats_within_tolerance(spark):
    from pyspark.sql import functions as F

    from osm_poi_database_maker_spark.io import load_table
    from osm_poi_database_maker_spark.queries.events import q_events_sketch_stats

    rows = {r.event_type: r for r in q_events_sketch_stats(spark, SF_SMOKE).collect()}
    e = load_table(spark, SF_SMOKE, "events")
    exact = {
        r.event_type: r
        for r in e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.expr("percentile(value, 0.5)").alias("p50"),
        )
        .collect()
    }
    assert set(rows) == set(exact)
    for t, a in rows.items():
        x = exact[t]
        # in-band exact columns agree with the independent recompute
        assert a.exact_users == x.users
        assert abs(a.p50_exact - x.p50) < 1e-3
        # every sketch meets its published error contract
        assert a.users_within_bound
        assert a.p50_within_rank_bound and a.p95_within_rank_bound


_KV = "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(k, v)"


@pytest.mark.parametrize(
    "oracle, cols, rows, problem",
    [
        # DuckDB types integer sum() as HUGEINT; the values still match
        ("SELECT sum(x) AS s FROM range(6) t(x)", ["s"], [(15,)], "HUGEINT"),
        (_KV, ["k", "v"], [(1, "a"), (2, "c")], "valuehash"),
        (_KV, ["k", "w"], [(1, "a"), (2, "b")], "schema"),
        (_KV, ["k", "v"], [(1, "a"), (2, "b"), (3, "c")], "rowcount"),
        (_KV, ["v", "k"], [("b", 2), ("a", 1)], None),
        ("SELECT 15.0::DOUBLE AS n", ["n"], [(15,)], None),
    ],
    ids=["hugeint", "value", "renamed", "extra_row", "reordered", "int_vs_double"],
)
def test_compare(oracle, cols, rows, problem):
    """The gate below is the only tier-1 parity check, so its comparator
    must flag each class of mismatch and ignore row/column order and
    Spark-int vs DuckDB-double renderings of the same number."""
    problems = compare(cols, rows, duckdb.sql(oracle))
    if problem is None:
        assert problems == []
    else:
        assert problems and problem in problems[0]


@pytest.fixture(scope="module")
def con():
    return duck(SF_SMOKE)


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_query_runs_on_smoke_sf(spark, con, name):
    """The oracle gate: the query runs at sf0.001 and its collected rows
    value-match ORACLES[name]."""
    df = entrymod.queries()[name](spark, SF_SMOKE)
    rows = [tuple(r) for r in df.collect()]
    assert compare(df.columns, rows, con.sql(entrymod.oracle_sql()[name])) == []
