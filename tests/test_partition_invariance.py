"""Partition-count invariance: registered query results must not depend
on spark.sql.shuffle.partitions.

The driver's value-hash gate compares Spark against DuckDB at ONE
partitioning; these pins prove the Spark side is stable across
partitionings — the execution-layer property that makes the gate
meaningful at any cluster size. The sample is chosen adversarially:
queries whose aggregates involve floating point (log-ratio averages,
percentile interpolation, covariance passes), where partial-aggregation
ORDER is exactly what varies with the partition count. The repo's
rounding discipline (round at the output boundary, exact-integer
sufficient statistics where possible) is what's being certified.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE

# float-aggregation-heavy representatives + one window/rank query
_SAMPLE = [
    "doc_dsir_importance",      # per-doc avg of log ratios
    "events_sketch_stats",      # percentile interpolation + HLL contract
    "doc_bigram_logprob",       # avg(ln) per doc
    "emb_whitening_audit",      # two covariance sufficient-stat passes
    "lineitem_hist_quantiles",  # histogram + nearest-rank quantiles
    "doc_sentence_dedup",       # window rank over a string-keyed shuffle
    # r12 additions with float partial-aggregation or global rank
    "doc_kn_bigram_lm",         # avg(ln) of a 3-table smoothed ratio
    "emb_zscore_ood",           # stats collect + TakeOrdered top-k
    "doc_softdedup_reweight",   # per-doc avg(df) into a log-damped ratio
    "events_reservoir_sample",  # WindowGroupLimit bottom-k per group
]


@pytest.mark.parametrize("name", _SAMPLE)
def test_result_invariant_to_shuffle_partitions(spark, name):
    import __spark_entry__ as entrymod

    fn = entrymod.queries()[name]
    key = "spark.sql.shuffle.partitions"
    had = spark.conf.get(key)
    try:
        spark.conf.set(key, "3")
        low = sorted(tuple(r) for r in fn(spark, SF_SMOKE).collect())
        spark.conf.set(key, "32")
        high = sorted(tuple(r) for r in fn(spark, SF_SMOKE).collect())
    finally:
        spark.conf.set(key, had)
    assert low == high and len(low) > 0


# the iterative queries: the closures, and the graph queries whose
# kernels and loops share the broadcast bound
_ITERATIVE = [
    "customer_referral_closure",
    "customer_referral_rollup",
    "customer_dag_min_paths",
    "doc_dedup_clusters",
    "doc_graph_pagerank",
    "doc_graph_kcore",
]
_LAYOUTS = {
    "partitions_1": {"spark.sql.shuffle.partitions": "1"},
    "partitions_7": {"spark.sql.shuffle.partitions": "7"},
    "aqe_off": {"spark.sql.adaptive.enabled": "false"},
}


@pytest.mark.parametrize("layout", sorted(_LAYOUTS))
@pytest.mark.parametrize("name", _ITERATIVE)
def test_closures_match_oracle_under_layouts(spark, name, layout):
    """The iterative queries checkpoint and join once per round, so the
    partitioning of every round's frame changes with the layout; each
    layout's result must still value-match the DuckDB oracle."""
    import __spark_entry__ as entrymod
    from tools.check import compare, duck

    conf = _LAYOUTS[layout]
    had = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        df = entrymod.queries()[name](spark, SF_SMOKE)
        rows = [tuple(r) for r in df.collect()]
    finally:
        for k, v in had.items():
            spark.conf.set(k, v)
    con = duck(SF_SMOKE)
    assert compare(df.columns, rows, con.sql(entrymod.oracle_sql()[name])) == []


@pytest.mark.parametrize("layout", ["aqe_off", "partitions_7"])
@pytest.mark.parametrize("name", _ITERATIVE)
def test_closures_loop_path_match_oracle_under_layouts(spark, name, layout):
    """The same gate on the round loop: with the broadcast threshold at
    -1 the iterative queries skip their kernels, so the loop each one
    falls back to above that bound stays value-gated."""
    import __spark_entry__ as entrymod
    from tools.check import compare, duck

    conf = {**_LAYOUTS[layout], "spark.sql.autoBroadcastJoinThreshold": "-1"}
    had = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        df = entrymod.queries()[name](spark, SF_SMOKE)
        rows = [tuple(r) for r in df.collect()]
    finally:
        for k, v in had.items():
            spark.conf.set(k, v)
    con = duck(SF_SMOKE)
    assert compare(df.columns, rows, con.sql(entrymod.oracle_sql()[name])) == []
