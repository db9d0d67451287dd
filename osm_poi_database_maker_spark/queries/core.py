"""Core relational operators over the TPC-H-ish fixtures.

Covers the reference's relational surface re-expressed on the driver
fixtures: projection/filter/agg (SURVEY.md O2, O11), multi-way joins with
broadcast dims (O6's join shape), window top-k (O14's top-100-per-key),
explode (O17), set ops, and rollup.

Scale notes per query are in the docstrings; the common themes:
* dims (region, nation, supplier) are broadcast — no shuffle on the fact;
* aggregations rely on partial (map-side) aggregation, which Spark's
  hash-aggregate does automatically;
* top-k per group is a single shuffle on the partition key then a local
  sort — no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import derived_path, fixture_version, load_table, write_once


# --- pricing summary (TPC-H Q1 shape: filter → wide agg) -------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter + grouped wide aggregation (reference capability: O2/O11 agg
    and projection surface). One shuffle on the 2-value group key; partial
    aggregation makes the shuffle tiny regardless of input size.
    """
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# --- star join with broadcast dims (revenue per region/nation) -------------

def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way star join: lineitem ⨝ orders ⨝ customer ⨝ nation ⨝ region.

    nation/region are broadcast explicitly (≤25 rows); customer joins via
    shuffle at scale (AQE may still broadcast it at small SF). The fact
    table is never shuffled more than once per join key.
    """
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_lineitems"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


ORACLE_REVENUE = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lineitems,
       count(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped volume-shipping: revenue flowing between every
    ordered (supplier nation → customer nation) pair per ship year —
    the deepest join tree in the registry (lineitem ⨝ supplier ⨝ orders
    ⨝ customer ⨝ nation ×2, the two nation dims under distinct aliases).

    Both nation joins broadcast (25 rows); supplier and orders join via
    shuffle on the fact's own keys, so the fact table is exchanged once
    per join key and the post-join aggregate is a tiny
    (|nations|²·|years|) hash agg."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    return (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        # exact money arithmetic: price and discount both carry 2
        # decimals, so price·(1-disc) in 1e-4 currency units is an exact
        # int64 — the group sum is identical across engines by
        # construction (double sums here landed on half-cent boundaries
        # and flipped the last rounded digit between engines)
        .agg(
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                    * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
                )
                / F.lit(10000.0)
            ).alias("volume"),
            F.count("*").alias("n_lineitems"),
        )
    )


ORACLE_VOLUME_SHIPPING = """
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS ship_year,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0
         AS volume,
       count(*) AS n_lineitems
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name <> n2.n_name
GROUP BY 1, 2, 3
"""


# --- national market share (TPC-H Q8 shape) ---------------------------------

_MKT_REGION = "ASIA"
_MKT_NATION = "NATION_7"
_MKT_TYPE = "PROMO"


def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (TPC-H Q8 shape — the widest join tree in
    the registry, 7 tables): among PROMO-type parts sold to customers in
    ASIA, NATION_7's share of yearly revenue volume — the conditional-
    aggregate-over-a-snowflake pattern that stresses join ORDERING more
    than any other classic.

    Plan: the part filter is the most selective input, so the p_type
    survivors broadcast into the fact FIRST (the scan never carries
    non-PROMO line items past the first join); orders then customer
    join on the fact's own keys (size-based planning broadcasts both at
    every tested SF; at 100 TB they become shuffle joins on the same
    plan); the customer-nations-in-ASIA dimension collapses to a
    broadcast LEFT SEMI key set (nation ⨝ region prefiltered — the
    fact never widens); supplier joins on l_suppkey and its 25-row
    nation name broadcasts last. The final
    aggregate is |years| rows. Money is the repo's exact integer-cent
    arithmetic, and the share is a ratio of two exact int sums — the
    1e4 scale factors cancel, so the divide is bit-identical across
    engines before the round(4)."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_extendedprice", "l_discount"
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == _MKT_TYPE)
        .select("p_partkey")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == _MKT_REGION)
    region_nations = n.join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    ).select("n_nationkey")
    supp_nation = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    vol_cents = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    )
    joined = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(region_nations),
            c.c_nationkey == region_nations.n_nationkey,
            "left_semi",
        )
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("s_nkey"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(vol_cents).alias("all_cents"),
            F.sum(
                F.when(F.col("supp_nation") == _MKT_NATION, vol_cents).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("nat_cents"),
        )
        .select(
            "o_year",
            F.round(F.col("nat_cents") / F.col("all_cents"), 4).alias("mkt_share"),
            F.round(F.col("all_cents") / F.lit(10000.0), 2).alias("region_volume"),
        )
    )


ORACLE_MARKET_SHARE = f"""
WITH j AS (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         n2.n_name AS supp_nation,
         CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS vol_cents
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = '{_MKT_TYPE}'
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey AND r_name = '{_MKT_REGION}'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
)
SELECT o_year,
       round(sum(CASE WHEN supp_nation = '{_MKT_NATION}' THEN vol_cents ELSE 0 END)
             / CAST(sum(vol_cents) AS DOUBLE), 4) AS mkt_share,
       round(sum(vol_cents) / 10000.0, 2) AS region_volume
FROM j
GROUP BY 1
"""


# --- returned-item reporting (TPC-H Q10 shape) ------------------------------

_RETURNED_TOPK = 20


def q_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item reporting (TPC-H Q10 shape): the 20 customers who
    cost the most revenue in returned line items (l_returnflag = 'R'),
    with their nation — the who-is-returning-everything view.

    Plan: the returnflag predicate pushes to the fact scan (row-group
    pruning on the low-cardinality flag); orders/customer join on the
    fact's own keys (size-based planning broadcasts them at tested SFs,
    shuffle at 100 TB — no hint); the 25-row nation dim broadcasts; the
    per-customer aggregate is one map-side-combining exchange and the
    top-20 is TakeOrderedAndProject with the (revenue desc, custkey)
    tie-break in both engines. Money is the exact integer-cent
    convention, and the ranking key is the ROUNDED revenue in both
    engines (repo boundary-rounding convention — DuckDB's outer
    ORDER BY binds the output alias, i.e. the rounded value, so Spark
    must rank on the rounded value too or boundary ties diverge)."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    vol_cents = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            # round BEFORE the top-k ordering: both engines rank the
            # same 2-decimal value, so boundary ties at slot 20 break
            # identically on c_custkey
            F.round(F.sum(vol_cents) / F.lit(10000.0), 2).alias("lost_revenue"),
            F.count("*").alias("n_returned_items"),
            F.round(F.first("c_acctbal"), 2).alias("acctbal"),
        )
        .orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
        .limit(_RETURNED_TOPK)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            "lost_revenue",
            "n_returned_items",
            "acctbal",
        )
    )


ORACLE_RETURNED = f"""
SELECT c.c_custkey, c.c_name, n.n_name,
       -- rounded in the aggregate so ORDER BY ranks the same 2-decimal
       -- value Spark ranks (boundary-rounding convention)
       round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) / 10000.0,
             2) AS lost_revenue,
       count(*) AS n_returned_items,
       round(any_value(c.c_acctbal), 2) AS acctbal
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY lost_revenue DESC, c_custkey ASC
LIMIT {_RETURNED_TOPK}
"""


def q_orders_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 interval builder: each
    customer's order stream becomes a validity-interval history —
    effective_from = the order's date, effective_to = the next order's
    date (NULL while current), plus the running order sequence — the
    standard warehouse pattern for reconstructing "what was the latest
    state as of T" without a separate CDC system.

    One shuffle on o_custkey for the lead/row_number windows (bounded
    per customer, never global); o_orderkey breaks same-day ties
    deterministically. Timestamps leave as formatted strings per the
    registry's hashing convention."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.row_number().over(w).alias("version_seq"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("effective_from"),
        F.date_format(nxt, "yyyy-MM-dd").alias("effective_to"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
        F.round("o_totalprice", 2).alias("totalprice"),
    )


ORACLE_SCD2 = """
SELECT o_custkey AS custkey,
       o_orderkey AS orderkey,
       CAST(row_number() OVER w AS INT) AS version_seq,
       strftime(o_orderdate, '%Y-%m-%d') AS effective_from,
       strftime(lead(o_orderdate) OVER w, '%Y-%m-%d') AS effective_to,
       CASE WHEN lead(o_orderdate) OVER w IS NULL THEN 1 ELSE 0 END
         AS is_current,
       round(o_totalprice, 2) AS totalprice
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


# --- as-of snapshot over the SCD2 history (time travel) --------------------

_ASOF_DATE = "1995-06-30"


def q_orders_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time snapshot — "what was each customer's state as of
    T" reconstructed from the order stream, the read side of the SCD2
    pattern (q_orders_scd2_intervals builds the history; this query
    picks the interval containing T = {_ASOF_DATE}): per customer, the
    latest order at or before T by the SAME (o_orderdate, o_orderkey)
    ordering the interval builder uses, plus the as-of version sequence
    (how many state changes had happened by T).

    One shuffle on o_custkey; the as-of date prunes the scan first
    (PushedFilters), so at 100 TB the window reads only the history
    prefix — and on a date-partitioned layout (layout module) only the
    matching partitions."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") <= _ASOF_DATE
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    wc = Window.partitionBy("o_custkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .withColumn("version_seq", F.count("*").over(wc))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("version_seq").cast("long").alias("version_seq"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("effective_from"),
            F.col("o_orderstatus").alias("status"),
            F.round("o_totalprice", 2).alias("totalprice"),
        )
    )


ORACLE_ASOF = f"""
SELECT o_custkey AS custkey,
       o_orderkey AS orderkey,
       CAST(count(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS version_seq,
       strftime(o_orderdate, '%Y-%m-%d') AS effective_from,
       o_orderstatus AS status,
       round(o_totalprice, 2) AS totalprice
FROM orders
WHERE o_orderdate <= DATE '{_ASOF_DATE}'
QUALIFY row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
"""


# --- bucketed co-located join (shuffle paid once at write time) ------------


def q_orders_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located equi-join over BUCKETED at-rest tables — the planner
    analogue of osm_cell_layout_scan for the join side (reference: the
    `way_nodes ⨝ nodes` assembly pattern; O10/O20 at 100 TB): orders
    and customer are written once bucketBy(16, custkey) + sortBy at an
    ``io.derived_path`` keyed by the source table's fixture version,
    and each session registers them in its catalog as external bucketed
    tables over those files, so no process ever rewrites or deletes
    another's live table. The join then runs with ZERO Exchange before
    the SortMergeJoin — the shuffle was paid at write time and is
    amortized over every subsequent join (tests/test_skew.py pins the
    no-Exchange plan; PLANS.md shows it). The DuckDB oracle computes
    the plain join over the raw parquet, so the bucketed path is also
    gated for semantic neutrality."""
    import os

    from ..ops.skew import write_bucketed

    def ensure(name: str, key: str, *cols: str) -> str:
        path = derived_path(f"bkt_{name}", sf_dir, fixture_version(sf_dir, name))
        table = os.path.basename(path).removeprefix("ospdms_")
        if spark.catalog.tableExists(table):
            return table
        df = load_table(spark, sf_dir, name).select(*cols)

        def write(tmp: str) -> None:
            try:
                write_bucketed(df, table, key, n_buckets=16, path=tmp)
            finally:
                # external table: dropping it keeps the files at tmp
                spark.sql(f"DROP TABLE IF EXISTS {table}")

        write_once(path, write)
        spark.sql(
            f"CREATE TABLE {table} ({df.schema.toDDL()}) USING parquet "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO 16 BUCKETS "
            f"LOCATION '{path}'"
        )
        return table

    to = ensure("orders", "o_custkey", "o_custkey", "o_orderkey", "o_totalprice")
    tc = ensure("customer", "c_custkey", "c_custkey", "c_mktsegment")
    o, c = spark.table(to), spark.table(tc)
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_totalprice"),
        )
    )


ORACLE_BUCKETED_JOIN = """
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o.o_totalprice), 2) AS sum_totalprice
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY 1
"""


# --- window top-k per group (reference O14's top-100-per-key) --------------

def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number window per customer, keep top 3 orders by totalprice.

    Mirrors the reference's per-key top-100 TOI truncation
    (reference filter.py:239, rp=100 sorted count desc) as a ranking
    window. One shuffle on o_custkey; ties broken by o_orderkey so the
    result is deterministic across engines.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            "rk",
        )
    )


ORACLE_TOP_ORDERS = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
)
WHERE rk <= 3
"""


# --- semi/anti joins (reference O5/O6/O7 join shapes) ----------------------

def q_customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI: customers having ≥1 urgent-priority order (the O6 shape:
    existence against a filtered set, no duplication of the left side)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


ORACLE_SEMI = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
"""


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI: customers with no orders at all (the O7 quarantine /
    exclusion shape — membership test as an anti-join, not a driver-side
    list probe)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"))
    )


ORACLE_ANTI = """
SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13 shape): a filtered
    LEFT OUTER join — the predicate belongs to the JOIN condition, not
    the WHERE clause, so customers whose only orders are excluded still
    count with c_count = 0 — followed by a count-of-counts.

    Because the filter touches only the orders side, the outer join
    commutes with pre-aggregation: orders are filtered and reduced to
    (custkey, count) BEFORE the join, so the shuffle carries one row
    per active customer instead of one per order (at 100 TB that is the
    difference between shuffling ~1.5 B order rows and ~100 M customer
    rows). The second aggregation groups a customer-sized input by the
    tiny c_count domain — partial aggregation collapses it map-side.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        o.filter(~F.col("o_orderpriority").like("1-%"))
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n"))
    )
    return (
        c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


ORACLE_CUSTDIST = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority NOT LIKE '1-%'
  GROUP BY c.c_custkey
)
GROUP BY c_count
"""


def q_order_window_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completeness sweep of the remaining ranked-window functions the
    registry didn't yet exercise — ntile, percent_rank, cume_dist,
    nth_value — in one pass over orders. The ordering key
    (o_totalprice, o_orderkey) is a total order, so every function is
    deterministic (cume_dist without the tie-break would hash-diverge).
    nth_value uses an explicit unbounded-unbounded frame in BOTH
    engines: the default running frame yields NULL before position 2.

    Scale note: all four functions share ONE window spec → one shuffle
    + one sort, a single Window node in the plan. The partition key
    (o_orderpriority, 5 values) caps window parallelism at 5 tasks —
    fine for a demo sweep; a production ranking over a low-cardinality
    key would pre-bucket by a salt and merge ranks, or rank within
    (priority, month) composite keys."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round("o_totalprice", 2).alias("price"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.nth_value("o_orderkey", 2).over(wf).alias("second_key"),
    )


ORACLE_WINDOW_ZOO = """
SELECT o_orderkey, o_orderpriority,
       round(o_totalprice, 2) AS price,
       ntile(4) OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       nth_value(o_orderkey, 2) OVER (
         PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ) AS second_key
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


def q_customer_referral_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE surface: full ancestor closure of a referral
    forest — (node, ancestor, dist) for every customer and every
    customer upstream in their referral chain, the SQL-completeness
    item (``WITH RECURSIVE``) Spark lacks natively.

    The fixtures carry no referrer column, so the parent edge is
    DERIVED with the repo's portable Lehmer mix: referrer(c) =
    lehmer(c) mod c, strictly below c, so the graph is acyclic by
    construction and chains terminate at key 0 (which has no edge).
    Expected depth of such a uniform random recursive forest is
    ~ln(n) (max ~e·ln n), irregular per node — the closure genuinely
    traverses, it is not closed-form.

    Spark side: ops.recursion.ancestor_closure. While the edges fit the
    session's broadcast threshold (16 bytes an edge) one job collects
    them, the driver rejects a cycle, and one more job runs a mapInArrow
    kernel that walks the parent vector, emits one (node, path) row per
    customer, checkpoints them and observes the depth check. Above that
    bound the round loop runs pointer jumping: one row per customer
    carrying its ancestor path, about log2(depth) rounds, each one join
    of the unfinished rows to the n-row state. Both paths end in one
    lazy posexplode; vs the oracle's O(depth)
    sequential recursive-CTE passes. At a 1e9-customer scale that is
    ~5 n-row shuffles instead of ~30."""
    from ..ops.recursion import ancestor_closure
    from .curation import _lehmer_h

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("node")
    )
    edges = c.filter(F.col("node") >= 1).select(
        "node", (_lehmer_h(F.col("node")) % F.col("node")).alias("anc")
    )
    return ancestor_closure(edges)


ORACLE_REFERRAL_CLOSURE = """
WITH RECURSIVE e AS (
  SELECT c_custkey AS node,
         ((c_custkey % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647)
           % c_custkey AS anc
  FROM customer WHERE c_custkey >= 1
),
anc AS (
  SELECT node, anc AS ancestor, CAST(1 AS BIGINT) AS dist FROM e
  UNION ALL
  SELECT a.node, e.anc, a.dist + 1
  FROM anc a JOIN e ON e.node = a.ancestor
)
SELECT node, ancestor, dist FROM anc
"""


def q_customer_dag_min_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-path closure of a multi-parent DAG — the recursion case
    ``customer_referral_closure`` does NOT cover: there each node has
    one parent edge, so every pair has exactly one path; here every
    customer key ≥ 2 carries TWO derived parent edges (⌊k/2⌋ and ⌊k/3⌋,
    both strictly smaller, so the graph is acyclic by construction and
    pairs are reachable along many paths of different lengths), and the
    engine must keep the MINIMUM distance per pair — the
    ``WITH RECURSIVE … GROUP BY min(dist)`` shape of BOM explosions and
    category-DAG rollups.

    Spark side: ops.recursion.min_dist_closure. While the edges fit the
    session's broadcast threshold, a BFS kernel over a CSR
    adjacency gives the exact minimum distances in two jobs (the edge
    collect, and one checkpoint that observes max(dist) for the round
    cap). Above that bound the round loop runs pointer doubling with a
    min() re-aggregation per round, ceil(log2(depth)) + 1 rounds total
    vs the oracle CTE's O(depth) sequential passes. The gate
    output is the per-distance profile of the closure (pair count,
    distinct descendants, ancestor-key checksum) — any wrong or missing
    minimum distance shifts a row between dist groups and breaks the
    hash."""
    from ..ops.recursion import min_dist_closure

    c = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").cast("long").alias("node"))
        .filter(F.col("node") >= 2)
    )
    edges = c.select(
        "node",
        F.explode(F.array(F.expr("node div 2"), F.expr("node div 3"))).alias("anc"),
    ).filter(F.col("anc") >= 1)
    # min_dist_closure dedups (node, anc) itself (its initial min-dist
    # groupBy), so the query-side .distinct() was a second identical
    # shuffle — removed r14.
    clo = min_dist_closure(edges)
    # (A hand-split two-level (dist, node) aggregation was A/B'd r14 and
    # measured flat: Spark already plans this single-distinct aggregate
    # as partial-on-(dist,node) → merge, no Expand — kept the clearer
    # form.)
    return (
        clo.groupBy("dist")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("node").alias("n_nodes"),
            F.sum("ancestor").alias("sum_anc"),
        )
        # no trailing orderBy: the driver/oracle hash is order-insensitive,
        # so a presentation sort is a pure extra exchange (guide §2.4)
    )


ORACLE_DAG_MIN_PATHS = """
WITH RECURSIVE e AS (
  SELECT DISTINCT node, anc FROM (
    SELECT c_custkey AS node, c_custkey // 2 AS anc FROM customer WHERE c_custkey >= 2
    UNION ALL
    SELECT c_custkey, c_custkey // 3 FROM customer WHERE c_custkey >= 2
  ) WHERE anc >= 1
),
r AS (
  SELECT node, anc AS ancestor, CAST(1 AS BIGINT) AS dist FROM e
  UNION
  SELECT r.node, e.anc, r.dist + 1 FROM r JOIN e ON e.node = r.ancestor
),
mins AS (SELECT node, ancestor, min(dist) AS dist FROM r GROUP BY 1, 2)
SELECT dist, count(*) AS n_pairs, count(DISTINCT node) AS n_nodes,
       CAST(sum(ancestor) AS BIGINT) AS sum_anc
FROM mins GROUP BY 1 ORDER BY 1
"""


def q_customer_referral_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtree aggregate over the referral closure — the question the
    closure exists to answer: for every referrer, how many customers
    sit anywhere below them, how deep the subtree runs, and the total
    account balance it carries. Reuses ancestor_closure's output frame
    (the kernel's checkpointed paths while the edges fit the broadcast
    threshold, else the pointer-jumping round loop — ~5 n-row shuffles
    instead of ~30 at a 1e9-customer scale) plus one extra shuffle, the
    group-by ancestor, and a broadcast join of customer balances onto
    the closure's node side; at 100 TB
    the closure is the expensive artifact and this rollup is the cheap
    re-aggregation you run many times over it."""
    from ..ops.recursion import ancestor_closure
    from .curation import _lehmer_h

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("node"),
        F.col("c_acctbal").alias("acctbal"),
    )
    edges = cust.filter(F.col("node") >= 1).select(
        "node", (_lehmer_h(F.col("node")) % F.col("node")).alias("anc")
    )
    clo = ancestor_closure(edges)
    # the hint keeps the customers the build side: the kernel path's
    # closure explodes a checkpoint of a mapInArrow over a parts-row
    # range, whose size estimate would otherwise make it the broadcast
    # side
    return (
        clo.join(F.broadcast(cust), "node")
        .groupBy(F.col("ancestor").alias("referrer"))
        .agg(
            F.count("*").alias("n_downstream"),
            F.max("dist").alias("max_depth"),
            F.round(F.sum("acctbal"), 2).alias("downstream_balance"),
        )
    )


ORACLE_REFERRAL_ROLLUP = """
WITH RECURSIVE e AS (
  SELECT c_custkey AS node,
         ((c_custkey % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647)
           % c_custkey AS anc
  FROM customer WHERE c_custkey >= 1
),
anc AS (
  SELECT node, anc AS ancestor, CAST(1 AS BIGINT) AS dist FROM e
  UNION ALL
  SELECT a.node, e.anc, a.dist + 1
  FROM anc a JOIN e ON e.node = a.ancestor
)
SELECT a.ancestor AS referrer,
       count(*) AS n_downstream,
       max(a.dist) AS max_depth,
       round(sum(c.c_acctbal), 2) AS downstream_balance
FROM anc a JOIN customer c ON c.c_custkey = a.node
GROUP BY 1
"""


_DIFF_REMOVED_MOD = 17  # keys % 17 == 5 exist only in the old snapshot
_DIFF_ADDED_MOD = 13  # keys % 13 == 0 exist only in the new snapshot
_DIFF_CHANGED_MOD = 7  # keys % 7 == 0 carry a changed price in the new snapshot


def q_orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff (ops.cdc.snapshot_diff): two deterministic
    snapshots are derived from orders — the "old" one is missing every
    key ≡ 0 (mod {am}) (those were inserted since) and carries a
    10.00-lower price on keys ≡ 0 (mod {cm}) (those were updated — an
    exact double subtraction, because a per-row round(price·0.9, 2)
    lands on half-cent ties where Spark and DuckDB round differently), while the
    "new" one is missing keys ≡ 5 (mod {rm}) (those were deleted) — and
    the diff operator classifies every key as added / removed / changed
    / unchanged through ONE full-outer join plus null-safe column
    compares. The gate output is the per-class profile (row count, key
    checksum, price sums), which any misclassification shifts.

    The reference rebuilds its tables from scratch per run; this is the
    incremental path a 100 TB deployment ships instead — the delta, not
    the snapshot."""
    from ..ops.cdc import snapshot_diff

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    old = o.filter(F.col("o_orderkey") % _DIFF_ADDED_MOD != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % _DIFF_CHANGED_MOD == 0,
            F.col("o_totalprice") - 10.0,
        )
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
        "o_orderstatus",
    )
    new = o.filter(F.col("o_orderkey") % _DIFF_REMOVED_MOD != 5).select(
        "o_orderkey", F.col("o_totalprice").alias("price"), "o_orderstatus"
    )
    d = snapshot_diff(old, new, ["o_orderkey"], ["price", "o_orderstatus"])
    # price sums accumulate as exact integer cents (prices are 2-dp
    # money; the −10.00 update is an exact double subtraction, so
    # round(price·100) is the true integer) — the r14 sf1.0 battery
    # caught the former double sum straddling the 2-dp grain at ~2.8e11.
    # Cast-to-double BEFORE the /100 divide so both engines round the
    # identical nearest-double of the same exact integer.
    # r15: the exact cent sums run as two long partial sums (hi/lo split
    # at 1e5, the part_promo_share discipline) recombined into
    # decimal(28,0) once per class — long agg updates, same values.
    B = 100_000
    cents = lambda c: F.round(F.col(c) * 100).cast("long")  # noqa: E731
    lo = lambda c: cents(c) % B  # noqa: E731
    hi = lambda c: ((cents(c) - cents(c) % B) / B).cast("long")  # noqa: E731
    e4 = lambda h, lo_: (  # noqa: E731
        F.col(h).cast("decimal(28,0)") * B + F.col(lo_)
    )
    return (
        d.groupBy("diff_class")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("o_orderkey").alias("key_checksum"),
            F.sum(hi("old_price")).alias("o_h"),
            F.sum(lo("old_price")).alias("o_l"),
            F.sum(hi("new_price")).alias("n_h"),
            F.sum(lo("new_price")).alias("n_l"),
        )
        .select(
            "diff_class",
            "n_rows",
            "key_checksum",
            F.round(e4("o_h", "o_l").cast("double") / 100, 2).alias(
                "sum_old_price"
            ),
            F.round(e4("n_h", "n_l").cast("double") / 100, 2).alias(
                "sum_new_price"
            ),
        )
        # no trailing orderBy (order-insensitive hash; sort = wasted exchange)
    )


q_orders_snapshot_diff.__doc__ = q_orders_snapshot_diff.__doc__.format(
    am=_DIFF_ADDED_MOD, cm=_DIFF_CHANGED_MOD, rm=_DIFF_REMOVED_MOD
)


ORACLE_SNAPSHOT_DIFF = f"""
WITH o AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
old AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % {_DIFF_CHANGED_MOD} = 0
              THEN o_totalprice - 10.0 ELSE o_totalprice END AS price,
         o_orderstatus
  FROM o WHERE o_orderkey % {_DIFF_ADDED_MOD} <> 0
),
new AS (
  SELECT o_orderkey, o_totalprice AS price, o_orderstatus
  FROM o WHERE o_orderkey % {_DIFF_REMOVED_MOD} <> 5
),
d AS (
  SELECT coalesce(old.o_orderkey, new.o_orderkey) AS o_orderkey,
         old.price AS old_price, new.price AS new_price,
         CASE WHEN old.o_orderkey IS NULL THEN 'added'
              WHEN new.o_orderkey IS NULL THEN 'removed'
              WHEN old.price IS NOT DISTINCT FROM new.price
                   AND old.o_orderstatus IS NOT DISTINCT FROM new.o_orderstatus
              THEN 'unchanged'
              ELSE 'changed' END AS diff_class
  FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
)
SELECT diff_class, count(*) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS key_checksum,
       round(CAST(sum(CAST(round(old_price * 100) AS BIGINT)) AS DOUBLE) / 100, 2)
         AS sum_old_price,
       round(CAST(sum(CAST(round(new_price * 100) AS BIGINT)) AS DOUBLE) / 100, 2)
         AS sum_new_price
FROM d GROUP BY 1 ORDER BY 1
"""


# --- set operations (reference §2.2 set ops) -------------------------------

def q_nation_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT/EXCEPT/UNION over derived key sets: nations that have
    customers vs nations that have suppliers."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    both = c.intersect(s).withColumn("membership", F.lit("both"))
    cust_only = c.distinct().exceptAll(s.distinct()).withColumn("membership", F.lit("customer_only"))
    supp_only = s.distinct().exceptAll(c.distinct()).withColumn("membership", F.lit("supplier_only"))
    return both.unionByName(cust_only).unionByName(supp_only)


ORACLE_SET_OPS = """
SELECT nationkey, 'both' AS membership
FROM (SELECT c_nationkey AS nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier)
UNION ALL
SELECT nationkey, 'customer_only' AS membership
FROM (SELECT DISTINCT c_nationkey AS nationkey FROM customer EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
UNION ALL
SELECT nationkey, 'supplier_only' AS membership
FROM (SELECT DISTINCT s_nationkey AS nationkey FROM supplier EXCEPT SELECT DISTINCT c_nationkey FROM customer)
"""


# --- rollup (engine extension: grouping sets over class hierarchies) -------

def q_order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (orderstatus, orderpriority) with grouping flags so the
    oracle hash matches (NULL group markers made explicit)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "n_orders",
            "total",
        )
    )


ORACLE_ROLLUP = """
SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
       coalesce(o_orderpriority, 'ALL') AS orderpriority,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


# --- O20: PK/uniqueness audit ----------------------------------------------

def q_brand_supply_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-concentration risk per part brand: the Herfindahl—
    Hirschman index of shipped revenue across suppliers, the top
    supplier's share, and the supplier count — the "one strike at one
    vendor stops this brand" readout procurement reviews rank by
    (HHI > 0.25 is the conventional 'concentrated' line, emitted as a
    flag on the rounded value). Complements the customer-side Gini
    (nation_revenue_concentration) with the supply-side lens.

    Exactness: supplier revenue is an integer cents sum; HHI =
    Σrev_s²/total² runs its quadratic terms in decimal(38,0) (the r8
    width policy — supplier-level cents² breaches int64 near sf100)
    and converts once to double for the display rounding; top-share is
    a max over exact integers divided once. Two aggregates, both
    map-side combining; brands are a tiny output dimension."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    per_supp = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "l_suppkey")
        .agg(F.sum(rev).alias("rev_s"))
    )
    d = F.col("rev_s").cast("decimal(19,0)")
    agg = per_supp.groupBy("p_brand").agg(
        F.count("*").alias("n_suppliers"),
        F.sum("rev_s").alias("total"),
        F.sum(d * d).alias("s2"),
        F.max("rev_s").alias("top_rev"),
    )
    hhi = F.round(
        F.col("s2").cast("double")
        / (F.col("total").cast("double") * F.col("total").cast("double")),
        4,
    )
    return agg.select(
        "p_brand",
        F.col("n_suppliers").cast("long").alias("n_suppliers"),
        hhi.alias("hhi"),
        F.round(F.col("top_rev") / F.col("total"), 4).alias("top_share"),
        (hhi > 0.25).alias("concentrated"),
    )


ORACLE_SUPPLY_CONC = """
WITH per_supp AS (
  SELECT p.p_brand, l.l_suppkey,
         CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS rev_s
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
),
agg AS (
  SELECT p_brand,
         CAST(count(*) AS BIGINT) AS n_suppliers,
         CAST(sum(rev_s) AS BIGINT) AS total,
         CAST(sum(CAST(rev_s AS HUGEINT) * rev_s) AS DOUBLE) AS s2,
         CAST(max(rev_s) AS BIGINT) AS top_rev
  FROM per_supp GROUP BY 1
)
SELECT p_brand, n_suppliers,
       round(s2 / (CAST(total AS DOUBLE) * total), 4) AS hhi,
       round(top_rev / CAST(total AS DOUBLE), 4) AS top_share,
       round(s2 / (CAST(total AS DOUBLE) * total), 4) > 0.25 AS concentrated
FROM agg
"""


_FK_EDGES = (
    # (edge label, child table, child key, parent table, parent key)
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
)


def q_orders_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over every FK edge of the schema —
    the dbt-style relationship test, one row per edge with child
    cardinality, orphan count (child keys with no parent), and null-key
    count (nulls are NOT orphans under SQL FK semantics; they get
    their own column so a lazy loader can't hide behind them). The
    whole table passing with zeros IS the result a load pipeline
    gates on; the reference delegates this to Postgres PK/FK DDL
    (schema constraints) — here it is the engine-side audit (O20's
    companion).

    Plan per edge: distinct child keys (map-side combine on the key)
    LEFT ANTI the parent key column — small-parent edges broadcast,
    big-parent edges co-partition on the key; nothing ever leaves the
    key columns, so column pruning reduces each scan to one column.
    Integer counts end-to-end."""
    rows = None
    for label, child, ckey, parent, pkey in _FK_EDGES:
        c = load_table(spark, sf_dir, child).select(F.col(ckey).alias("k"))
        p = load_table(spark, sf_dir, parent).select(F.col(pkey).alias("k"))
        n_child = c.groupBy().agg(
            F.count("*").alias("n_child_rows"),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).alias("n_null_keys"),
        )
        orphans = (
            c.filter(F.col("k").isNotNull())
            .distinct()
            .join(p, "k", "left_anti")
            .groupBy()
            .agg(F.count("*").alias("n_orphan_keys"))
        )
        edge = (
            n_child.crossJoin(F.broadcast(orphans))
            .select(
                F.lit(label).alias("fk_edge"),
                F.col("n_child_rows").cast("long").alias("n_child_rows"),
                F.col("n_null_keys").cast("long").alias("n_null_keys"),
                F.col("n_orphan_keys").cast("long").alias("n_orphan_keys"),
            )
        )
        rows = edge if rows is None else rows.unionByName(edge)
    return rows


def _ri_oracle_sql() -> str:
    parts = []
    for label, child, ckey, parent, pkey in _FK_EDGES:
        parts.append(f"""
SELECT '{label}' AS fk_edge,
       (SELECT CAST(count(*) AS BIGINT) FROM {child}) AS n_child_rows,
       (SELECT CAST(count(*) AS BIGINT) FROM {child}
        WHERE {ckey} IS NULL) AS n_null_keys,
       (SELECT CAST(count(*) AS BIGINT) FROM
          (SELECT DISTINCT {ckey} AS k FROM {child} WHERE {ckey} IS NOT NULL) c
        WHERE NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pkey} = c.k))
         AS n_orphan_keys""")
    return "\nUNION ALL\n".join(parts)


ORACLE_REF_INTEGRITY = _ri_oracle_sql()


_CHISQ_CRIT_6DF = 12.5916  # χ²(6 df, α = 0.05)


def q_orders_dow_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality test per order priority: Pearson's χ²
    against the uniform-across-7-days null, in the closed integer form
    χ² = (7·Σoᵢ² − n²)/n over the 7 observed day counts — the "is this
    segment's demand actually weekday-shaped" gate a seasonality model
    must pass before anyone fits one. A significance flag compares the
    rounded statistic against the 6-df critical value, so both engines
    decide the boundary on the identical double.

    Integer-width discipline (SCALE.md §int64): Σoᵢ² and n² are
    products of unbounded counts — computed in decimal(38,0) (Spark) /
    HUGEINT-internal (DuckDB); at ~100 TB a hot priority's per-dow
    count ≈ 4e9 makes oᵢ² ≈ 1.6e19 > 2⁶³, exactly the class the r8
    audit fixes. Two tiny aggregates: fact → (priority, dow) counts →
    5 rows; everything map-side-combines."""
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy(
        "o_orderpriority",
        (F.dayofweek("o_orderdate") - 1).alias("dow"),
    ).agg(F.count("*").alias("c"))
    d = F.col("c").cast("decimal(19,0)")
    stats = counts.groupBy("o_orderpriority").agg(
        F.sum("c").alias("n"),
        F.sum(d * d).alias("s2"),
        F.count("*").alias("n_dows"),
    )
    chisq = F.round(
        (
            F.lit(7) * F.col("s2").cast("double")
            - F.col("n").cast("double") * F.col("n").cast("double")
        )
        / F.col("n"),
        4,
    )
    return stats.select(
        "o_orderpriority",
        F.col("n").alias("n_orders"),
        F.col("n_dows").cast("long").alias("n_dows"),
        chisq.alias("chisq"),
        (chisq > _CHISQ_CRIT_6DF).alias("nonuniform"),
    )


ORACLE_DOW_CHISQ = f"""
WITH counts AS (
  SELECT o_orderpriority, dayofweek(o_orderdate) AS dow, count(*) AS c
  FROM orders GROUP BY 1, 2
),
stats AS (
  SELECT o_orderpriority,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE) AS s2,
         CAST(count(*) AS BIGINT) AS n_dows
  FROM counts GROUP BY 1
)
SELECT o_orderpriority, n AS n_orders, n_dows,
       round((7 * s2 - CAST(n AS DOUBLE) * n) / n, 4) AS chisq,
       round((7 * s2 - CAST(n AS DOUBLE) * n) / n, 4) > {_CHISQ_CRIT_6DF}
         AS nonuniform
FROM stats
"""


def q_orders_pk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniqueness audit — the Spark replacement for the reference's PK
    constraints (O20, schema.sql:204-257; duplicate-id abort
    filter.py:58-64): one aggregation reporting total rows, distinct
    keys, and how many keys repeat. Per-key distinct is a partial-agg
    shuffle on the key; the assertion form (`n_dup_keys == 0`) gates an
    idempotent write in the sink path."""
    o = load_table(spark, sf_dir, "orders")
    per_key = o.groupBy("o_orderkey").agg(F.count("*").alias("n"))
    return per_key.agg(
        F.sum("n").alias("n_rows"),
        F.count("*").alias("n_keys"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).alias("n_dup_keys"),
        F.coalesce(F.sum(F.when(F.col("n") > 1, F.col("n"))), F.lit(0)).alias(
            "n_rows_in_dup_keys"
        ),
    )


ORACLE_PK_AUDIT = """
WITH per_key AS (
  SELECT o_orderkey, count(*) AS n FROM orders GROUP BY o_orderkey
)
SELECT CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_keys,
       CAST(coalesce(sum(CASE WHEN n > 1 THEN n END), 0) AS BIGINT)
         AS n_rows_in_dup_keys
FROM per_key
"""


# --- cube (multi-dimensional aggregate; SURVEY §2.2 aggregations) -----------

def q_order_priority_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (orderstatus, orderpriority): all 4 grouping
    combinations in one pass. Spark expands the cube into a single
    hash-aggregate over the grouping-id-tagged rows — one shuffle, not
    4 separate aggregations."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "n_orders",
            "total",
        )
    )


ORACLE_CUBE = """
SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
       coalesce(o_orderpriority, 'ALL') AS orderpriority,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# --- shipping-priority top-k (TPC-H Q3 shape: join + filter + topk) --------

def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered 3-way join + aggregate + global top-10 by revenue.
    The global top-k is a TakeOrderedAndProject (per-partition partial
    top-k, then a 10-row merge on the driver) — no full sort."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
    )


ORACLE_SHIPPING = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < DATE '1995-03-15'
  AND l_shipdate > DATE '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# --- exact percentiles (ordered-set aggregate) ------------------------------

def q_order_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of order value per order priority —
    `percentile` (exact; one sort per group internally), matching
    DuckDB's quantile_cont definition. For 100 TB use
    `approx_percentile` (t-digest sketch, mergeable map-side) — kept
    exact here so the oracle can hash-match."""
    o = load_table(spark, sf_dir, "orders")
    pct = F.expr("percentile(o_totalprice, array(0.5, 0.9, 0.99))")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(pct[0], 2).alias("p50"),
            F.round(pct[1], 2).alias("p90"),
            F.round(pct[2], 2).alias("p99"),
            F.count("*").alias("n_orders"),
        )
    )


ORACLE_PERCENTILES = """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
       round(quantile_cont(o_totalprice, 0.99), 2) AS p99,
       count(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
"""


# --- pivot (brand revenue by return flag) ----------------------------------

_RETURN_FLAGS = ("A", "N", "R")


def q_brand_returnflag_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: revenue per part brand × return flag as columns. The part
    dimension is broadcast into the fact scan; the pivot's value list is
    explicit so Spark skips the extra distinct-values job and plans ONE
    aggregation (each pivot cell is a conditional partial agg).

    Cells accumulate as exact e4 fixed-point integers (the
    revenue_by_nation pattern) — the r14 sf1.0 battery caught a ~4.0e9
    double cell sum straddling the 2-dp rounding grain between engines.
    r15: each cell is TWO long partial sums (hi/lo split at 1e5, the
    part_promo_share discipline) recombined into decimal(28,0) once per
    output cell — the long hash-agg update path, exact to ~9e13 rows
    per cell.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev_e4 = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.round(F.col("l_discount") * 100).cast("long"))
    )
    B = 100_000
    lo = rev_e4 % B
    hi = ((rev_e4 - lo) / B).cast("long")
    e4 = lambda f: (  # noqa: E731 - recombine once per cell
        F.col(f"{f}_h").cast("decimal(28,0)") * B + F.col(f"{f}_l")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .pivot("l_returnflag", list(_RETURN_FLAGS))
        .agg(F.sum(hi).alias("h"), F.sum(lo).alias("l"))
        .select(
            "p_brand",
            *[
                # integer-space half-up to cents first ((e4+50) div 100):
                # e4/10000 sits on exact .xx50 ties by construction,
                # where the engines' double-rounding tie rules differ
                F.coalesce(
                    F.round(
                        F.floor((e4(f) + 50) / 100).cast("double") / 100, 2
                    ),
                    F.lit(0.0),
                ).alias(f"rev_{f}")
                for f in _RETURN_FLAGS
            ],
        )
    )


ORACLE_PIVOT = """
WITH e4 AS (
  SELECT p_brand, l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_e4
  FROM lineitem JOIN part ON l_partkey = p_partkey
)
SELECT p_brand,
       coalesce(round(CAST((sum(CASE WHEN l_returnflag = 'A' THEN rev_e4 END) + 50) // 100 AS DOUBLE) / 100, 2), 0.0) AS rev_A,
       coalesce(round(CAST((sum(CASE WHEN l_returnflag = 'N' THEN rev_e4 END) + 50) // 100 AS DOUBLE) / 100, 2), 0.0) AS rev_N,
       coalesce(round(CAST((sum(CASE WHEN l_returnflag = 'R' THEN rev_e4 END) + 50) // 100 AS DOUBLE) / 100, 2), 0.0) AS rev_R
FROM e4
GROUP BY p_brand
"""


# --- ranking windows beyond row_number --------------------------------------

def q_customer_value_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function breadth in one window pass: quartile (ntile),
    percent_rank, dense_rank of customers by account balance within
    market segment — one shuffle on the partition key, all four
    functions evaluated in the same Window operator."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.dense_rank().over(w).alias("drank"),
    )


ORACLE_RANKS = """
SELECT c_custkey, c_mktsegment,
       round(c_acctbal, 2) AS acctbal,
       ntile(4) OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       dense_rank() OVER w AS drank
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
"""


# --- explicit GROUPING SETS -------------------------------------------------

def q_order_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with a hand-picked set list — (status, priority),
    (status), () — i.e. rollup minus the priority-only slice; one
    hash-aggregate pass over grouping-id-tagged rows, same as
    cube/rollup."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("__orders_gs")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
               coalesce(o_orderpriority, 'ALL') AS orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


ORACLE_GROUPING_SETS = """
SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
       coalesce(o_orderpriority, 'ALL') AS orderpriority,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


# --- correlated scalar subquery ---------------------------------------------

def q_orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders whose value exceeds 1.5× their
    own customer's average order value. Catalyst de-correlates this into
    an aggregate + join (no per-row re-execution), so it runs as one
    shuffle on the correlation key — worth covering explicitly because
    naive engines execute the subquery per outer row."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("__orders_sq")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
        FROM __orders_sq o
        WHERE o_totalprice > 1.5 * (
          SELECT avg(o_totalprice) FROM __orders_sq i WHERE i.o_custkey = o.o_custkey
        )
        """
    )


ORACLE_CORRELATED = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
FROM orders o
WHERE o_totalprice > 1.5 * (
  SELECT avg(o_totalprice) FROM orders i WHERE i.o_custkey = o.o_custkey
)
"""


# --- supplier revenue (second fact join path) -------------------------------

def q_top_suppliers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per supplier with nation context: lineitem joins supplier
    (broadcast — dimension-sized) and nation (broadcast), top 25 by
    revenue via TakeOrderedAndProject. Exercises the second join path out
    of the fact table (l_suppkey) alongside the orders path."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_suppkey", "s_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_lineitems"),
        )
        .orderBy(F.desc("revenue"), F.asc("s_suppkey"))
        .limit(25)
    )


ORACLE_TOP_SUPPLIERS = """
SELECT s_suppkey, s_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY s_suppkey, s_name, n_name
ORDER BY revenue DESC, s_suppkey ASC
LIMIT 25
"""


# --- unpivot (wide → long reshape) -----------------------------------------

_UNPIVOT_MEASURES = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def q_lineitem_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape via the relational UNPIVOT operator, then a
    grouped aggregate per (returnflag, measure) — the melt step feature
    stores and metric pipelines run constantly.

    Plan: unpivot is a pure projection (Expand node — each input row
    emits |measures| rows, no shuffle, stays inside whole-stage
    codegen); the only exchange is the final small-key aggregate, and
    partial aggregation collapses the 4× row expansion map-side."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.unpivot(
            ["l_returnflag"], list(_UNPIVOT_MEASURES), "measure", "val"
        )
        .groupBy("l_returnflag", "measure")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("val"), 2).alias("sum_val"),
            F.round(F.avg("val"), 4).alias("avg_val"),
        )
    )


ORACLE_UNPIVOT = f"""
WITH long AS (
  SELECT l_returnflag, measure, val
  FROM (SELECT l_returnflag, {", ".join(_UNPIVOT_MEASURES)} FROM lineitem)
  UNPIVOT (val FOR measure IN ({", ".join(_UNPIVOT_MEASURES)}))
)
SELECT l_returnflag, measure,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(val), 2) AS sum_val,
       round(avg(val), 4) AS avg_val
FROM long GROUP BY 1, 2
"""


# --- lateral join (correlated per-row top-k subquery) ----------------------

def q_nation_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation top-2 suppliers by account balance via a LATERAL
    correlated subquery (SQL:1999 lateral derived table, Spark 3.2+).

    Catalyst decorrelates the per-row ORDER BY..LIMIT subquery into a
    WindowGroupLimit (partial per-partition top-k BEFORE the shuffle,
    then final top-k) plus a broadcast join with the 25-row nation dim —
    verified in PLANS.md; the naive interpretation (re-run the subquery
    per outer row) never executes. Ties broken by name for determinism.
    """
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("__lat_nation")
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("__lat_supplier")
    return spark.sql(
        """
        SELECT n.n_name, t.s_name, round(t.s_acctbal, 2) AS s_acctbal
        FROM __lat_nation n
        JOIN LATERAL (
          SELECT s_name, s_acctbal
          FROM __lat_supplier s
          WHERE s.s_nationkey = n.n_nationkey
          ORDER BY s_acctbal DESC, s_name ASC
          LIMIT 2
        ) t
        """
    )


ORACLE_LATERAL = """
SELECT n.n_name, t.s_name, round(t.s_acctbal, 2) AS s_acctbal
FROM nation n
JOIN LATERAL (
  SELECT s_name, s_acctbal
  FROM supplier s
  WHERE s.s_nationkey = n.n_nationkey
  ORDER BY s_acctbal DESC, s_name ASC
  LIMIT 2
) t ON TRUE
"""


# --- period-over-period growth ---------------------------------------------

def q_orders_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: monthly order count + revenue
    with the relative change vs the previous month (lag over the monthly
    series) — the period-over-period reporting staple.

    Aggregate-then-window: the lag runs over the |months| aggregate
    series (a single tiny partition by construction), never the orders
    fact; growth is null for the first month by definition."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum("o_totalprice").alias("rev"),
    )
    w = Window.orderBy("month")
    prev = F.lag("rev").over(w)
    return monthly.select(
        "month",
        "n_orders",
        F.round("rev", 2).alias("revenue"),
        F.round((F.col("rev") - prev) / prev, 4).alias("mom_growth"),
    )


ORACLE_MOM = """
WITH monthly AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
         count(*) AS n_orders,
         sum(o_totalprice) AS rev
  FROM orders GROUP BY 1
)
SELECT month,
       CAST(n_orders AS BIGINT) AS n_orders,
       round(rev, 2) AS revenue,
       round((rev - lag(rev) OVER (ORDER BY month))
             / lag(rev) OVER (ORDER BY month), 4) AS mom_growth
FROM monthly
"""


# --- market-basket affinity ------------------------------------------------

_BASKET_MIN_PAIRS = 3
_BASKET_TOP_K = 20
#: skew guard: one pathological basket must not go quadratic — every
#: order keeps at most this many (lowest-part-id, deterministic in both
#: engines) items, bounding the self-join fan-out at CAP²/2 pairs per
#: order. TPC-H baskets hold ≤7 items and real baskets 10²s, so the cap
#: never bites normal data; it exists for the one bad order at 100 TB.
_BASKET_ITEM_CAP = 64


def q_basket_part_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket analysis: top-20 part pairs by lift (co-order count
    × total orders / product of individual order counts, min 3
    co-orders) — the association-rule primitive behind recommenders.

    The within-order self-join fans out quadratically in BASKET size,
    not data size (a few items per order ⇒ tens of pairs), so the pair
    table is ~|orders|·k² rows shuffled on fixed-width part-id pairs;
    marginals and the order total derive from the deduplicated
    (order, part) table, and the top-k ranks on the raw lift ratio (pure
    IEEE arithmetic, cross-engine-stable) with pair-id tie-breaks.
    A per-order item cap (_BASKET_ITEM_CAP, mirrored in the oracle)
    bounds the worst basket's fan-out; the cap keeps the lowest part ids
    so both engines drop the identical rows.

    Plan: ONE shuffle on the order key builds each capped sorted basket
    (collect_set → array_sort → slice), and pairs are generated
    ARRAY-SIDE from that basket (nested transform over the sorted
    array, so part_a < part_b by construction) — no distinct exchange,
    no row_number window, no self-join; the lazily-checkpointed basket
    table feeds pairs, marginals, and the order count. Replaces the
    distinct + window-cap + self-join pipeline: two fewer exchanges,
    ~20% faster at sf0.1, and the per-order pair expression is O(cap²)
    bounded work inside codegen."""
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .groupBy("o")
        .agg(
            F.slice(
                F.array_sort(F.collect_set("p")), 1, _BASKET_ITEM_CAP
            ).alias("ps")
        )
        # three consumers (pairs, marginals, order count) share the one
        # basket aggregation instead of re-running it
        .localCheckpoint(eager=False)
    )
    n_orders = baskets.agg(F.count("*").alias("n_orders"))
    part_n = baskets.select(F.explode("ps").alias("p")).groupBy("p").agg(
        F.count("*").alias("n_p")
    )
    ps = F.col("ps")
    pair_arr = F.flatten(
        F.transform(
            ps,
            lambda x, i: F.transform(
                F.slice(ps, i + 2, F.size(ps)),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_arr).alias("pr"))
        .groupBy(F.col("pr.part_a").alias("part_a"), F.col("pr.part_b").alias("part_b"))
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= _BASKET_MIN_PAIRS)
    )
    na = part_n.select(F.col("p").alias("part_a"), F.col("n_p").alias("n_a"))
    nb = part_n.select(F.col("p").alias("part_b"), F.col("n_p").alias("n_b"))
    lift = (F.col("n_ab").cast("double") * F.col("n_orders")) / (
        F.col("n_a").cast("double") * F.col("n_b")
    )
    return (
        pairs.join(na, "part_a")
        .join(nb, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .withColumn("_lift", lift)
        .orderBy(F.desc("_lift"), F.asc("part_a"), F.asc("part_b"))
        .limit(_BASKET_TOP_K)
        .select(
            "part_a", "part_b", "n_ab", F.round("_lift", 4).alias("lift")
        )
    )


ORACLE_BASKET = f"""
WITH li AS (
  SELECT o, p FROM (
    SELECT o, p, row_number() OVER (PARTITION BY o ORDER BY p) AS rk
    FROM (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)
  ) WHERE rk <= {_BASKET_ITEM_CAP}
),
n AS (SELECT count(DISTINCT o) AS n_orders FROM li),
part_n AS (SELECT p, count(*) AS n_p FROM li GROUP BY 1),
pairs AS (
  SELECT a.p AS part_a, b.p AS part_b, count(*) AS n_ab
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2
  HAVING count(*) >= {_BASKET_MIN_PAIRS}
)
SELECT part_a, part_b, n_ab,
       round((CAST(n_ab AS DOUBLE) * n_orders) /
             (CAST(na.n_p AS DOUBLE) * nb.n_p), 4) AS lift
FROM pairs
JOIN part_n na ON na.p = part_a
JOIN part_n nb ON nb.p = part_b
CROSS JOIN n
ORDER BY (CAST(n_ab AS DOUBLE) * n_orders) /
         (CAST(na.n_p AS DOUBLE) * nb.n_p) DESC,
         part_a ASC, part_b ASC
LIMIT {_BASKET_TOP_K}
"""


def q_lineitem_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand discount elasticity of demand: OLS slope of quantity on
    discount (plus fit quality and volume) via the SQL-standard
    ``regr_*`` aggregates — does discounting move units for this brand,
    and is the relationship real or noise?

    Distributed regression as ONE aggregate: the part dim (2 columns,
    ~0.2M rows per SF unit) attaches to the fact with NO broadcast
    hint — a hint is honored unconditionally and would OOM at 100 TB
    where the dim exceeds executor memory; size-based planning
    broadcasts it at every tested SF (it sits far under
    autoBroadcastJoinThreshold) and shuffle-joins it on partkey at
    scale (or the brand rides a denormalized lineitem column),
    then regr_slope/regr_r2 reduce map-side like any sum — one
    brand-keyed exchange of partial moment tuples, never raw rows. Outputs round to 4 (the regression inputs are
    exact-decimal parquet values; partial-sum order noise sits ~1e-10
    below the rounding grain). The zipf-fit query is the same family
    over a windowed input; this one regresses raw fact rows."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_lineitems"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.expr("regr_slope(l_quantity, l_discount)"), 4).alias(
                "qty_discount_slope"
            ),
            F.round(F.expr("regr_r2(l_quantity, l_discount)"), 4).alias("fit_r2"),
        )
    )


ORACLE_ELASTICITY = """
SELECT p.p_brand,
       count(*) AS n_lineitems,
       round(avg(l.l_quantity), 4) AS avg_qty,
       round(regr_slope(l.l_quantity, l.l_discount), 4) AS qty_discount_slope,
       round(regr_r2(l.l_quantity, l.l_discount), 4) AS fit_r2
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
GROUP BY 1
"""


_BACKLOG_LOOKBACK_DAYS = 90
_BACKLOG_BUCKET_DAYS = 30


def q_orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging: as of a data-derived cutoff (90 days
    before the newest order date — never wall-clock, so results are
    reproducible), orders placed on or before the cutoff that still had
    an unshipped line item, bucketed by 30-day age — the operations
    view behind "how old is our unshipped backlog and how much money
    is stuck in it".

    Plan: the cutoff is a 1-row aggregate broadcast via cross join (the
    repo's scalar pattern); "still open" is a LEFT SEMI join against
    unshipped line items (existence only — no row duplication, no
    correlated subquery at runtime: Catalyst decorrelates the EXISTS to
    this same semi join); the aging bucket is pure arithmetic and the
    output aggregate is ≤ a handful of buckets. One orderkey-keyed
    exchange end to end."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cutoff = o.agg(
        F.date_sub(F.max("o_orderdate"), _BACKLOG_LOOKBACK_DAYS).alias("cutoff")
    )
    with_cut = o.crossJoin(F.broadcast(cutoff)).filter(
        F.col("o_orderdate") <= F.col("cutoff")
    )
    open_items = li.crossJoin(F.broadcast(cutoff)).filter(
        F.col("l_shipdate") > F.col("cutoff")
    )
    open_orders = with_cut.join(
        open_items.select(F.col("l_orderkey").alias("o_orderkey")),
        "o_orderkey",
        "left_semi",
    )
    bucket = F.floor(
        F.datediff(F.col("cutoff"), F.col("o_orderdate")) / _BACKLOG_BUCKET_DAYS
    ).cast("int")
    return (
        open_orders.withColumn("age_bucket", bucket)
        .groupBy("age_bucket")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("backlog_value"),
        )
    )


ORACLE_BACKLOG = f"""
WITH cut AS (
  SELECT max(o_orderdate) - INTERVAL {_BACKLOG_LOOKBACK_DAYS} DAY AS cutoff
  FROM orders
),
open_orders AS (
  SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice, cut.cutoff
  FROM orders o CROSS JOIN cut
  WHERE o.o_orderdate <= cut.cutoff
    AND EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > cut.cutoff
    )
)
SELECT CAST(floor(date_diff('day', o_orderdate, CAST(cutoff AS DATE))
            / {_BACKLOG_BUCKET_DAYS}.0) AS INT) AS age_bucket,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS backlog_value
FROM open_orders
GROUP BY 1
"""


# --- promotion revenue share (TPC-H Q14 shape) -----------------------------

def q_part_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion revenue share per ship month (TPC-H Q14 shape; reference
    capability: O6 broadcast dim join + O2 conditional aggregation).

    Plan: part is a broadcast dim (no shuffle of the fact), the promo/total
    split is a conditional aggregate inside one hash aggregate keyed on the
    ~84 distinct months — map-side partials reduce the exchange to a few
    hundred rows regardless of fact size. At 100 TB nothing changes: the
    only exchange carries (month → two partial sums).

    Exactness: revenue accumulates as the e4 fixed-point integer
    ``round(price·100)·(100 − round(disc·100))`` (the revenue_by_nation
    pattern), NOT as a rounded double sum — the r14 sf1.0 battery caught
    a monthly total near 3.6e9 where double partial-sum order put the
    two engines on opposite sides of the 2-dp rounding grain. Integer
    partials are order-independent. r15 (verdict item 4): the exact sum
    runs as TWO long partial sums (hi = e4 div 1e5, lo = e4 mod 1e5 —
    per-row e4 ≤ ~1.1e9, so lo < 1e5 and hi ≤ ~1.1e4) recombined into
    decimal(28,0) once per OUTPUT group; long hash-agg update beats the
    decimal(28,0) update path ~1.4× (measured, this file's history),
    and the split stays exact up to ~9e13 rows per month group
    (sum_lo < 9.2e18), far past 100 TB of lineitem in one month.
    """
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev_e4 = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.round(F.col("l_discount") * 100).cast("long"))
    )
    B = 100_000
    lo = rev_e4 % B
    # (e4 - lo) is an exact multiple of B and < 2^53: the double divide
    # returns the exact quotient
    hi = ((rev_e4 - lo) / B).cast("long")
    is_promo = F.col("p_type") == "PROMO"
    zero = F.lit(0).cast("long")
    e4 = lambda h, lo_: (  # noqa: E731 - recombine once per group
        F.col(h).cast("decimal(28,0)") * B + F.col(lo_)
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.sum(F.when(is_promo, hi).otherwise(zero)).alias("p_hi"),
            F.sum(F.when(is_promo, lo).otherwise(zero)).alias("p_lo"),
            F.sum(hi).alias("t_hi"),
            F.sum(lo).alias("t_lo"),
            F.count("*").alias("n_items"),
        )
        .select(
            F.col("ship_month"),
            e4("p_hi", "p_lo").alias("p_e4"),
            e4("t_hi", "t_lo").alias("t_e4"),
            F.col("n_items"),
        )
        .select(
            "ship_month",
            # the 2-dp round happens in INTEGER space — (e4 + 50) div
            # 100 = exact half-up cents — because e4/10000 lands on
            # exact .xx50 decimal ties BY CONSTRUCTION, where Spark's
            # BigDecimal half-up and DuckDB's scaled-double rounding
            # disagree; both engines then divide the identical integer
            F.round(F.floor((F.col("p_e4") + 50) / 100).cast("double") / 100, 2)
            .alias("promo_revenue"),
            F.round(F.floor((F.col("t_e4") + 50) / 100).cast("double") / 100, 2)
            .alias("total_revenue"),
            F.round(
                100.0 * F.col("p_e4").cast("double") / F.col("t_e4").cast("double"), 4
            ).alias("promo_share_pct"),
            "n_items",
        )
    )


ORACLE_PROMO_SHARE = """
WITH e4 AS (
  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
         CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_e4,
         CASE WHEN p_type = 'PROMO' THEN 1 ELSE 0 END AS is_promo
  FROM lineitem JOIN part ON l_partkey = p_partkey
)
SELECT ship_month,
       round(CAST((sum(CASE WHEN is_promo = 1 THEN rev_e4 ELSE 0 END) + 50) // 100
                  AS DOUBLE) / 100, 2) AS promo_revenue,
       round(CAST((sum(rev_e4) + 50) // 100 AS DOUBLE) / 100, 2) AS total_revenue,
       round(100.0 * CAST(sum(CASE WHEN is_promo = 1 THEN rev_e4 ELSE 0 END) AS DOUBLE)
                   / CAST(sum(rev_e4) AS DOUBLE), 4) AS promo_share_pct,
       count(*) AS n_items
FROM e4
GROUP BY 1
"""


# --- small-quantity order revenue (TPC-H Q17 decorrelation shape) ----------

_SMALL_QTY_BRAND = "Brand#13"


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue locked in below-half-average-quantity orders of one brand
    (TPC-H Q17 shape). The textbook correlated scalar subquery
    (``l_quantity < 0.5 * avg(l_quantity) per part``) is expressed
    decorrelated by hand: one per-part aggregate over the brand's line
    items, joined back to the same rows.

    Plan (see PLANS.md): the brand's part keys are a BROADCAST LEFT SEMI
    filter on both arms; the per-part thresholds (|one brand's parts|
    rows — tiny at any SF) aggregate through one partkey exchange and
    are then THEMSELVES broadcast into the join-back, so the fact side
    is never shuffled at all — the cost is a second brand-filtered scan,
    which predicate pushdown + the session's runtime bloom-filter join
    pruning keep proportional to one brand's rows. Output is a 1-row
    aggregate. The threshold is rounded to 6 dp in both engines so
    aggregation-order fp noise cannot flip a boundary row.
    """
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == _SMALL_QTY_BRAND)
        .select("p_partkey")
    )
    brand_items = l.join(
        F.broadcast(p), l.l_partkey == p.p_partkey, "left_semi"
    )
    thresholds = brand_items.groupBy("l_partkey").agg(
        F.round(0.5 * F.avg("l_quantity"), 6).alias("half_avg_qty")
    )
    small = brand_items.join(thresholds, "l_partkey").filter(
        F.col("l_quantity") < F.col("half_avg_qty")
    )
    return small.agg(
        F.count("*").alias("n_small_items"),
        F.round(F.sum("l_extendedprice"), 2).alias("small_qty_revenue"),
        F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
    )


ORACLE_SMALL_QTY = f"""
WITH brand_items AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = '{_SMALL_QTY_BRAND}')
),
thresholds AS (
  SELECT l_partkey, round(0.5 * avg(l_quantity), 6) AS half_avg_qty
  FROM brand_items GROUP BY 1
)
SELECT count(*) AS n_small_items,
       round(sum(l_extendedprice), 2) AS small_qty_revenue,
       round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM brand_items JOIN thresholds USING (l_partkey)
WHERE l_quantity < half_avg_qty
"""


# --- large-volume customers (TPC-H Q18 shape) ------------------------------

_LARGE_VOLUME_QTY = 300


def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers behind orders whose total line quantity exceeds 300
    (TPC-H Q18 shape: HAVING-filtered aggregate driving a join back to
    the enclosing tables).

    Plan: the per-order quantity rollup is one map-side-partial exchange
    on l_orderkey; the HAVING filter leaves a tiny survivor set (≈1% of
    orders) that joins into orders and then customer. No explicit
    broadcast hint: a hint is honored unconditionally and would OOM if
    the survivor set ever outgrew executor memory, whereas size-based
    planning keeps both joins broadcast at every tested SF (statically
    it picks the small orders projection; with runtime stats AQE reads
    the ACTUAL post-HAVING size and broadcasts the survivors) and
    degrades to a shuffle join on the same plan when nothing fits. The
    HAVING compares the ROUNDED per-order sum in both engines
    (boundary-rounding convention).
    """
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > _LARGE_VOLUME_QTY)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.round(F.col("o_totalprice"), 2).alias("total_price"),
            "total_qty",
        )
    )


ORACLE_LARGE_VOLUME = f"""
WITH big AS (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
  -- round BEFORE the threshold compare, exactly like the Spark side
  -- filters the rounded total_qty (repo boundary-rounding convention)
  FROM lineitem GROUP BY 1 HAVING round(sum(l_quantity), 2) > {_LARGE_VOLUME_QTY}
)
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       round(o_totalprice, 2) AS total_price,
       total_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# --- disjunctive-predicate revenue (TPC-H Q19 shape) -----------------------

def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue matched by an OR of three (brand, size-range,
    quantity-range) conjunctions (TPC-H Q19 shape — the disjunctive
    pushdown stress test).

    Plan: part is a broadcast dim; Catalyst factors the common
    ``p_size >= 1`` / quantity bounds and pushes the p_brand/p_size
    disjunction to the part scan (3 brands ∪ size ranges prune row
    groups), while the quantity bounds push to the fact scan. The final
    aggregate is a 1-row reduce — no keyed exchange at all.
    """
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "disc_revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


ORACLE_DISJUNCTIVE = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS disc_revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1  AND 11)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


# --- idle high-balance customers (TPC-H Q22 shape) -------------------------

_IDLE_WINDOW_DAYS = 365


def q_idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation count and balance of above-average-balance customers
    with no order in the final year of the order span (TPC-H Q22 shape:
    scalar AVG subquery + NOT EXISTS anti-join; the cutoff is
    data-derived like orders_backlog_aging, never wall-clock).

    Plan: both scalar subqueries (global positive-balance average, max
    order date) are 1-row aggregates broadcast via cross join — the
    repo's scalar pattern; the NOT EXISTS decorrelates to a LEFT ANTI
    join against recent-order customer keys (distinct-projected, so the
    anti build side is ≤ |customers|); nation is a broadcast dim. One
    custkey exchange end to end; at 100 TB the anti join's right side is
    the only data-sized input and it shrinks to distinct custkeys.
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    cutoff = o.agg(
        F.date_sub(F.max("o_orderdate"), _IDLE_WINDOW_DAYS).alias("cutoff")
    )
    recent = (
        o.crossJoin(F.broadcast(cutoff))
        .filter(F.col("o_orderdate") > F.col("cutoff"))
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, "c_custkey", "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_idle_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("idle_balance"),
        )
    )


ORACLE_IDLE_BALANCE = f"""
WITH cut AS (
  SELECT max(o_orderdate) - INTERVAL {_IDLE_WINDOW_DAYS} DAY AS cutoff FROM orders
),
avg_bal AS (
  SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0
)
SELECT n_name,
       count(*) AS n_idle_customers,
       round(sum(c_acctbal), 2) AS idle_balance
FROM customer
JOIN nation ON c_nationkey = n_nationkey
CROSS JOIN avg_bal
WHERE c_acctbal > a
  AND NOT EXISTS (
    SELECT 1 FROM orders CROSS JOIN cut
    WHERE o_custkey = c_custkey AND o_orderdate > cutoff
  )
GROUP BY 1
"""


# --- minimum-cost supplier (TPC-H Q2 shape) --------------------------------

_MINCOST_REGION = "EUROPE"
_MINCOST_TYPE = "STANDARD"
_MINCOST_MAX_SIZE = 15
_MINCOST_TOPK = 100


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost supplier per part (TPC-H Q2 shape — the classic
    correlated scalar subquery ``cost = (SELECT min(cost) ... WHERE
    partkey = outer.partkey)``, decorrelated into a per-part min-aggregate
    joined back on (partkey, cost)). The fixtures have no partsupp table,
    so the supply cost is derived from the fact: a (part, supplier)'s
    offered cost is its cheapest observed unit price.

    Unit price is exact fixed-point: floor(cents · 10⁴ / qty). The
    quotient's distance from any integer is ≥ 1/qty ≥ 1/50, far above
    double ulp at this magnitude, so floor is engine-portable where
    round-half would not be. Plan: region/nation dims broadcast onto
    supplier; the (part, cost) equi-join back is on exact integers; the
    final top-100 ranks on the ROUNDED acctbal (boundary-rounding
    convention) with (n_name, s_name, p_partkey) tie-breaks and runs as
    TakeOrderedAndProject."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_type") == _MINCOST_TYPE) & (F.col("p_size") <= _MINCOST_MAX_SIZE))
        .select("p_partkey", "p_name")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == _MINCOST_REGION)
        .select("r_regionkey")
    )
    rs = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    uc_c4 = F.floor(
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * 10000
        / F.col("l_quantity").cast("long")
    ).cast("long")
    offer = (
        l.select("l_partkey", "l_suppkey", uc_c4.alias("uc_c4"))
        .join(p, F.col("l_partkey") == p.p_partkey)
        .join(rs, F.col("l_suppkey") == rs.s_suppkey)
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(F.min("uc_c4").alias("cost_c4"))
    )
    best = offer.groupBy(F.col("p_partkey").alias("b_partkey")).agg(
        F.min("cost_c4").alias("best_c4")
    )
    return (
        offer.join(
            best,
            (offer.p_partkey == best.b_partkey) & (offer.cost_c4 == best.best_c4),
        )
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round(F.col("cost_c4") / 10000.0, 2).alias("supply_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(_MINCOST_TOPK)
    )


ORACLE_MINCOST = f"""
WITH rs AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = '{_MINCOST_REGION}'
),
offer AS (
  SELECT p.p_partkey, p.p_name, rs.s_suppkey, rs.s_name, rs.s_acctbal, rs.n_name,
         min(CAST(floor(CAST(round(l.l_extendedprice * 100) AS BIGINT) * 10000
                        / CAST(l.l_quantity AS BIGINT)) AS BIGINT)) AS cost_c4
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN rs ON l.l_suppkey = rs.s_suppkey
  WHERE p.p_type = '{_MINCOST_TYPE}' AND p.p_size <= {_MINCOST_MAX_SIZE}
  GROUP BY 1, 2, 3, 4, 5, 6
),
best AS (
  SELECT p_partkey, min(cost_c4) AS best_c4 FROM offer GROUP BY 1
)
SELECT round(o.s_acctbal, 2) AS s_acctbal, o.s_name, o.n_name, o.p_partkey, o.p_name,
       round(o.cost_c4 / 10000.0, 2) AS supply_cost
FROM offer o
JOIN best b ON o.p_partkey = b.p_partkey AND o.cost_c4 = b.best_c4
ORDER BY s_acctbal DESC, o.n_name, o.s_name, o.p_partkey
LIMIT {_MINCOST_TOPK}
"""


# --- product-type profit (TPC-H Q9 shape) ----------------------------------

_PROFIT_NAME_PREFIX = "red "
_PROFIT_COST_PCT = 50  # stand-in supply cost: 50% of retail price


def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit by supplier nation and order year over a part-name family
    (TPC-H Q9 shape: LIKE-filtered part dim, 5-table star join, year
    extraction, signed profit aggregate). No partsupp in the fixtures,
    so supply cost is the documented stand-in {_PROFIT_COST_PCT}% of
    retail price.

    Exact integer-cent×100 money: profit_c4 = price_cents·(100−disc) −
    retail_cents·{_PROFIT_COST_PCT}·qty, summed as longs — no float
    drift between partial-agg orders or engines. The LIKE filter prunes
    the part dim before its join (AQE broadcasts the ~5% survivor set at
    tested SFs); nation broadcasts; one exchange for the
    (nation, year) aggregate."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith(_PROFIT_NAME_PREFIX))
        .select("p_partkey", "p_retailprice")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount", "l_quantity"
    )
    pc = F.round(F.col("l_extendedprice") * 100).cast("long")
    dc = F.round(F.col("l_discount") * 100).cast("long")
    rc = F.round(F.col("p_retailprice") * 100).cast("long")
    profit_c4 = pc * (F.lit(100) - dc) - rc * _PROFIT_COST_PCT * F.col("l_quantity").cast("long")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(profit_c4) / F.lit(10000.0), 2).alias("profit"))
        # no trailing orderBy (order-insensitive hash; sort = wasted exchange)
    )


ORACLE_PROFIT = f"""
SELECT n.n_name,
       CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
       round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
                 - CAST(round(p.p_retailprice * 100) AS BIGINT)
                   * {_PROFIT_COST_PCT} * CAST(l.l_quantity AS BIGINT)) / 10000.0,
             2) AS profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE p.p_name LIKE '{_PROFIT_NAME_PREFIX}%'
GROUP BY 1, 2
ORDER BY n_name, o_year DESC
"""


# --- important part stock (TPC-H Q11 shape) --------------------------------

_STOCK_REGION = "ASIA"
_STOCK_FRACTION_DEN = 1000  # keep parts with value > total / 1000


def q_important_part_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts representing an outsized share of a region's traded value
    (TPC-H Q11 shape: grouped value per part, HAVING value > fraction ×
    a scalar subquery over the SAME filtered set). The fraction compare
    is exact integer math — value_c4 · {_STOCK_FRACTION_DEN} > total_c4
    — so no float threshold can diverge between engines.

    Plan: the region's supplier set is a broadcast semi-join onto the
    fact; per-part value is one map-side-combining exchange; the scalar
    total re-aggregates the per-part frame (no second fact scan) and
    broadcasts as a 1-row frame — the standard decorrelated
    scalar-subquery shape. ``share_bp`` (basis points) is floor-division,
    exact by the 1/total granularity argument."""
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == _STOCK_REGION)
        .select("r_regionkey")
    )
    region_supp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    vol_c4 = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    )
    per_part = (
        l.join(F.broadcast(region_supp), l.l_suppkey == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(vol_c4).alias("value_c4"))
        .localCheckpoint(eager=False)
    )
    total = per_part.agg(F.sum("value_c4").alias("total_c4"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_c4") * _STOCK_FRACTION_DEN > F.col("total_c4"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round(F.col("value_c4") / 10000.0, 2).alias("value"),
            F.floor(F.col("value_c4") * 10000 / F.col("total_c4")).cast("long").alias("share_bp"),
        )
        # no trailing orderBy (order-insensitive hash; sort = wasted exchange)
    )


ORACLE_STOCK = f"""
WITH region_supp AS (
  SELECT s_suppkey
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = '{_STOCK_REGION}'
),
per_part AS (
  SELECT l_partkey,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS value_c4
  FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM region_supp)
  GROUP BY 1
),
total AS (SELECT sum(value_c4) AS total_c4 FROM per_part)
SELECT l_partkey AS p_partkey,
       round(value_c4 / 10000.0, 2) AS value,
       CAST(floor(value_c4 * 10000 / total_c4) AS BIGINT) AS share_bp
FROM per_part CROSS JOIN total
WHERE value_c4 * {_STOCK_FRACTION_DEN} > total_c4
ORDER BY value DESC, p_partkey
"""


# --- shipping lag buckets (TPC-H Q12 shape) --------------------------------

_URGENT_PRIORITIES = ("1-URGENT", "2-HIGH")


def q_shipping_lag_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lag distribution with per-bucket priority mix
    (TPC-H Q12 shape: fact/dim join, CASE bucketing, conditional
    SUM(CASE WHEN priority IN urgent ...) aggregate). The fixtures lack
    shipmode/receipt dates, so the bucketed dimension is the lag between
    order date and ship date — including the synthetic data's negative
    lags ('early'), which a naive 0-based bucketing would misfile.

    Day arithmetic is calendar-date boundary counting in BOTH engines
    (Spark datediff on casts-to-date, DuckDB date_diff('day') on the
    same) — integer-exact, unlike sub-day timestamp diffs (repo
    convention). The urgent share is floor-division to basis points:
    exact by the 1/n granularity argument. One fact/orders join, one
    4-group aggregate."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lag = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    bucket = (
        F.when(lag < 0, "early")
        .when(lag <= 30, "fast")
        .when(lag <= 365, "standard")
        .otherwise("slow")
    )
    urgent = F.col("o_orderpriority").isin(*_URGENT_PRIORITIES).cast("long")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(bucket.alias("lag_bucket"))
        .agg(
            F.count("*").alias("n_items"),
            F.sum(urgent).alias("n_urgent"),
            F.min(lag).alias("min_lag_days"),
            F.max(lag).alias("max_lag_days"),
        )
        .select(
            "lag_bucket",
            "n_items",
            "n_urgent",
            F.floor(F.col("n_urgent") * 10000 / F.col("n_items")).cast("long").alias("urgent_bp"),
            "min_lag_days",
            "max_lag_days",
        )
        # no trailing orderBy (order-insensitive hash; sort = wasted exchange)
    )


ORACLE_LAG_BUCKETS = f"""
WITH lagged AS (
  SELECT date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS lag,
         o.o_orderpriority
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT CASE WHEN lag < 0 THEN 'early'
            WHEN lag <= 30 THEN 'fast'
            WHEN lag <= 365 THEN 'standard'
            ELSE 'slow' END AS lag_bucket,
       count(*) AS n_items,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS n_urgent,
       CAST(floor(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                  * 10000 / count(*)) AS BIGINT) AS urgent_bp,
       min(lag) AS min_lag_days,
       max(lag) AS max_lag_days
FROM lagged
GROUP BY 1
ORDER BY 1
"""


# --- brand/type/size supplier counts (TPC-H Q16 shape) ---------------------


def q_brand_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-supplier counts per (brand, type, size band), excluding a
    complaint set via NOT IN (TPC-H Q16 shape: NOT-IN decorrelated to an
    anti-join, COUNT(DISTINCT) over a 3-column group). The complaint
    stand-in is suppliers with negative account balance (the fixtures
    carry no comment text).

    Size bands use explicit floor() in both engines — DuckDB's
    double→int CAST rounds to nearest while Spark's truncates, so a bare
    CAST((p_size-1)/10 AS INT) would silently diverge on every band
    boundary. Plan: the excluded-supplier set is tiny → broadcast
    anti-join on the fact; part joins on the fact's own key; one
    count-distinct exchange (two-phase distinct aggregate)."""
    excluded = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") != "PROMO")
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    l = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        l.join(F.broadcast(excluded), l.l_suppkey == excluded.s_suppkey, "left_anti")
        .join(p, l.l_partkey == p.p_partkey)
        .groupBy(
            "p_brand",
            "p_type",
            F.floor((F.col("p_size") - 1) / 10).cast("int").alias("size_band"),
        )
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        # no trailing orderBy (order-insensitive hash; sort = wasted exchange)
    )


ORACLE_BRAND_SUPPLIERS = """
SELECT p.p_brand, p.p_type,
       CAST(floor((p.p_size - 1) / 10) AS INTEGER) AS size_band,
       count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_type <> 'PROMO'
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, size_band
"""


# --- dominant-share suppliers (TPC-H Q20 shape) ----------------------------

_EXCESS_NAME_PREFIX = "small "
_EXCESS_YEAR = 1998  # non-empty at every fixture SF (1997 is empty at sf0.001)
_EXCESS_REGION = "AMERICA"


def q_excess_shipped_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who dominated a part's shipped volume (TPC-H Q20 shape:
    nested IN-subqueries — parts by name prefix, a correlated
    quantity-threshold against a per-part total, then a supplier
    semi-join). A supplier qualifies on a part when its {_EXCESS_YEAR}
    shipped quantity exceeds HALF the part's total shipped quantity that
    year (2·qty > total as exact longs — quantities are whole numbers).

    Plan: the name-prefix part set semi-joins the date-pruned fact; the
    per-(supplier, part) aggregate is lazily checkpointed and re-aggregated
    for the per-part totals (no second fact scan — the Q11 scalar-total
    trick at per-part grain); the dominance filter is an equi-join on
    partkey; region suppliers broadcast."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith(_EXCESS_NAME_PREFIX))
        .select("p_partkey")
    )
    l = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(f"{_EXCESS_YEAR}-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(f"{_EXCESS_YEAR + 1}-01-01 00:00:00").cast("timestamp"))
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    qty_sp = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
        .localCheckpoint(eager=False)
    )
    tot_p = qty_sp.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("qty").alias("total_qty")
    )
    dominant = (
        qty_sp.join(tot_p, qty_sp.l_partkey == tot_p.t_partkey)
        .filter(F.col("qty") * 2 > F.col("total_qty"))
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n_dominant_parts"), F.sum("qty").alias("dominant_qty"))
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == _EXCESS_REGION)
        .select("r_regionkey")
    )
    rs = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "n_name")
    )
    return (
        dominant.join(rs, dominant.l_suppkey == rs.s_suppkey)
        .select("s_suppkey", "s_name", "n_name", "n_dominant_parts", "dominant_qty")
        # no trailing orderBy (order-insensitive hash; sort = wasted exchange)
    )


ORACLE_EXCESS = f"""
WITH qty_sp AS (
  SELECT l_suppkey, l_partkey, sum(CAST(l_quantity AS BIGINT)) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{_EXCESS_YEAR}-01-01'
    AND l_shipdate < TIMESTAMP '{_EXCESS_YEAR + 1}-01-01'
    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '{_EXCESS_NAME_PREFIX}%')
  GROUP BY 1, 2
),
tot_p AS (SELECT l_partkey, sum(qty) AS total_qty FROM qty_sp GROUP BY 1),
dominant AS (
  SELECT q.l_suppkey, count(*) AS n_dominant_parts,
         CAST(sum(q.qty) AS BIGINT) AS dominant_qty
  FROM qty_sp q JOIN tot_p t ON q.l_partkey = t.l_partkey
  WHERE q.qty * 2 > t.total_qty
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, n.n_name, d.n_dominant_parts, d.dominant_qty
FROM dominant d
JOIN supplier s ON d.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = '{_EXCESS_REGION}'
ORDER BY s.s_name, s.s_suppkey
"""


_ITEMSET_CAP = 16
_ITEMSET_TOP_K = 25


def q_basket_frequent_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-itemset mining (Apriori levels 1-3) over order baskets:
    items, pairs, and triples of parts co-ordered at least {3,3,2}
    times — the association-rule mining generalization of the pairwise
    lift query (`basket_part_affinity`) to higher-order itemsets.

    Level-wise semantics match Apriori exactly by anti-monotonicity: a
    k-itemset meeting min-support implies every subset meets it, so
    count-then-filter yields precisely the Apriori-pruned lattice —
    without materializing candidate generations as separate joins.

    Plan: ONE shuffle builds each capped sorted basket (collect_set →
    array_sort → slice to {cap} lowest part ids, mirrored in the
    oracle); every combination is then generated ARRAY-SIDE from the
    sorted array (nested indexed transforms keep a<b<c by
    construction) — no within-order self-join, no distinct exchange;
    per-basket work is bounded C(cap,3) inside codegen. Each level is
    one explode + count with map-side partials; the level union is
    aggregated rows (tiny); the final per-level top-k window runs over
    already-aggregated survivors, not facts. The same shape holds at
    100 TB: fan-out rides basket size (capped), never table size.

    r14 (guide §2.3 — shuffle fewer bytes, aggregate cheaper keys):
    the per-combination keys are numeric STRUCTS, and the ``'a|b|c'``
    itemset strings are built only for the post-aggregation SURVIVORS
    — the previous form concatenated a string per combination inside
    the interpreted nested transforms and shuffled/grouped on those
    ~20-byte strings (measured 3.6 → 3.0 s at sf0.1; strings from
    cast-long concat are byte-identical to the old implicit casts, so
    the output and its tie-breaks are unchanged).

    The oracle deliberately takes the OTHER algorithm — within-order
    equi-self-joins per level — so two independent formulations must
    agree on the exact lattice."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = (
        li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .groupBy("o")
        .agg(
            F.slice(F.array_sort(F.collect_set("p")), 1, _ITEMSET_CAP).alias("items")
        )
        .localCheckpoint(eager=False)
    )
    singles = (
        baskets.select(F.explode("items").alias("x"))
        .groupBy("x")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= 3)
        .select(
            F.lit(1).alias("level"),
            F.col("x").cast("string").alias("itemset"),
            "support",
        )
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(items, (x, i) -> "
                    "transform(slice(items, i + 2, size(items)), "
                    "y -> struct(x, y))))"
                )
            ).alias("st")
        )
        .groupBy("st")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= 3)
        .select(
            F.lit(2).alias("level"),
            F.concat_ws(
                "|", F.col("st.x").cast("string"), F.col("st.y").cast("string")
            ).alias("itemset"),
            "support",
        )
    )
    triples = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(flatten(transform(items, (x, i) -> "
                    "transform(slice(items, i + 2, size(items)), (y, j) -> "
                    "transform(slice(items, i + j + 3, size(items)), "
                    "z -> struct(x, y, z))))))"
                )
            ).alias("st")
        )
        .groupBy("st")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= 2)
        .select(
            F.lit(3).alias("level"),
            F.concat_ws(
                "|",
                F.col("st.x").cast("string"),
                F.col("st.y").cast("string"),
                F.col("st.z").cast("string"),
            ).alias("itemset"),
            "support",
        )
    )
    lattice = singles.union(pairs).union(triples)
    w = Window.partitionBy("level").orderBy(F.desc("support"), F.asc("itemset"))
    return (
        lattice.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _ITEMSET_TOP_K)
        .select("level", "itemset", "support")
    )


ORACLE_ITEMSETS = f"""
WITH li AS (
  SELECT o, p FROM (
    SELECT o, p, row_number() OVER (PARTITION BY o ORDER BY p) AS rk
    FROM (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)
  ) WHERE rk <= {_ITEMSET_CAP}
),
lattice AS (
  SELECT 1 AS level, CAST(p AS VARCHAR) AS itemset, count(*) AS support
  FROM li GROUP BY 2 HAVING count(*) >= 3
  UNION ALL
  SELECT 2, concat(a.p, '|', b.p), count(*)
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
  GROUP BY 2 HAVING count(*) >= 3
  UNION ALL
  SELECT 3, concat(a.p, '|', b.p, '|', c.p), count(*)
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
            JOIN li c ON b.o = c.o AND b.p < c.p
  GROUP BY 2 HAVING count(*) >= 2
)
SELECT level, itemset, CAST(support AS BIGINT) AS support
FROM lattice
QUALIFY row_number() OVER (PARTITION BY level
                           ORDER BY support DESC, itemset ASC)
        <= {_ITEMSET_TOP_K}
"""


def q_part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) over the part table: parts not dominated
    on (minimize p_retailprice, maximize p_size) — the multi-criteria
    "best tradeoff" operator (cheapest-for-its-size) that PostgreSQL
    answers with a NOT EXISTS anti-self-join and a skyline engine answers
    with a dominance scan.

    The naive formulation is an O(n²) dominance self-join; the 2-D
    skyline admits a sort + prefix-max scan instead: a point survives
    iff no point with price ≤ mine has strictly better size (and no
    strictly-cheaper point ties my size). A single global
    ``Window.orderBy(price)`` would serialize the fact table into one
    partition, so the prefix max is computed as a two-level distributed
    scan — the classic parallel prefix pattern: (1) bucket rows by a
    fixed price grid (equal prices always share a bucket, so earlier
    bucket ⇒ strictly cheaper); (2) per-bucket running maxima via
    bucket-partitioned range windows (parallel over buckets); (3) a
    bucket-level prefix max over the tiny per-bucket aggregate (the only
    single-partition window, sized |buckets|, not |rows|), broadcast back.
    Dominated iff ``max_size(strictly cheaper) ≥ mine`` or
    ``max_size(price ≤ mine) > mine``. One fact shuffle (bucket
    hash-partition for the windows); the bucket aggregate and broadcast
    join are metadata-sized. At 100 TB the same plan holds: buckets keep
    every partition independent and the prefix table stays tiny.

    Ties on both axes: duplicate (price, size) points dominate each
    other only non-strictly, so all copies survive — matching the
    NOT-EXISTS oracle's strict-dominance semantics.
    """
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_size",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
        F.round(F.col("p_retailprice"), 2).alias("price"),
    )
    p = p.withColumn("bucket", (F.col("cents") / F.lit(1000)).cast("long"))
    w_strict = (
        Window.partitionBy("bucket")
        .orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_incl = (
        Window.partitionBy("bucket")
        .orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    p = p.withColumn("in_strict", F.max("p_size").over(w_strict)).withColumn(
        "in_incl", F.max("p_size").over(w_incl)
    )
    bucket_max = p.groupBy("bucket").agg(F.max("p_size").alias("bmax"))
    w_prev = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    prefix = bucket_max.select(
        "bucket", F.max("bmax").over(w_prev).alias("prev_max")
    )
    joined = p.join(F.broadcast(prefix), "bucket")
    neg_inf = F.lit(-(2**31))
    m_strict = F.greatest(
        F.coalesce(F.col("prev_max"), neg_inf),
        F.coalesce(F.col("in_strict"), neg_inf),
    )
    m_incl = F.greatest(F.coalesce(F.col("prev_max"), neg_inf), F.col("in_incl"))
    return (
        joined.filter(~((m_strict >= F.col("p_size")) | (m_incl > F.col("p_size"))))
        .select("p_partkey", "p_name", "price", "p_size")
    )


ORACLE_SKYLINE = """
SELECT p.p_partkey, p.p_name, round(p.p_retailprice, 2) AS price, p.p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice
    AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
"""



def q_nation_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS revenue trend + one-step forecast per nation:
    monthly order revenue (exact cents) regressed on the month index,
    with slope, next-month forecast and R² — the "is this market
    growing?" readout, computed as ONE aggregation pass per nation.

    Distributed-regression discipline: OLS needs only the sufficient
    statistics (n, Σx, Σy, Σx², Σxy, Σy²), all exact integer sums so
    both engines derive bit-identical slopes with no per-row float
    accumulation and no second pass. Width audit (r8, SCALE.md §int64):
    Σy and Σxy stay int64 far past sf1.0 (monthly cents ≈ 1e10 at
    sf0.1, ×1e4 months × m ≤ 84 « 2^63), but Σy² has 1e20 TERMS at
    sf0.1 — it is computed in decimal(38,0) (Spark) / HUGEINT-internal
    sum (DuckDB), still exact and engine-identical, headroom to 1e38;
    it feeds only the double-rounded R², never an integer output. Silent months enter as true zero
    rows via the per-nation month spine (a trend fitted only to active
    months would overestimate a dying market). The shape is the
    map-side-combine ideal: raw orders collapse to (nation, month)
    partials, then 25 tiny OLS rows."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        o.select(
            "o_custkey",
            (
                (F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1
            ).alias("m"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey", "m")
        .agg(F.sum("cents").alias("rev"))
    )
    spine = (
        monthly.groupBy("c_nationkey")
        .agg(F.min("m").alias("m0"), F.max("m").alias("m1"))
        .select("c_nationkey", F.explode(F.sequence("m0", "m1")).alias("m"))
    )
    dense = spine.join(monthly, ["c_nationkey", "m"], "left").select(
        "c_nationkey", "m", F.coalesce("rev", F.lit(0)).alias("rev")
    )
    stats = dense.groupBy("c_nationkey").agg(
        F.count("*").alias("nm"),
        F.sum("m").alias("sx"),
        F.sum("rev").alias("sy"),
        F.sum(F.col("m") * F.col("m")).alias("sxx"),
        F.sum(F.col("m") * F.col("rev")).alias("sxy"),
        F.sum(
            F.col("rev").cast("decimal(19,0)") * F.col("rev").cast("decimal(19,0)")
        ).alias("syy"),
        F.max("m").alias("m_last"),
    )
    num = F.col("nm") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("nm") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num / F.nullif(den, F.lit(0))
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("nm")
    sst = (
        F.col("nm").cast("double") * F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy")
    )
    r2 = (num.cast("double") * num) / F.nullif(den.cast("double") * sst, F.lit(0.0))
    return (
        stats.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "n_name",
            F.col("nm").alias("n_months"),
            F.round(slope / 100.0, 4).alias("slope_usd_per_month"),
            F.round((intercept + slope * (F.col("m_last") + 1)) / 100.0, 2).alias(
                "forecast_usd"
            ),
            F.round(r2, 4).alias("r2"),
        )
    )


ORACLE_REV_TREND = """
WITH monthly AS (
  SELECT c.c_nationkey,
         (year(o.o_orderdate) - 1992) * 12 + month(o.o_orderdate) - 1 AS m,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
spine AS (
  SELECT c_nationkey, unnest(range(m0, m1 + 1)) AS m
  FROM (SELECT c_nationkey, min(m) AS m0, max(m) AS m1 FROM monthly GROUP BY 1)
),
dense AS (
  SELECT s.c_nationkey, s.m, CAST(coalesce(x.rev, 0) AS BIGINT) AS rev
  FROM spine s LEFT JOIN monthly x
    ON x.c_nationkey = s.c_nationkey AND x.m = s.m
),
stats AS (
  SELECT c_nationkey,
         CAST(count(*) AS BIGINT) AS nm,
         CAST(sum(m) AS BIGINT) AS sx,
         CAST(sum(rev) AS BIGINT) AS sy,
         CAST(sum(m * m) AS BIGINT) AS sxx,
         CAST(sum(m * rev) AS BIGINT) AS sxy,
         CAST(sum(CAST(rev AS HUGEINT) * rev) AS DOUBLE) AS syy,
         CAST(max(m) AS BIGINT) AS m_last
  FROM dense GROUP BY 1
)
SELECT n.n_name, stats.nm AS n_months,
       round((nm * sxy - sx * sy) / CAST(nullif(nm * sxx - sx * sx, 0) AS DOUBLE)
             / 100.0, 4) AS slope_usd_per_month,
       round(((sy - (nm * sxy - sx * sy)
                    / CAST(nullif(nm * sxx - sx * sx, 0) AS DOUBLE) * sx) / nm
              + (nm * sxy - sx * sy)
                / CAST(nullif(nm * sxx - sx * sx, 0) AS DOUBLE) * (m_last + 1))
             / 100.0, 2) AS forecast_usd,
       round((CAST(nm * sxy - sx * sy AS DOUBLE) * (nm * sxy - sx * sy))
             / nullif(CAST(nm * sxx - sx * sx AS DOUBLE)
                      * (CAST(nm AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy),
                      0.0), 4) AS r2
FROM stats JOIN nation n ON n.n_nationkey = stats.c_nationkey
"""



_BT_MIN_MONTHS = 12


def q_nation_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expanding-window forecast BACKTEST of the per-nation revenue
    trend model (q_nation_revenue_trend's OLS): for every month m with
    ≥ 12 prior months, fit the line on months < m only, forecast m,
    and report each nation's mean absolute percentage error — the
    honest "would this model have worked" loop, done WITHOUT refitting:
    the OLS sufficient statistics (n, Σx, Σy, Σxy, Σx²) over "months
    before m" are one set of EXCLUSIVE cumulative window sums per
    nation, so all ~84 backtests per nation fall out of a single sort
    — backtesting as window algebra, no per-fold recomputation, no
    loop.

    Exactness: prefix sums are exact integers; the slope/forecast
    combination terms (n·Σxy − Σx·Σy …) run in decimal(38,0) per the
    r8 width policy (n·Σxy ≈ 6e19 at 100 TB-equivalent monthly cents);
    each month's percentage error is derived from identical doubles in
    both engines and IMMEDIATELY integerized (round(1e6·APE) as
    BIGINT), so the per-nation mean is a ratio of exact integers —
    no double accumulation across months anywhere."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        o.select(
            "o_custkey",
            (
                (F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1
            ).alias("m"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey", "m")
        .agg(F.sum("cents").alias("rev"))
    )
    spine = (
        monthly.groupBy("c_nationkey")
        .agg(F.min("m").alias("m0"), F.max("m").alias("m1"))
        .select("c_nationkey", F.explode(F.sequence("m0", "m1")).alias("m"))
    )
    dense = spine.join(monthly, ["c_nationkey", "m"], "left").select(
        "c_nationkey", "m", F.coalesce("rev", F.lit(0)).alias("rev")
    )
    w_prior = (
        Window.partitionBy("c_nationkey")
        .orderBy("m")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pri = dense.select(
        "c_nationkey",
        "m",
        "rev",
        F.count("*").over(w_prior).alias("np"),
        F.sum("m").over(w_prior).alias("sx"),
        F.sum("rev").over(w_prior).alias("sy"),
        F.sum(F.col("m") * F.col("m")).over(w_prior).alias("sxx"),
        F.sum(F.col("m") * F.col("rev")).over(w_prior).alias("sxy"),
    )
    d = lambda col: F.col(col).cast("decimal(19,0)")  # noqa: E731
    num = d("np") * d("sxy") - d("sx") * d("sy")
    den = d("np") * d("sxx") - d("sx") * d("sx")
    slope = num.cast("double") / F.nullif(den.cast("double"), F.lit(0.0))
    forecast = (F.col("sy") - slope * F.col("sx")) / F.col("np") + slope * F.col("m")
    ape_int = F.round(
        F.lit(1e6) * F.abs(forecast - F.col("rev")) / F.col("rev")
    ).cast("long")
    scored = pri.filter(
        (F.col("np") >= _BT_MIN_MONTHS) & (F.col("rev") > 0)
    ).select("c_nationkey", ape_int.alias("ape"))
    agg = scored.groupBy("c_nationkey").agg(
        F.count("*").alias("n_backtests"), F.sum("ape").alias("sape")
    )
    return (
        agg.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "n_name",
            F.col("n_backtests").cast("long").alias("n_backtests"),
            F.round(F.col("sape") / F.col("n_backtests") / 1e6, 4).alias("mape"),
        )
    )


ORACLE_FORECAST_BT = f"""
WITH monthly AS (
  SELECT c.c_nationkey,
         (year(o.o_orderdate) - 1992) * 12 + month(o.o_orderdate) - 1 AS m,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
spine AS (
  SELECT c_nationkey, unnest(range(m0, m1 + 1)) AS m
  FROM (SELECT c_nationkey, min(m) AS m0, max(m) AS m1 FROM monthly GROUP BY 1)
),
dense AS (
  SELECT s.c_nationkey, s.m, CAST(coalesce(x.rev, 0) AS BIGINT) AS rev
  FROM spine s LEFT JOIN monthly x
    ON x.c_nationkey = s.c_nationkey AND x.m = s.m
),
pri AS (
  SELECT c_nationkey, m, rev,
         count(*) OVER w AS np,
         CAST(sum(m) OVER w AS HUGEINT) AS sx,
         CAST(sum(rev) OVER w AS HUGEINT) AS sy,
         CAST(sum(m * m) OVER w AS HUGEINT) AS sxx,
         CAST(sum(m * rev) OVER w AS HUGEINT) AS sxy
  FROM dense
  WINDOW w AS (PARTITION BY c_nationkey ORDER BY m
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
scored AS (
  SELECT c_nationkey,
         CAST(round(1e6 * abs(
           (sy - CAST(np * sxy - sx * sy AS DOUBLE)
                 / nullif(CAST(np * sxx - sx * sx AS DOUBLE), 0.0) * sx) / np
           + CAST(np * sxy - sx * sy AS DOUBLE)
             / nullif(CAST(np * sxx - sx * sx AS DOUBLE), 0.0) * m
           - rev) / rev) AS BIGINT) AS ape
  FROM pri
  WHERE np >= {_BT_MIN_MONTHS} AND rev > 0
)
SELECT n.n_name,
       CAST(count(*) AS BIGINT) AS n_backtests,
       round(CAST(sum(ape) AS BIGINT) / CAST(count(*) AS DOUBLE) / 1e6, 4)
         AS mape
FROM scored JOIN nation n ON n.n_nationkey = scored.c_nationkey
GROUP BY 1
"""


def q_nation_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per nation: the top-decile customer share
    and the Gini coefficient of the customer revenue distribution — the
    "how whale-dependent is this market" readout behind every
    concentration-risk review.

    Exactness: customer revenue is an integer cents sum; ranks are
    integers off a deterministic (revenue, custkey) order; Gini uses
    the rank identity G = 2·Σ(i·y_i)/(n·Σy) − (n+1)/n over the
    ASCENDING sort, so every input to both statistics is an exact
    integer sum and the engines can't disagree below the display
    rounding. Windows are PARTITIONED by nation (25 partitions of
    ~n/25 customers — never a global sort); the customer rollup
    map-side-combines before any window sees a row."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_cust = (
        o.select(
            "o_custkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("rev"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
    )
    w_desc = Window.partitionBy("c_nationkey").orderBy(
        F.desc("rev"), F.asc("c_custkey")
    )
    w_asc = Window.partitionBy("c_nationkey").orderBy(
        F.asc("rev"), F.desc("c_custkey")
    )
    ranked = per_cust.select(
        "c_nationkey",
        "rev",
        F.row_number().over(w_desc).alias("rk_desc"),
        F.row_number().over(w_asc).alias("rk_asc"),
        F.count("*").over(Window.partitionBy("c_nationkey")).alias("n_in_nation"),
    )
    agg = ranked.groupBy("c_nationkey").agg(
        F.count("*").alias("n_cust"),
        F.sum("rev").alias("total"),
        F.sum(
            F.when(
                F.col("rk_desc") <= F.ceil(F.col("n_in_nation") / 10.0), F.col("rev")
            ).otherwise(0)
        ).alias("top_rev"),
        # rank×revenue in decimal(38,0): at sf100 rank ≈ 6e5 and customer
        # revenue ≈ 1.5e8 cents → Σ(i·yᵢ) ≈ 5e19 > 2⁶³ (SCALE.md §int64)
        F.sum(
            F.col("rk_asc").cast("decimal(19,0)") * F.col("rev").cast("decimal(19,0)")
        ).alias("iy"),
    )
    gini = (
        2.0 * F.col("iy").cast("double")
        / (F.col("n_cust").cast("double") * F.col("total").cast("double"))
        - (F.col("n_cust") + 1) / F.col("n_cust")
    )
    return (
        agg.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "n_name",
            F.col("n_cust").alias("n_customers"),
            F.round(F.col("top_rev") / F.col("total"), 4).alias("top_decile_share"),
            F.round(gini, 4).alias("gini"),
        )
    )


ORACLE_REV_CONC = """
WITH per_cust AS (
  SELECT c.c_nationkey, o.o_custkey,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT c_nationkey, rev,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY rev DESC, o_custkey ASC) AS rk_desc,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY rev ASC, o_custkey DESC) AS rk_asc,
         count(*) OVER (PARTITION BY c_nationkey) AS n_cust
  FROM per_cust
),
agg AS (
  SELECT c_nationkey,
         CAST(max(n_cust) AS BIGINT) AS n_cust,
         CAST(sum(rev) AS BIGINT) AS total,
         CAST(sum(CASE WHEN rk_desc <= ceil(n_cust / 10.0) THEN rev ELSE 0 END)
              AS BIGINT) AS top_rev,
         CAST(sum(CAST(rk_asc AS HUGEINT) * rev) AS DOUBLE) AS iy
  FROM ranked GROUP BY 1
)
SELECT n.n_name, agg.n_cust AS n_customers,
       round(top_rev / CAST(total AS DOUBLE), 4) AS top_decile_share,
       round(2.0 * iy / (CAST(n_cust AS DOUBLE) * CAST(total AS DOUBLE))
             - (n_cust + 1) / CAST(n_cust AS DOUBLE), 4) AS gini
FROM agg JOIN nation n ON n.n_nationkey = agg.c_nationkey
"""



def q_customer_km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-second-order, with
    right-censoring: converters contribute an EVENT at T = days between
    first and second order; one-order customers are CENSORED at
    C = days from their first order to the dataset's last order date
    (they were still "alive" when observation ended — dropping them,
    as a naive conversion-rate query does, biases the curve toward
    fast converters). Emits, per event day t: customers still at risk,
    events, the hazard d/n, and the KM survival estimate
    S(t) = Π_{t'≤t}(1 − d/n) — the "how long until an acquired
    customer reorders" curve a payback model integrates.

    Scale shape: the fact table collapses to one (time, is_event) row
    per customer (two min-aggregates on custkey), then to ≤ |distinct
    days| rows; the at-risk count is ONE reverse-cumulative sum and
    the survival product is exp(Σ ln(1−h)) over that tiny day spine —
    the single-partition window touches only the post-aggregate rows,
    bounded by the calendar, never by customers. The log-sum runs in
    identical frame order in both engines, so the rounded survival
    cannot diverge."""
    o = load_table(spark, sf_dir, "orders")
    # two aggregates: first and second order dates per customer (the
    # second re-aggregates above a broadcast of the firsts — no window
    # over the raw fact stream)
    firsts = (
        o.select("o_custkey", "o_orderdate")
        .groupBy("o_custkey")
        .agg(F.min("o_orderdate").alias("d1"))
    )
    # equi-join on custkey (NOT broadcast: firsts is |customers|-sized
    # at scale; the shuffle co-partitions with the groupBy that follows)
    seconds = (
        o.join(firsts.select("o_custkey", "d1"), "o_custkey")
        .filter(F.col("o_orderdate") > F.col("d1"))
        .groupBy("o_custkey")
        .agg(F.min("o_orderdate").alias("d2"))
    )
    last_day = o.groupBy().agg(F.max("o_orderdate").alias("dmax"))
    per_cust = (
        firsts.join(seconds, "o_custkey", "left")
        .crossJoin(F.broadcast(last_day))
        .select(
            F.when(
                F.col("d2").isNotNull(), F.datediff("d2", "d1")
            )
            .otherwise(F.datediff("dmax", "d1"))
            .cast("long")
            .alias("t"),
            F.col("d2").isNotNull().alias("is_event"),
        )
    )
    days = per_cust.groupBy("t").agg(
        F.sum(F.when(F.col("is_event"), 1).otherwise(0)).alias("n_events"),
        F.count("*").alias("n_total"),
    )
    w_rev = Window.orderBy(F.desc("t")).rowsBetween(Window.unboundedPreceding, 0)
    w_fwd = Window.orderBy(F.asc("t")).rowsBetween(Window.unboundedPreceding, 0)
    at_risk = days.withColumn("n_at_risk", F.sum("n_total").over(w_rev))
    hazard = F.col("n_events") / F.col("n_at_risk")
    # hazard = 1 (everyone still at risk converts — the terminal day)
    # sends ln(1−h) to −∞; carry the zero as an explicit flag so neither
    # engine takes log(0)
    km = at_risk.withColumn(
        "log_s",
        F.sum(
            F.when(F.col("n_events") < F.col("n_at_risk"), F.log(1.0 - hazard))
            .otherwise(F.lit(0.0))
        ).over(w_fwd),
    ).withColumn(
        "hit_zero",
        F.max(
            F.when(F.col("n_events") == F.col("n_at_risk"), 1).otherwise(0)
        ).over(w_fwd),
    )
    survival = F.when(F.col("hit_zero") == 1, F.lit(0.0)).otherwise(
        F.round(F.exp("log_s"), 4)
    )
    return km.filter(F.col("n_events") > 0).select(
        F.col("t").alias("t_days"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.col("n_events").cast("long").alias("n_events"),
        F.round(hazard, 4).alias("hazard"),
        survival.alias("survival"),
    )


ORACLE_KM_SURVIVAL = """
WITH firsts AS (
  SELECT o_custkey, min(o_orderdate) AS d1 FROM orders GROUP BY 1
),
seconds AS (
  SELECT o.o_custkey, min(o.o_orderdate) AS d2
  FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
  WHERE o.o_orderdate > f.d1
  GROUP BY 1
),
per_cust AS (
  SELECT CASE WHEN s.d2 IS NOT NULL
              THEN date_diff('day', f.d1, s.d2)
              ELSE date_diff('day', f.d1, (SELECT max(o_orderdate) FROM orders))
         END AS t,
         s.d2 IS NOT NULL AS is_event
  FROM firsts f LEFT JOIN seconds s ON s.o_custkey = f.o_custkey
),
days AS (
  SELECT t, sum(CASE WHEN is_event THEN 1 ELSE 0 END) AS n_events,
         count(*) AS n_total
  FROM per_cust GROUP BY 1
),
risk AS (
  SELECT t, n_events,
         sum(n_total) OVER (ORDER BY t DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS n_at_risk
  FROM days
),
km AS (
  SELECT t, n_events, n_at_risk,
         sum(CASE WHEN n_events < n_at_risk
                  THEN ln(1.0 - n_events / CAST(n_at_risk AS DOUBLE))
                  ELSE 0.0 END)
           OVER (ORDER BY t ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS log_s,
         max(CASE WHEN n_events = n_at_risk THEN 1 ELSE 0 END)
           OVER (ORDER BY t ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hit_zero
  FROM risk
)
SELECT CAST(t AS BIGINT) AS t_days,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       CAST(n_events AS BIGINT) AS n_events,
       round(n_events / CAST(n_at_risk AS DOUBLE), 4) AS hazard,
       CASE WHEN hit_zero = 1 THEN 0.0 ELSE round(exp(log_s), 4) END AS survival
FROM km WHERE n_events > 0
"""


def q_customer_repeat_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase ladder: for every order count k, how many
    customers placed at least k orders, and the conditional
    "k-th → k+1-th order" conversion rate — the retention curve an
    e-commerce margin model is built on (acquisition pays for order 1;
    the ladder says what an acquired customer is worth).

    Two aggregates and one tiny window: the fact table collapses to
    per-customer order counts (map-side combine on custkey), those
    collapse to |distinct k| rows, and the ≥k cumulative + next-rung
    ratio run on a dense k spine (array-side sequence to k_max, so a
    rung nobody sits on exactly still appears with its pass-through
    rate). Integer counts end-to-end; the ratio rounds for display."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(F.count("*").alias("k"))
    exact = per_cust.groupBy("k").agg(F.count("*").alias("n_exact"))
    spine = exact.groupBy().agg(F.max("k").alias("kmax")).select(
        F.explode(F.sequence(F.lit(1), F.col("kmax"))).alias("k")
    )
    dense = spine.join(exact, "k", "left").select(
        "k", F.coalesce("n_exact", F.lit(0)).alias("n_exact")
    )
    w_ge = Window.orderBy(F.desc("k")).rowsBetween(Window.unboundedPreceding, 0)
    w_next = Window.orderBy("k")
    laddered = dense.withColumn("n_ge", F.sum("n_exact").over(w_ge))
    return laddered.select(
        "k",
        F.col("n_exact").cast("long").alias("n_exact"),
        F.col("n_ge").cast("long").alias("n_ge"),
        F.round(
            F.lead("n_ge").over(w_next) / F.col("n_ge"), 4
        ).alias("repeat_rate"),
    )


ORACLE_REPEAT_LADDER = """
WITH per_cust AS (
  SELECT o_custkey, count(*) AS k FROM orders GROUP BY 1
),
exact AS (SELECT k, CAST(count(*) AS BIGINT) AS n_exact FROM per_cust GROUP BY 1),
spine AS (SELECT unnest(range(1, (SELECT max(k) FROM exact) + 1)) AS k),
dense AS (
  SELECT s.k, CAST(coalesce(e.n_exact, 0) AS BIGINT) AS n_exact
  FROM spine s LEFT JOIN exact e ON e.k = s.k
),
laddered AS (
  SELECT k, n_exact,
         CAST(sum(n_exact) OVER (ORDER BY k DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS n_ge
  FROM dense
)
SELECT k, n_exact, n_ge,
       round(lead(n_ge) OVER (ORDER BY k) / CAST(n_ge AS DOUBLE), 4)
         AS repeat_rate
FROM laddered
"""



def q_brand_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median price per brand — "the price at
    which half the UNITS (not half the line items) trade" — the
    weighted-percentile shape percentile_approx cannot answer exactly
    and a plain median answers wrongly whenever cheap parts ship in
    bulk.

    Classic lower-weighted-median rule, made engine-exact: weights are
    integer units, prices integer cents, rows order deterministically
    by (price, partkey) within the brand, and the pick is the first
    row whose running weight satisfies ``2·cumw ≥ total`` — an integer
    comparison, so both engines select the identical row with no
    interpolation or tolerance. One exchange on brand for the window;
    the total rides the same partition (no second aggregate pass)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    base = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "l_partkey")
        .agg(
            F.sum(F.round("l_quantity").cast("long")).alias("units"),
            # one representative cents price per (brand, part): the
            # max_by(extendedprice-per-unit...) would be ambiguous;
            # use min line price scaled to cents for determinism
            F.min(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "cents"
            ),
        )
    )
    w_ord = Window.partitionBy("p_brand").orderBy("cents", "l_partkey")
    w_all = Window.partitionBy("p_brand")
    ranked = base.select(
        "p_brand",
        "cents",
        "units",
        F.sum("units").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)).alias("cumw"),
        F.sum("units").over(w_all).alias("total"),
    )
    return (
        ranked.filter(2 * F.col("cumw") >= F.col("total"))
        .groupBy("p_brand")
        .agg(
            F.min(F.col("cents")).alias("med_cents"),
            F.max("total").alias("total_units"),
        )
        .select(
            "p_brand",
            F.round(F.col("med_cents") / 100.0, 2).alias("weighted_median_price"),
            F.col("total_units").cast("long").alias("total_units"),
        )
    )


ORACLE_WEIGHTED_MEDIAN = """
WITH base AS (
  SELECT p.p_brand, l.l_partkey,
         CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS units,
         min(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT p_brand, cents, units,
         CAST(sum(units) OVER (PARTITION BY p_brand ORDER BY cents, l_partkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cumw,
         CAST(sum(units) OVER (PARTITION BY p_brand) AS BIGINT) AS total
  FROM base
)
SELECT p_brand,
       round(min(cents) / 100.0, 2) AS weighted_median_price,
       CAST(max(total) AS BIGINT) AS total_units
FROM ranked
WHERE 2 * cumw >= total
GROUP BY 1
"""



def q_supplier_return_pchart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier return-rate p-chart (statistical process control): each
    supplier's returned-line rate tested against the pooled corpus rate
    with binomial ±3σ control limits — the "which suppliers are OUT OF
    CONTROL, not just worst-ranked" question a naive top-N by rate gets
    wrong (a 1-line supplier with 1 return is 100% but not evidence).

    z_i = (r_i − p̄·n_i) / sqrt(p̄(1−p̄)·n_i): every input is an exact
    integer count (returns, lines, pooled totals), so both engines
    derive identical statistics — the CUSUM/AB discipline again. One
    aggregate on suppkey, a 1-row pooled aggregate broadcast back, and
    a broadcast supplier-dim join for the name. Degenerate pooled
    rates (0 or 1) NULL the statistic instead of erroring, and the
    flag applies the standard p-chart validity precondition
    n_i·p̄ ≥ 5 (as the exact integer cross-product n_i·tot_r ≥
    5·tot_n) — the normal approximation is meaningless for a 1-line
    supplier whose 100% rate would otherwise "flag"."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    per = li.groupBy("l_suppkey").agg(
        F.count("*").alias("n_lines"),
        F.sum((F.col("l_returnflag") == "R").cast("long")).alias("n_returns"),
    )
    pooled = per.groupBy().agg(
        F.sum("n_lines").alias("tot_n"), F.sum("n_returns").alias("tot_r")
    )
    pbar = F.col("tot_r") / F.col("tot_n")
    z = (F.col("n_returns") - pbar * F.col("n_lines")) / F.nullif(
        F.sqrt(pbar * (1 - pbar) * F.col("n_lines")), F.lit(0.0)
    )
    return (
        per.crossJoin(F.broadcast(pooled))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("l_suppkey").alias("suppkey"),
            "s_name",
            "n_lines",
            "n_returns",
            F.round(F.col("n_returns") / F.col("n_lines"), 4).alias("return_rate"),
            F.round(z, 4).alias("z"),
            F.coalesce(
                (F.abs(z) > 3.0)
                & (F.col("n_lines") * F.col("tot_r") >= 5 * F.col("tot_n")),
                F.lit(False),
            ).alias("out_of_control"),
        )
    )


ORACLE_PCHART = """
WITH per AS (
  SELECT l_suppkey,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_returns
  FROM lineitem GROUP BY 1
),
pooled AS (
  SELECT CAST(sum(n_lines) AS BIGINT) AS tot_n,
         CAST(sum(n_returns) AS BIGINT) AS tot_r
  FROM per
)
SELECT per.l_suppkey AS suppkey, s.s_name, per.n_lines, per.n_returns,
       round(per.n_returns / CAST(per.n_lines AS DOUBLE), 4) AS return_rate,
       round((per.n_returns - (tot_r / CAST(tot_n AS DOUBLE)) * per.n_lines)
             / nullif(sqrt((tot_r / CAST(tot_n AS DOUBLE))
                           * (1 - tot_r / CAST(tot_n AS DOUBLE))
                           * per.n_lines), 0.0), 4) AS z,
       coalesce(abs((per.n_returns
                     - (tot_r / CAST(tot_n AS DOUBLE)) * per.n_lines)
             / nullif(sqrt((tot_r / CAST(tot_n AS DOUBLE))
                           * (1 - tot_r / CAST(tot_n AS DOUBLE))
                           * per.n_lines), 0.0)) > 3.0
                AND per.n_lines * tot_r >= 5 * tot_n, false)
         AS out_of_control
FROM per CROSS JOIN pooled
JOIN supplier s ON s.s_suppkey = per.l_suppkey
"""


# --- dynamic partition pruning through a join (runtime prune) --------------

_DPP_QUARTER = "1995-Q2"


def dpp_layout_path(sf_dir: str) -> str:
    """Location of the month-partitioned orders table, one per version
    of the orders fixture."""
    return derived_path("dpp_orders", sf_dir, fixture_version(sf_dir, "orders"), "dpp1")


def _quarter_months(quarter: str) -> list[str]:
    year, q = quarter.split("-Q")
    start = (int(q) - 1) * 3 + 1
    return [f"{year}-{m:02d}" for m in range(start, start + 3)]


def q_orders_dpp_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic Partition Pruning — the RUNTIME twin of
    osm_cell_layout_scan's planning-time prune (reference capability:
    the date-clustered PG layout, schema.sql:264-266, read through a
    join): orders are written once ``partitionBy(o_month)``, and the
    query filters them through a JOIN against a calendar dim whose
    predicate (``quarter = '{_DPP_QUARTER}'``) is NOT expressible on the
    partition column statically. Catalyst plans a broadcast hash join
    and inserts a ``dynamicpruning#`` subquery into the scan's
    PartitionFilters (pinned in tests/test_layout.py), so only the dim's
    surviving months' directories are read — 3 of ~80 partitions at any
    SF.

    Scale: this is THE mechanism that makes dim-filtered fact scans
    cheap at 100 TB — the fact-side prune rides the dim filter's
    selectivity with zero reads outside the surviving partitions, and
    the broadcast is reused as the pruning subquery (no extra job)."""
    path = write_once(
        dpp_layout_path(sf_dir),
        lambda tmp: load_table(spark, sf_dir, "orders")
        .withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM"))
        .write.partitionBy("o_month")
        .parquet(tmp),
    )
    months = [
        (f"{y}-{m:02d}", f"{y}-Q{(m - 1) // 3 + 1}")
        for y in range(1992, 1999)
        for m in range(1, 13)
    ]
    cal = spark.createDataFrame(months, "o_month string, quarter string").filter(
        F.col("quarter") == _DPP_QUARTER
    )
    o = spark.read.parquet(path)
    return (
        o.join(F.broadcast(cal), "o_month")
        .groupBy("o_month")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_totalprice"),
        )
    )


q_orders_dpp_scan.__doc__ = q_orders_dpp_scan.__doc__.format(
    _DPP_QUARTER=_DPP_QUARTER
)

ORACLE_DPP_SCAN = f"""
SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS sum_totalprice
FROM orders
WHERE strftime(o_orderdate, '%Y-%m')
      IN ({", ".join(repr(m) for m in _quarter_months(_DPP_QUARTER))})
GROUP BY 1
"""


# --- Z-order (bit-interleaved) layout: 2-D box scan with partition prune ---

_Z_BITS = 3  # bits per dimension -> 64 z-cells


def zorder_layout_path(sf_dir: str) -> str:
    """Location of the Z-order-partitioned lineitem table, one per
    version of the lineitem fixture."""
    return derived_path("zorder_li", sf_dir, fixture_version(sf_dir, "lineitem"), _Z_BITS)


def _z_cell_expr(pc, sc):
    """Bit-interleave two _Z_BITS-wide cell coordinates into one
    Morton/Z value (part bits odd, supp bits even)."""
    z = F.lit(0)
    for b in range(_Z_BITS):
        z = (
            z
            + F.shiftleft(F.shiftrightunsigned(pc, b).bitwiseAND(F.lit(1)), 2 * b + 1)
            + F.shiftleft(F.shiftrightunsigned(sc, b).bitwiseAND(F.lit(1)), 2 * b)
        )
    return z


def q_lineitem_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER layout + 2-D box scan, planner-pruned — the generic
    lakehouse ``OPTIMIZE ZORDER BY (a, b)`` twin of the geo-specific
    osm_cell_layout_scan (which orders by a spatial grid): lineitem is
    written once partitioned by the Morton interleave of its
    (l_partkey, l_suppkey) cells — each key quantized to 3 bits from
    table-stats min/max, bits interleaved so the 64 z-cell directories
    are coherent in BOTH dimensions — and a (part × supp) box query
    reads it back with the box's covering z-cell IN-list (static
    PartitionFilters, pytest-pinned directory count) plus the exact
    key predicates as PushedFilters. Box bounds derive from the same
    min/max stats by pure integer arithmetic, so the DuckDB oracle
    recomputes bounds, cells, and rows independently and a
    boundary-row drop can never hide.

    Scale: one interleaved layout serves range predicates on EITHER
    or BOTH keys — the reason Delta/Iceberg Z-order beats
    single-column sort for multi-dim scans; cost rides box area, not
    table size. At 100 TB the 3-bit cells become ~10-bit (10⁶ files)
    and the cover computation stays a driver-side loop over the
    query box's cell rectangle."""
    li = load_table(spark, sf_dir, "lineitem")
    st = li.agg(
        F.min("l_partkey").alias("pmin"),
        F.max("l_partkey").alias("pmax"),
        F.min("l_suppkey").alias("smin"),
        F.max("l_suppkey").alias("smax"),
    ).collect()[0]
    n = 1 << _Z_BITS
    pspan, sspan = st.pmax - st.pmin + 1, st.smax - st.smin + 1
    # integer DIV, never float division: (v-lo)*8/span can land an
    # ulp under an exact integer and floor into the wrong cell
    pc = F.expr(f"(l_partkey - {st.pmin}L) * {n} DIV {pspan}L")
    sc = F.expr(f"(l_suppkey - {st.smin}L) * {n} DIV {sspan}L")
    path = write_once(
        zorder_layout_path(sf_dir),
        lambda tmp: li.withColumn("z_cell", _z_cell_expr(pc, sc))
        .write.partitionBy("z_cell")
        .parquet(tmp),
    )
    # box = [25%, 45%] of each key range, integer arithmetic (exact in
    # both engines); covering cells = the box's cell rectangle
    p_lo, p_hi = st.pmin + (st.pmax - st.pmin) // 4, st.pmin + 9 * (st.pmax - st.pmin) // 20
    s_lo, s_hi = st.smin + (st.smax - st.smin) // 4, st.smin + 9 * (st.smax - st.smin) // 20

    def cell(v, lo, span):
        return (v - lo) * n // span

    def interleave(pc, sc):
        return sum(
            (((pc >> b) & 1) << (2 * b + 1)) + (((sc >> b) & 1) << (2 * b))
            for b in range(_Z_BITS)
        )

    cover = [
        interleave(pc, sc)
        for pc in range(cell(p_lo, st.pmin, pspan), cell(p_hi, st.pmin, pspan) + 1)
        for sc in range(cell(s_lo, st.smin, sspan), cell(s_hi, st.smin, sspan) + 1)
    ]
    return (
        spark.read.parquet(path)
        .filter(
            F.col("z_cell").isin(cover)
            & F.col("l_partkey").between(p_lo, p_hi)
            & F.col("l_suppkey").between(s_lo, s_hi)
        )
        .select(
            "l_orderkey",
            F.col("l_linenumber").cast("long").alias("l_linenumber"),
            "l_partkey",
            "l_suppkey",
            F.col("z_cell").cast("long").alias("z_cell"),
        )
    )


ORACLE_ZORDER_SCAN = f"""
WITH s AS (
  SELECT CAST(min(l_partkey) AS BIGINT) AS pmin, CAST(max(l_partkey) AS BIGINT) AS pmax,
         CAST(min(l_suppkey) AS BIGINT) AS smin, CAST(max(l_suppkey) AS BIGINT) AS smax
  FROM lineitem
),
b AS (
  SELECT pmin, smin,
         pmax - pmin + 1 AS pspan, smax - smin + 1 AS sspan,
         pmin + (pmax - pmin) // 4 AS p_lo, pmin + 9 * (pmax - pmin) // 20 AS p_hi,
         smin + (smax - smin) // 4 AS s_lo, smin + 9 * (smax - smin) // 20 AS s_hi
  FROM s
),
cells AS (
  SELECT l.l_orderkey, CAST(l.l_linenumber AS BIGINT) AS l_linenumber,
         l.l_partkey, l.l_suppkey,
         (l.l_partkey - b.pmin) * 8 // b.pspan AS pc,
         (l.l_suppkey - b.smin) * 8 // b.sspan AS sc
  FROM lineitem l, b
  WHERE l.l_partkey BETWEEN b.p_lo AND b.p_hi
    AND l.l_suppkey BETWEEN b.s_lo AND b.s_hi
)
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       CAST(  ((pc >> 0) & 1) * 2 + ((sc >> 0) & 1)
            + (((pc >> 1) & 1) * 2 + ((sc >> 1) & 1)) * 4
            + (((pc >> 2) & 1) * 2 + ((sc >> 2) & 1)) * 16
           AS BIGINT) AS z_cell
FROM cells
"""


# --- TPC-H Q21 shape: sole-late-supplier blame (multi-EXISTS rewrite) -------


def q_late_sole_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21's correlated EXISTS / NOT-EXISTS shape (suppliers who
    were the SOLE late supplier on a multi-supplier finished order),
    adapted to the fixture schema (no l_receiptdate — "late" is
    l_shipdate > o_orderdate + 90 days). The textbook form is two
    correlated subqueries per lineitem row; the Spark-first rewrite is
    ONE hash aggregate per order computing (distinct suppliers,
    distinct late suppliers, the argmax late supplier), then a filter
    ``n_supp >= 2 AND n_late_supp = 1`` — the EXISTS pair collapses
    into grouped sufficient statistics, turning two shuffled semi/anti
    joins into a single exchange on l_orderkey. Top 20 by blame count,
    suppkey tie-break. The DuckDB oracle keeps the classic correlated
    EXISTS/NOT-EXISTS formulation, so two independent algorithms gate
    each other.

    Scale: one shuffle on orderkey (map-side partial agg), one hash
    agg on suppkey, broadcast supplier dim; no self-joins of lineitem."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    s = load_table(spark, sf_dir, "supplier")
    late = F.expr("l_shipdate > o_orderdate + INTERVAL 90 DAYS")
    per_order = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late_supp"),
            F.max(F.when(late, F.col("l_suppkey"))).alias("blamed_supp"),
        )
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    ranked = (
        per_order.groupBy("blamed_supp")
        .agg(F.count("*").cast("long").alias("numwait"))
        .join(F.broadcast(s), F.col("blamed_supp") == s.s_suppkey)
        .select(F.col("blamed_supp").alias("suppkey"), "s_name", "numwait")
    )
    # orderBy().limit(20) compiles to TakeOrderedAndProject — partial
    # per-partition top-k, no single-partition WindowExec sort of the
    # |suppliers|-row frame (r14, guide §2.5; same rewrite as
    # emb_zscore_ood). The row_number window then ranks only the 20
    # survivors — identical rows and rk under the same total order.
    top = ranked.orderBy(F.desc("numwait"), F.asc("suppkey")).limit(20)
    w = Window.orderBy(F.desc("numwait"), F.asc("suppkey"))
    return top.withColumn("rk", F.row_number().over(w)).select(
        "suppkey", "s_name", "numwait", "rk"
    )


ORACLE_LATE_SOLE_SUPPLIER = """
WITH blamed AS (
  SELECT l1.l_suppkey, count(DISTINCT l1.l_orderkey) AS numwait
  FROM lineitem l1
  JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
  WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    AND EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
    )
    AND NOT EXISTS (
      SELECT 1 FROM lineitem l3
      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    )
  GROUP BY 1
)
SELECT l_suppkey AS suppkey, s_name, CAST(numwait AS BIGINT) AS numwait, rk
FROM (
  SELECT b.l_suppkey, s.s_name, b.numwait,
         row_number() OVER (ORDER BY b.numwait DESC, b.l_suppkey ASC) AS rk
  FROM blamed b JOIN supplier s ON s.s_suppkey = b.l_suppkey
)
WHERE rk <= 20
"""


_MAN_EPOCH = "1995-01-01"  # weekly shards anchored here
_MAN_LO = "1996-01-01 00:00:00"
_MAN_HI = "1996-04-01 00:00:00"  # exclusive


def q_lineitem_manifest_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-statistics pruning audit — the Iceberg/Delta manifest model
    as relational math: a time-clustered layout writes one "file" per
    week of l_shipdate; each file's manifest entry carries (min, max,
    rows); a date-range query prunes every file whose [min, max]
    interval misses the predicate before reading a byte. This query
    computes the manifest, replays the pruning decision, and audits it:
    pruned files must contain zero matching rows (exact min/max bounds
    make skipping lossless) and the scan fraction is reported — the #1
    read-side lever at 100 TB, complementing the PLANNER-proven pruning
    twins (static cell IN-lists in osm_cell_layout_scan, runtime DPP in
    orders_dpp_scan, Morton boxes in lineitem_zorder_scan) with the
    manifest arithmetic itself, engine-replayable and hash-gated.

    Plan: one scan → per-shard aggregate (map-side partial: min, max,
    count, match-count) → one |shards|-row final aggregate. No joins,
    no window, data-linear; shard count grows with the DATE RANGE, not
    the volume."""
    li = load_table(spark, sf_dir, "lineitem")
    lo = F.lit(_MAN_LO).cast("timestamp")
    hi = F.lit(_MAN_HI).cast("timestamp")
    dd = F.datediff(F.to_date("l_shipdate"), F.to_date(F.lit(_MAN_EPOCH)))
    man = (
        li.withColumn("shard", F.floor(dd / F.lit(7)))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_shipdate").alias("mn"),
            F.max("l_shipdate").alias("mx"),
            F.sum(
                ((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)).cast(
                    "long"
                )
            ).alias("n_match"),
        )
    )
    pruned = (F.col("mx") < lo) | (F.col("mn") >= hi)
    scanned = F.sum(F.when(~pruned, F.col("n_rows")).otherwise(F.lit(0)))
    return man.agg(
        F.count("*").cast("long").alias("n_shards"),
        F.sum(pruned.cast("long")).alias("n_pruned"),
        F.sum("n_rows").alias("rows_total"),
        scanned.alias("rows_scanned"),
        F.sum("n_match").alias("rows_matched"),
        (
            F.sum(F.when(pruned, F.col("n_match")).otherwise(F.lit(0))) == 0
        ).alias("pruned_no_match"),
        F.round(F.try_divide(scanned, F.sum("n_rows")), 4).alias(
            "scan_fraction_r"
        ),
    )


ORACLE_MANIFEST_SKIPPING = f"""
WITH man AS (
  SELECT floor(date_diff('day', DATE '{_MAN_EPOCH}',
                         CAST(l_shipdate AS DATE)) / 7) AS shard,
         count(*) AS n_rows,
         min(l_shipdate) AS mn,
         max(l_shipdate) AS mx,
         sum(CASE WHEN l_shipdate >= TIMESTAMP '{_MAN_LO}'
                   AND l_shipdate < TIMESTAMP '{_MAN_HI}'
                  THEN 1 ELSE 0 END) AS n_match
  FROM lineitem GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_shards,
       CAST(sum(CASE WHEN mx < TIMESTAMP '{_MAN_LO}'
                       OR mn >= TIMESTAMP '{_MAN_HI}'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
       CAST(sum(n_rows) AS BIGINT) AS rows_total,
       CAST(sum(CASE WHEN mx < TIMESTAMP '{_MAN_LO}'
                       OR mn >= TIMESTAMP '{_MAN_HI}'
                     THEN 0 ELSE n_rows END) AS BIGINT) AS rows_scanned,
       CAST(sum(n_match) AS BIGINT) AS rows_matched,
       (sum(CASE WHEN mx < TIMESTAMP '{_MAN_LO}'
                   OR mn >= TIMESTAMP '{_MAN_HI}'
                 THEN n_match ELSE 0 END) = 0) AS pruned_no_match,
       round(CAST(sum(CASE WHEN mx < TIMESTAMP '{_MAN_LO}'
                             OR mn >= TIMESTAMP '{_MAN_HI}'
                           THEN 0 ELSE n_rows END) AS DOUBLE)
             / nullif(sum(n_rows), 0), 4) AS scan_fraction_r
FROM man
"""


QUERIES = {
    "lineitem_manifest_skipping": q_lineitem_manifest_skipping,
    "lineitem_discount_elasticity": q_lineitem_discount_elasticity,
    "part_promo_share": q_part_promo_share,
    "small_qty_revenue": q_small_qty_revenue,
    "large_volume_customers": q_large_volume_customers,
    "disjunctive_revenue": q_disjunctive_revenue,
    "idle_customer_balance": q_idle_customer_balance,
    "orders_backlog_aging": q_orders_backlog_aging,
    "pricing_summary": q_pricing_summary,
    "orders_mom_growth": q_orders_mom_growth,
    "basket_part_affinity": q_basket_part_affinity,
    "lineitem_unpivot": q_lineitem_unpivot,
    "nation_lateral_topk": q_nation_lateral_topk,
    "revenue_by_nation": q_revenue_by_nation,
    "nation_volume_shipping": q_nation_volume_shipping,
    "nation_market_share": q_nation_market_share,
    "returned_item_revenue": q_returned_item_revenue,
    "orders_scd2_intervals": q_orders_scd2_intervals,
    "orders_asof_snapshot": q_orders_asof_snapshot,
    "orders_bucketed_join": q_orders_bucketed_join,
    "orders_dpp_scan": q_orders_dpp_scan,
    "lineitem_zorder_scan": q_lineitem_zorder_scan,
    "late_sole_supplier_orders": q_late_sole_supplier_orders,
    "top_orders_per_customer": q_top_orders_per_customer,
    "customers_with_urgent_orders": q_customers_with_urgent_orders,
    "customers_without_orders": q_customers_without_orders,
    "customer_order_distribution": q_customer_order_distribution,
    "customer_referral_closure": q_customer_referral_closure,
    "customer_dag_min_paths": q_customer_dag_min_paths,
    "customer_referral_rollup": q_customer_referral_rollup,
    "orders_snapshot_diff": q_orders_snapshot_diff,
    "order_window_zoo": q_order_window_zoo,
    "nation_set_ops": q_nation_set_ops,
    "order_rollup": q_order_rollup,
    "orders_pk_audit": q_orders_pk_audit,
    "order_priority_cube": q_order_priority_cube,
    "shipping_priority": q_shipping_priority,
    "order_value_percentiles": q_order_value_percentiles,
    "brand_returnflag_pivot": q_brand_returnflag_pivot,
    "customer_value_ranks": q_customer_value_ranks,
    "order_grouping_sets": q_order_grouping_sets,
    "orders_above_customer_avg": q_orders_above_customer_avg,
    "top_suppliers_by_revenue": q_top_suppliers_by_revenue,
    "min_cost_supplier": q_min_cost_supplier,
    "product_type_profit": q_product_type_profit,
    "important_part_stock": q_important_part_stock,
    "shipping_lag_buckets": q_shipping_lag_buckets,
    "brand_supplier_counts": q_brand_supplier_counts,
    "excess_shipped_suppliers": q_excess_shipped_suppliers,
    "part_skyline": q_part_skyline,
    "basket_frequent_itemsets": q_basket_frequent_itemsets,
    "nation_revenue_trend": q_nation_revenue_trend,
    "nation_revenue_concentration": q_nation_revenue_concentration,
    "customer_repeat_ladder": q_customer_repeat_ladder,
    "customer_km_survival": q_customer_km_survival,
    "orders_dow_chisq": q_orders_dow_chisq,
    "orders_referential_integrity": q_orders_referential_integrity,
    "nation_forecast_backtest": q_nation_forecast_backtest,
    "brand_supply_concentration": q_brand_supply_concentration,
    "brand_weighted_median": q_brand_weighted_median,
    "supplier_return_pchart": q_supplier_return_pchart,
}

ORACLES = {
    "lineitem_manifest_skipping": ORACLE_MANIFEST_SKIPPING,
    "lineitem_discount_elasticity": ORACLE_ELASTICITY,
    "part_promo_share": ORACLE_PROMO_SHARE,
    "small_qty_revenue": ORACLE_SMALL_QTY,
    "large_volume_customers": ORACLE_LARGE_VOLUME,
    "disjunctive_revenue": ORACLE_DISJUNCTIVE,
    "idle_customer_balance": ORACLE_IDLE_BALANCE,
    "orders_backlog_aging": ORACLE_BACKLOG,
    "pricing_summary": ORACLE_PRICING,
    "orders_mom_growth": ORACLE_MOM,
    "basket_part_affinity": ORACLE_BASKET,
    "lineitem_unpivot": ORACLE_UNPIVOT,
    "nation_lateral_topk": ORACLE_LATERAL,
    "revenue_by_nation": ORACLE_REVENUE,
    "nation_volume_shipping": ORACLE_VOLUME_SHIPPING,
    "nation_market_share": ORACLE_MARKET_SHARE,
    "returned_item_revenue": ORACLE_RETURNED,
    "orders_scd2_intervals": ORACLE_SCD2,
    "orders_asof_snapshot": ORACLE_ASOF,
    "orders_bucketed_join": ORACLE_BUCKETED_JOIN,
    "orders_dpp_scan": ORACLE_DPP_SCAN,
    "lineitem_zorder_scan": ORACLE_ZORDER_SCAN,
    "late_sole_supplier_orders": ORACLE_LATE_SOLE_SUPPLIER,
    "top_orders_per_customer": ORACLE_TOP_ORDERS,
    "customers_with_urgent_orders": ORACLE_SEMI,
    "customers_without_orders": ORACLE_ANTI,
    "customer_order_distribution": ORACLE_CUSTDIST,
    "customer_referral_closure": ORACLE_REFERRAL_CLOSURE,
    "customer_dag_min_paths": ORACLE_DAG_MIN_PATHS,
    "customer_referral_rollup": ORACLE_REFERRAL_ROLLUP,
    "orders_snapshot_diff": ORACLE_SNAPSHOT_DIFF,
    "order_window_zoo": ORACLE_WINDOW_ZOO,
    "nation_set_ops": ORACLE_SET_OPS,
    "order_rollup": ORACLE_ROLLUP,
    "orders_pk_audit": ORACLE_PK_AUDIT,
    "order_priority_cube": ORACLE_CUBE,
    "shipping_priority": ORACLE_SHIPPING,
    "order_value_percentiles": ORACLE_PERCENTILES,
    "brand_returnflag_pivot": ORACLE_PIVOT,
    "customer_value_ranks": ORACLE_RANKS,
    "order_grouping_sets": ORACLE_GROUPING_SETS,
    "orders_above_customer_avg": ORACLE_CORRELATED,
    "top_suppliers_by_revenue": ORACLE_TOP_SUPPLIERS,
    "min_cost_supplier": ORACLE_MINCOST,
    "product_type_profit": ORACLE_PROFIT,
    "important_part_stock": ORACLE_STOCK,
    "shipping_lag_buckets": ORACLE_LAG_BUCKETS,
    "brand_supplier_counts": ORACLE_BRAND_SUPPLIERS,
    "excess_shipped_suppliers": ORACLE_EXCESS,
    "part_skyline": ORACLE_SKYLINE,
    "basket_frequent_itemsets": ORACLE_ITEMSETS,
    "nation_revenue_trend": ORACLE_REV_TREND,
    "nation_revenue_concentration": ORACLE_REV_CONC,
    "customer_repeat_ladder": ORACLE_REPEAT_LADDER,
    "customer_km_survival": ORACLE_KM_SURVIVAL,
    "orders_dow_chisq": ORACLE_DOW_CHISQ,
    "orders_referential_integrity": ORACLE_REF_INTEGRITY,
    "nation_forecast_backtest": ORACLE_FORECAST_BT,
    "brand_supply_concentration": ORACLE_SUPPLY_CONC,
    "brand_weighted_median": ORACLE_WEIGHTED_MEDIAN,
    "supplier_return_pchart": ORACLE_PCHART,
}
