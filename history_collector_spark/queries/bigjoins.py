"""Warehouse-scale join strategies: the two plans that decide whether a
100 TB fact-to-fact or fact-to-dims query is feasible at all.

- `star_schema_revenue` — a TPC-H Q5-shaped star query: the two fact
  tables (lineitem ⋈ orders) meet in ONE shuffled join on the order
  key, while the whole dimension chain (customer → nation → region)
  rides broadcast hash joins — Catalyst's size-based planning does
  this by itself given a declarative plan; the plan guard suite
  verifies no cartesian/single-partition shapes sneak in. At scale
  the fact-fact shuffle is the only network cost.

- `bucketed_join_roundtrip` — removes even that shuffle: both fact
  tables are landed BUCKETED by the join key (8 buckets,
  sorted-within-buckets), so the sort-merge join reads co-located
  buckets directly — zero Exchange in the join stage, verified by a
  plan-guard test (`test_bucketed_join_has_no_exchange`). This is the
  layout a nightly 100 TB fact-fact reconciliation pre-pays once at
  write time and amortizes over every downstream join.

Reference parity note: the reference has no multi-way joins at all
(its joins are the J1/J2 hash-map probes, python/main.py:108-138);
this family is the engine-native surface a warehouse user needs.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from history_collector_spark.catalog import table
from history_collector_spark.registry import register
from history_collector_spark.pinning import pin_local
from history_collector_spark.scratch import scratch_dir


@register(
    "star_schema_revenue",
    oracle="""
    SELECT n.n_name AS nation, r.r_name AS region,
           CAST(count(*) AS BIGINT) AS n_items,
           sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY n.n_name, r.r_name
    """,
)
def star_schema_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact shuffle once, dims broadcast: lineitem joins orders on
    the order key (the one big exchange), then the customer/nation/
    region chain attaches via broadcast — the status filter is pushed
    into the orders scan before the join."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_custkey")
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = table(spark, sf_dir, "region").select("r_regionkey", "r_name")

    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy(
        F.col("n_name").alias("nation"), F.col("r_name").alias("region")
    ).agg(
        F.count("*").alias("n_items"),
        F.sum(
            F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
        ).alias("revenue"),
    )


N_BUCKETS = 8

_BUCKET_FIXTURES: dict[str, tuple[str, str]] = {}


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Land orders and lineitem as external BUCKETED tables (once per
    sf_dir per session): bucketBy(join key) + sortBy pre-pays the
    shuffle+sort at write time. Table metadata lives in the session
    catalog; data files land in a ``scratch_dir``."""
    key = f"{id(spark)}:{sf_dir}"
    if key in _BUCKET_FIXTURES:
        o_tab, l_tab = _BUCKET_FIXTURES[key]
        if spark.catalog.tableExists(o_tab) and spark.catalog.tableExists(l_tab):
            return o_tab, l_tab
    base = scratch_dir("hc_buckets_")
    tag = uuid.uuid4().hex[:8]
    o_tab, l_tab = f"orders_b_{tag}", f"lineitem_b_{tag}"
    (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .repartition(N_BUCKETS, "o_orderkey")
        .write.bucketBy(N_BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", os.path.join(base, "orders"))
        .saveAsTable(o_tab)
    )
    (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .repartition(N_BUCKETS, "l_orderkey")
        .write.bucketBy(N_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", os.path.join(base, "lineitem"))
        .saveAsTable(l_tab)
    )
    _BUCKET_FIXTURES[key] = (o_tab, l_tab)
    return o_tab, l_tab


@register(
    "bucketed_join_roundtrip",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice,
           CAST(count(*) AS BIGINT) AS n_items,
           sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus = 'O'
    GROUP BY o.o_orderkey, o.o_totalprice
    """,
)
def bucketed_join_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join over co-bucketed tables: both sides land bucketed
    by the join key, so the sort-merge join runs bucket-to-bucket with
    NO Exchange — and the groupBy on the same key reuses the bucket
    partitioning too. The filter still pushes into the orders scan."""
    o_tab, l_tab = _bucketed_tables(spark, sf_dir)
    o = spark.table(o_tab).filter(F.col("o_orderstatus") == "O")
    l = spark.table(l_tab)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
            ).alias("revenue"),
        )
    )


@register(
    "min_cost_supplier",
    oracle="""
    WITH unit AS (
      SELECT l_partkey, l_suppkey,
             sum(l_extendedprice * (1 - l_discount)) / sum(l_quantity)
               AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    ranked AS (
      SELECT l_partkey, l_suppkey, unit_cost,
             row_number() OVER (
               PARTITION BY l_partkey
               ORDER BY unit_cost, l_suppkey) AS rn
      FROM unit
    )
    SELECT p.p_partkey, p.p_name, r.l_suppkey AS suppkey,
           s.s_name, n.n_name AS nation, r.unit_cost
    FROM ranked r
    JOIN part p ON r.l_partkey = p.p_partkey
    JOIN supplier s ON r.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE r.rn = 1 AND p.p_partkey < 200
    """,
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest supplier per part with the dimension
    chain attached. Unit costs are one (part, supp) keyed aggregation
    (map-side combined, high-cardinality key); the per-part argmin is a
    window over that AGGREGATE (bounded: suppliers-per-part rows, never
    raw lineitems); part/supplier/nation attach via broadcast. The
    part filter is applied on the part side and prunes through the
    join."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount",
        "l_quantity",
    )
    unit = li.groupBy("l_partkey", "l_suppkey").agg(
        (
            F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
            / F.sum("l_quantity")
        ).alias("unit_cost")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("l_partkey").orderBy("unit_cost", "l_suppkey")
    best = unit.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    part = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 200)
        .select("p_partkey", "p_name")
    )
    supp = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        best.join(F.broadcast(part), best.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), best.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            "p_partkey",
            "p_name",
            F.col("l_suppkey").alias("suppkey"),
            "s_name",
            F.col("n_name").alias("nation"),
            "unit_cost",
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q6 shape: the canonical predicate-pushdown aggregate — every
# filter must reach the parquet scan, and the agg is one partial row
# per partition.
# ---------------------------------------------------------------------------


@register(
    "forecast_revenue_change",
    oracle="""
    SELECT sum(l_extendedprice * l_discount) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1995-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
      AND l_discount BETWEEN 0.02 AND 0.09
      AND l_quantity < 25
    """,
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: scan-filter-aggregate with zero joins. All four predicates
    are scan-pushable (PushedFilters carries the date range, discount
    band, and quantity cap) and ReadSchema prunes to the four columns
    — at 100 TB this query IS its scan, which is the point: the plan
    audit checks the pushdown, not the (trivial) agg."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.to_date("l_shipdate") >= F.lit("1995-01-01"))
            & (F.to_date("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.09)
            & (F.col("l_quantity") < 25)
        )
        .agg(
            F.sum(F.col("l_extendedprice") * F.col("l_discount")).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q10 shape: revenue lost to returned items, by customer.
# ---------------------------------------------------------------------------


@register(
    "returned_item_report",
    oracle="""
    SELECT c.c_custkey, any_value(c.c_name) AS c_name,
           any_value(n.n_name) AS n_name,
           sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def returned_item_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10: top-20 customers by returned-item revenue. The returnflag
    filter reaches the lineitem scan; the fact-fact join keys on
    orderkey; customer and nation broadcast; the global top-20 is
    TakeOrderedAndProject — each partition keeps 20 candidates, the
    driver merges 20*partitions rows, never a global sort."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey")
        .agg(
            F.any_value("c_name").alias("c_name"),
            F.any_value("n_name").alias("n_name"),
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Cross-fact reconciliation: does each order's header total agree with
# the sum of its line items? The audit every warehouse runs after load.
# ---------------------------------------------------------------------------


@register(
    "order_total_reconciliation",
    oracle="""
    WITH li AS (
      SELECT l_orderkey,
             sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))
               AS line_total
      FROM lineitem GROUP BY 1
    ), j AS (
      SELECT o.o_orderkey, o.o_totalprice, li.line_total,
             abs(o.o_totalprice - coalesce(li.line_total, 0.0)) AS adiff
      FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN line_total IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_lineless,
           CAST(sum(CASE WHEN adiff > 0.01
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
           max(adiff) AS max_abs_diff
    FROM j
    """,
)
def order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail consistency: per-order line totals (map-side-
    combined on orderkey, the bucketing key) LEFT-joined to headers so
    orders with no lines are counted rather than dropped, reduced to a
    one-row scorecard. The mismatch threshold is a cent — whatever the
    data says, Spark and the oracle must say it identically."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    lt = li.groupBy("l_orderkey").agg(
        F.sum(
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax"))
        ).alias("line_total")
    )
    j = orders.join(
        lt, orders.o_orderkey == lt.l_orderkey, "left"
    ).select(
        "o_totalprice",
        "line_total",
        F.abs(
            F.col("o_totalprice") - F.coalesce("line_total", F.lit(0.0))
        ).alias("adiff"),
    )
    return j.agg(
        F.count("*").alias("n_orders"),
        F.sum(
            F.when(F.col("line_total").isNull(), 1).otherwise(0)
        ).alias("n_lineless"),
        F.sum(F.when(F.col("adiff") > 0.01, 1).otherwise(0)).alias(
            "n_mismatched"
        ),
        F.max("adiff").alias("max_abs_diff"),
    )


# ---------------------------------------------------------------------------
# Market-basket pair mining (one Apriori level): co-purchased part
# pairs with support and lift, frequent-item pruned BEFORE any pair is
# generated.
# ---------------------------------------------------------------------------

# Min item support is the MAX of an absolute floor and a corpus
# fraction (1 in 500 orders): fraction-based support is what keeps the
# frequent-item set — and with it the pair space — scale-stable as the
# corpus grows (an absolute threshold silently admits every item once
# supports inflate past it).
_MB_MIN_ITEM_SUPPORT = 30
_MB_ITEM_SUPPORT_DENOM = 500
_MB_MIN_PAIR_SUPPORT = 2


@register(
    "orders_market_basket",
    oracle=f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
    isup AS (
      SELECT l_partkey, count(*) AS s FROM li GROUP BY 1
    ), freq AS (
      SELECT l_partkey, s FROM isup
      WHERE s >= greatest({_MB_MIN_ITEM_SUPPORT},
                          (SELECT n_orders FROM n)
                            // {_MB_ITEM_SUPPORT_DENOM})
    ), fb AS (
      SELECT li.l_orderkey, li.l_partkey FROM li
      JOIN freq ON li.l_partkey = freq.l_partkey
    ), pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
      FROM fb a JOIN fb b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT p.p1, p.p2, CAST(p.support AS BIGINT) AS support,
           ((1.0 * p.support) * n.n_orders) / ((1.0 * fa.s) * fb2.s)
             AS lift
    FROM pairs p
    JOIN freq fa ON p.p1 = fa.l_partkey
    JOIN freq fb2 ON p.p2 = fb2.l_partkey
    CROSS JOIN n
    WHERE p.support >= {_MB_MIN_PAIR_SUPPORT}
    """,
)
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori level-2: pairs are generated ONLY from frequent items
    (the anti-monotonicity prune — an infrequent item can't be in a
    frequent pair), and generated ROW-LOCALLY from each order's
    bounded basket (collect_set + index-pair transform, the
    item_cooccurrence shape) rather than a basket self-join. The
    frequent-item table is part-bounded and broadcasts; pair counts
    are frequent-vocab²-bounded with map-side combine; lift's
    n_orders is a 1-row broadcast normalizer."""
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = li.select("l_orderkey").distinct().count()  # 1-row scalar
    isup = li.groupBy("l_partkey").agg(F.count("*").alias("s"))
    min_support = max(
        _MB_MIN_ITEM_SUPPORT, n_orders // _MB_ITEM_SUPPORT_DENOM
    )
    freq = isup.filter(F.col("s") >= min_support)
    fb = li.join(F.broadcast(freq.select("l_partkey")), "l_partkey")
    baskets = fb.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("items")
    )
    idx = F.sequence(F.lit(1), F.size("items"))
    pair_structs = F.flatten(
        F.transform(
            idx,
            lambda i: F.transform(
                F.slice(F.col("items"), i + 1, F.size("items")),
                lambda y: F.struct(
                    F.element_at("items", i).alias("p1"), y.alias("p2")
                ),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.p1").alias("p1"), F.col("p.p2").alias("p2"))
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= _MB_MIN_PAIR_SUPPORT)
    )
    fa = freq.select(F.col("l_partkey").alias("p1"), F.col("s").alias("sa"))
    fb2 = freq.select(F.col("l_partkey").alias("p2"), F.col("s").alias("sb"))
    lift = ((F.lit(1.0) * F.col("support")) * F.lit(n_orders)) / (
        (F.lit(1.0) * F.col("sa")) * F.col("sb")
    )
    return (
        pairs.join(F.broadcast(fa), "p1")
        .join(F.broadcast(fb2), "p2")
        .select("p1", "p2", "support", lift.alias("lift"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q3: shipping-priority — date-bracketed 3-way join, top-k revenue.
# ---------------------------------------------------------------------------


@register(
    "shipping_priority_q3",
    oracle="""
    SELECT l.l_orderkey,
           sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
    LIMIT 10
    """,
)
def shipping_priority_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: revenue of not-yet-shipped lines for BUILDING-segment
    orders placed before the cutoff.

    Both date predicates and the segment filter are scan-side
    (PushedFilters) — each table shrinks BEFORE its join. The segment
    filter reduces customer to ~1/5, broadcast onto orders; the single
    big exchange is lineitem x surviving orders on the order key, which
    the grouping then reuses (same key). Top-10 is
    TakeOrderedAndProject with a full deterministic tie-break.
    """
    cutoff = "1998-03-15"
    cust = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit(cutoff).cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        li.join(
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey),
            li.l_orderkey == orders.o_orderkey,
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H Q5: local-supplier volume — revenue only where the customer and
# the supplier sit in the SAME nation.
# ---------------------------------------------------------------------------


@register(
    "local_supplier_revenue",
    oracle="""
    SELECT n.n_name AS nation,
           sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5's distinguishing constraint: the supplier join carries
    an EXTRA equality (s_nationkey = c_nationkey), so revenue counts
    only domestically-supplied lines.

    Join order matters: lineitem->orders is the one fact-fact exchange;
    customer attaches its nationkey by broadcast; the supplier
    broadcast join then applies BOTH equalities at once (suppkey +
    nation match) — never a join-then-filter that would materialize
    the cross-nation pairs first. Nation is a 25-row broadcast.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (supp.s_nationkey == cust.c_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Return-rate by brand: dim-bucketed defect attribution.
# ---------------------------------------------------------------------------


@register(
    "brand_return_rates",
    oracle="""
    SELECT p.p_brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_returned,
           sum(CASE WHEN l.l_returnflag = 'R' THEN 1.0 ELSE 0.0 END)
             / count(*) AS return_rate,
           sum(CASE WHEN l.l_returnflag = 'R'
                    THEN l.l_extendedprice * (1 - l.l_discount)
                    ELSE 0 END) AS returned_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def brand_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return rate and revenue lost to returns per part brand — the
    defect-attribution report (returned_item_report localizes bad
    customers; this localizes bad product lines).

    The part dim carries only (partkey, brand) into a broadcast join —
    at 100 TB part is broadcastable after column pruning or becomes
    the build side of a shuffled join on the SAME l_partkey key other
    part-joins already use. The aggregate collapses to brand
    cardinality (~25 keys) with map-side partials.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ret = F.col("l_returnflag") == "R"
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(ret.cast("int")).alias("n_returned"),
            F.avg(ret.cast("double")).alias("return_rate"),
            F.sum(
                F.when(
                    ret, F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
                ).otherwise(0.0)
            ).alias("returned_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Exchange reuse: one aggregate consumed twice (absolute revenue AND
# share-of-total) must plan ONE shuffle with a ReusedExchange on the
# second consumer — Catalyst's common-subplan dedup, the difference
# between N scans and one at 100 TB when a metric joins its own total.
# ---------------------------------------------------------------------------


@register(
    "exchange_reuse_share",
    oracle="""
    WITH rev AS (
      SELECT n.n_name AS nation,
             sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      GROUP BY n.n_name
    )
    SELECT r.nation, r.revenue,
           r.revenue / t.total AS revenue_share
    FROM rev r, (SELECT sum(revenue) AS total FROM rev) t
    """,
)
def exchange_reuse_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue next to its share of the grand total, built so the
    nation aggregate is ONE dataframe consumed twice — Catalyst plans a
    single Exchange and a ReusedExchange for the total branch
    (plan-asserted in tests/test_round6.py), and the 1-row total rides
    a broadcast back. The naive form recomputes the whole fact-table
    aggregate per consumer; this form is how share-of-total metrics
    stay one-scan at 100 TB.
    """
    li = table(spark, sf_dir, "lineitem")
    su = table(spark, sf_dir, "supplier")
    na = table(spark, sf_dir, "nation")
    rev = (
        li.join(su, li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
            ).alias("revenue")
        )
    )
    total = rev.agg(F.sum("revenue").alias("total"))
    return rev.crossJoin(F.broadcast(total)).select(
        "nation",
        "revenue",
        (F.col("revenue") / F.col("total")).alias("revenue_share"),
    )


# ---------------------------------------------------------------------------
# Customer segment-migration matrix: spend tertile in the first half of
# the time range vs the second — the cohort-movement BI table behind
# "are our mid-tier customers upgrading or churning".
# ---------------------------------------------------------------------------


@register(
    "customer_migration_matrix",
    oracle="""
    WITH bounds AS (
      SELECT min(o_orderdate) AS mn,
             min(o_orderdate)
               + (max(o_orderdate) - min(o_orderdate)) / 2 AS mid
      FROM orders
    ), halves AS (
      SELECT o_custkey,
             CASE WHEN o_orderdate < b.mid THEN 1 ELSE 2 END AS half,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend_cents
      FROM orders, bounds b
      GROUP BY 1, 2
    ), ranked AS (
      SELECT o_custkey, half, spend_cents,
             row_number() OVER (PARTITION BY half
                                ORDER BY spend_cents) AS r,
             count(*) OVER (PARTITION BY half) AS n
      FROM halves
    ), cuts AS (
      -- nearest-rank (percentile_disc) tertile cutoffs per half;
      -- mirrors Spark percentile_disc's cume_dist >= q rule
      SELECT half,
             min(CASE WHEN CAST(r AS DOUBLE) / n >= 1.0/3
                      THEN spend_cents END) AS c1,
             min(CASE WHEN CAST(r AS DOUBLE) / n >= 2.0/3
                      THEN spend_cents END) AS c2
      FROM ranked GROUP BY half
    ), seg AS (
      -- tie policy: spend exactly at a cutoff goes to the LOWER tertile
      SELECT h.o_custkey, h.half,
             CASE WHEN h.spend_cents <= c.c1 THEN 1
                  WHEN h.spend_cents <= c.c2 THEN 2
                  ELSE 3 END AS tertile
      FROM halves h JOIN cuts c ON h.half = c.half
    )
    SELECT a.tertile AS from_tertile, b.tertile AS to_tertile,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM seg a JOIN seg b ON a.o_custkey = b.o_custkey
     AND a.half = 1 AND b.half = 2
    GROUP BY 1, 2
    """,
)
def customer_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3x3 migration matrix: each customer's spend tertile in the first
    half of the order-date range against their tertile in the second
    (customers active in only one half drop out of the matrix — they
    are the separate churn/new-logo rows a dashboard adds).

    Tertiles are VALUE-based (nearest-rank percentile cutoffs over
    exact integer cents), not row-count ntile buckets: the cutoffs
    c1 = percentile_disc(1/3), c2 = percentile_disc(2/3) are computed
    per half and every customer is assigned by range comparison, with
    spend exactly at a cutoff going to the LOWER tertile. Spend is
    summed in integer cents (round(price*100) before the sum), so the
    cutoff comparisons are bit-deterministic across engines.

    Scale shape: per-(customer, half) spend is one map-side-combined
    aggregate; the cutoffs are a 2-row aggregate (percentile_disc
    partials, no total-order window over the customer set) broadcast
    back for the range assignment; the self-join keys on customer and
    the final matrix is 9 cells. The date midpoint rides a 1-row
    broadcast. Replaces the round-6 ntile(3) OVER (PARTITION BY half)
    plan whose 2 partitions each forced a single-task sort of half the
    customer aggregate.
    """
    o = table(spark, sf_dir, "orders")
    # o_orderdate ships as TIMESTAMP_NTZ in this vintage; hop through
    # TIMESTAMP for the micros math, back to NTZ for the comparison
    b = o.agg(
        F.min("o_orderdate").cast("timestamp").alias("mn"),
        F.max("o_orderdate").cast("timestamp").alias("mx"),
    ).select(
        F.timestamp_micros(
            ((F.unix_micros("mn") + F.unix_micros("mx")) / 2).cast("long")
        )
        .cast("timestamp_ntz")
        .alias("mid")
    )
    halves = (
        o.crossJoin(F.broadcast(b))
        .select(
            "o_custkey",
            F.when(F.col("o_orderdate") < F.col("mid"), 1)
            .otherwise(2)
            .alias("half"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("o_custkey", "half")
        .agg(F.sum("cents").alias("spend_cents"))
        # r15 optimization (the multiply-consumed-frame persist
        # discipline, guide §3.6/§5): `halves` anchors THREE consumer
        # subtrees — the percentile cutoffs plus both sides of the
        # half-1/half-2 self-join — so the orders scan + (customer,
        # half) aggregate executed three times. Pinned, the consumers
        # read InMemoryTableScan; the frame is bounded (customers x 2
        # narrow rows — exactly what a production cohort job would
        # materialize).
        .transform(pin_local)
    )
    cuts = halves.groupBy("half").agg(
        F.expr(
            "percentile_disc(1.0/3) WITHIN GROUP (ORDER BY spend_cents)"
        ).alias("c1"),
        F.expr(
            "percentile_disc(2.0/3) WITHIN GROUP (ORDER BY spend_cents)"
        ).alias("c2"),
    )
    seg = halves.join(F.broadcast(cuts), "half").select(
        "o_custkey",
        "half",
        F.when(F.col("spend_cents") <= F.col("c1"), 1)
        .when(F.col("spend_cents") <= F.col("c2"), 2)
        .otherwise(3)
        .alias("tertile"),
    )
    a = seg.filter(F.col("half") == 1).select(
        "o_custkey", F.col("tertile").alias("from_tertile")
    )
    bb = seg.filter(F.col("half") == 2).select(
        "o_custkey", F.col("tertile").alias("to_tertile")
    )
    return (
        a.join(bb, "o_custkey")
        .groupBy("from_tertile", "to_tertile")
        .agg(F.count("*").alias("n_customers"))
    )
