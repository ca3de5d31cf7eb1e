"""Relational queries over the TPC-H-ish tables.

The reference performs no explicit relational joins (SURVEY.md §2.3) —
pandas dicts keyed by experiment are its equi-join. Spark supplies the
full join/agg/window/set-op algebra natively; this module exposes that
surface as driver-checkable queries, each written the way it should
execute at 100 TB: dimension joins broadcast, fact-fact joins shuffle
on their keys with AQE skew handling, aggregations pre-combine
map-side, top-k uses TakeOrderedAndProject instead of global sorts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce511_spark.memo import session_memo
from mapreduce511_spark.queries import norm0, register
from mapreduce511_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [load_table(spark, sf_dir, n) for n in names]


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                               AS sum_qty,
           round(sum(l_extendedprice), 2)                          AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)       AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
                                                                   AS sum_charge,
           round(avg(l_quantity), 2)                               AS avg_qty,
           round(avg(l_extendedprice), 2)                          AS avg_price,
           round(avg(l_discount), 4)                               AS avg_disc,
           count(*)                                                AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate; partial agg map-side
    makes the shuffle 6 rows regardless of input size."""
    (li,) = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey AS o_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension (customer segment) joined
    into facts. customer is broadcast (small side); orders⋈lineitem
    shuffles on orderkey. Top-10 via limit → TakeOrderedAndProject."""
    customer, orders, lineitem = _t(spark, sf_dir, "customer", "orders", "lineitem")
    cust = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    ords = orders.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    li = lineitem.filter(F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
    return (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .join(F.broadcast(cust), ords.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            "revenue",
            "o_orderdate",
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: snowflake join. region→nation→supplier are tiny
    and broadcast; the only real shuffle is lineitem⋈orders."""
    customer, orders, lineitem, supplier, nation, region = _t(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region"
    )
    ords = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    dims = (
        supplier.join(
            F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        lineitem.join(ords, lineitem.l_orderkey == ords.o_orderkey)
        .join(F.broadcast(customer), ords.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(dims),
            (lineitem.l_suppkey == dims.s_suppkey)
            & (customer.c_nationkey == dims.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "top_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           round(sum(o.o_totalprice), 2) AS total_spent,
           count(*)                      AS n_orders
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY total_spent DESC, c_custkey
    LIMIT 10
    """,
)
def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agg-then-broadcast-join: aggregate the fact table first (15000→
    1500 rows), then join customer names onto the small result —
    never the other way around at scale."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
        F.count("*").alias("n_orders"),
    )
    return (
        spend.join(F.broadcast(customer), spend.o_custkey == customer.c_custkey)
        .select("c_custkey", "c_name", "total_spent", "n_orders")
        .orderBy(F.desc("total_spent"), F.asc("c_custkey"))
        .limit(10)
    )


@register(
    "semi_join_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
)
def semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers with ≥1 finished order. Semi joins
    never duplicate the left side — no post-join distinct needed."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    finished = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return customer.join(
        finished, customer.c_custkey == finished.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "anti_join_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    """,
)
def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders since 2000 (lapsed
    accounts). The window keeps the result non-trivial on the
    testdata, where every customer has at least one lifetime order."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return customer.join(
        recent.select("o_custkey"),
        customer.c_custkey == F.col("o_custkey"),
        "left_anti",
    ).select("c_custkey", "c_name")


@register(
    "window_order_rank",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rk
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM orders
    )
    WHERE rk <= 3
    """,
)
def window_order_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer top-3 orders by price (ranking window). One shuffle
    on the partition key; deterministic tie-break on orderkey."""
    (orders,) = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


@register(
    "running_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    WHERE o_custkey < 100
    """,
)
def running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue per customer over time — the reference's W1
    'running count over ordered rows' pattern, relationally."""
    (orders,) = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        orders.filter(F.col("o_custkey") < 100)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
        )
    )


_STATUSES = ("F", "O", "P")


@register(
    "pivot_order_status",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
           count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
           count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide report) — the reference's result_*.csv shape
    (Dataset × slowstart grid, SURVEY.md §2.1 S7) on order data.
    Explicit value list so the plan is a single pass, no distinct."""
    (orders,) = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", list(_STATUSES))
        .count()
        .na.fill(0, list(_STATUSES))
    )


@register(
    "rollup_orders",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via rollup (priority → status → grand)."""
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "distinct_part_types",
    oracle="""
    SELECT p_brand,
           count(DISTINCT p_type) AS n_types,
           count(DISTINCT p_size) AS n_sizes,
           count(*)               AS n_parts
    FROM part
    GROUP BY p_brand
    """,
)
def distinct_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-distinct aggregation (expand-based plan in Spark)."""
    (part,) = _t(spark, sf_dir, "part")
    return part.groupBy("p_brand").agg(
        F.countDistinct("p_type").alias("n_types"),
        F.countDistinct("p_size").alias("n_sizes"),
        F.count("*").alias("n_parts"),
    )


@register(
    "set_ops_customers",
    oracle="""
    SELECT c_custkey FROM (
        SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    """,
)
def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra (INTERSECT / EXCEPT): customers with both finished
    and open orders but no urgent ones."""
    (orders,) = _t(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    o = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return f.intersect(o).exceptAll(urgent.distinct())


@register(
    "part_revenue_topk",
    oracle="""
    SELECT p.p_partkey, p.p_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(sum(l.l_quantity) AS BIGINT)                     AS total_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_partkey, p.p_name
    ORDER BY revenue DESC, p_partkey
    LIMIT 15
    """,
)
def part_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-dim join + top-k: aggregate lineitem on partkey first,
    then broadcast-join the part names onto the 2000-row result."""
    lineitem, part = _t(spark, sf_dir, "lineitem", "part")
    rev = lineitem.groupBy("l_partkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.sum("l_quantity").cast("long").alias("total_qty"),
    )
    return (
        rev.join(F.broadcast(part), rev.l_partkey == part.p_partkey)
        .select("p_partkey", "p_name", "revenue", "total_qty")
        .orderBy(F.desc("revenue"), F.asc("p_partkey"))
        .limit(15)
    )


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate — every predicate
    pushes to the parquet reader (PushedFilters on l_shipdate,
    l_discount, l_quantity), the aggregate is a single global row."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "cube_order_stats",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL')   AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*)                          AS n_orders,
           round(sum(o_totalprice), 2)       AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping sets in one pass —
    Spark expands grouping sets before the single shuffle (SURVEY §2.4
    notes cube/rollup absent in the reference; free in Spark)."""
    (orders,) = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


@register(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: 4-way join (fact-fact on orderkey, dims
    broadcast), filtered quarter + returned lines, revenue top-20.
    Date + returnflag predicates push to both fact scans; only the
    lineitem⋈orders join shuffles — customer/nation broadcast."""
    cust, orders, li, nation = _t(
        spark, sf_dir, "customer", "orders", "lineitem", "nation"
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(rev), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS correlated subquery as a left-semi join
    with a non-equi component (l_shipdate > o_orderdate rides the
    semi-join condition), then priority counts."""
    orders, li = _t(spark, sf_dir, "orders", "lineitem")
    quarter = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    late = li.select("l_orderkey", "l_shipdate")
    return (
        quarter.join(
            late,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "q12_shipmode_priority",
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_linestatus
    """,
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-fact join + conditional aggregation
    (pivot-style CASE counts computed in one pass)."""
    orders, li = _t(spark, sf_dir, "orders", "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


# The testdata carries no partsupp table; the part-supplier cost
# relation is derived from lineitem (min extendedprice per (part,
# supplier) — no float arithmetic, so cross-engine equality is exact).
_PS_SQL = """
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               MIN(l_extendedprice) AS ps_supplycost
        FROM lineitem GROUP BY 1, 2
"""


def _partsupp(li: DataFrame) -> DataFrame:
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(F.min("l_extendedprice").alias("ps_supplycost"))


@register(
    "q2_min_cost_supplier",
    oracle=f"""
    WITH ps AS ({_PS_SQL})
    SELECT p_partkey, p_name, s_name, n_name, ps_supplycost AS min_cost
    FROM part, ps, supplier, nation
    WHERE p_partkey = ps_partkey
      AND s_suppkey = ps_suppkey
      AND s_nationkey = n_nationkey
      AND p_size <= 15
      AND ps_supplycost = (SELECT MIN(ps2.ps_supplycost) FROM ps ps2
                           WHERE ps2.ps_partkey = p_partkey)
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: minimum-cost supplier per part via a correlated
    scalar subquery. Spark plans the correlation as a min-window over
    the part key — one shuffle of the derived partsupp relation, then
    a row-local filter; supplier/nation broadcast. Ties (several
    suppliers at the min cost) keep all rows, same as the subquery
    semantics."""
    part, supplier, nation, li = _t(
        spark, sf_dir, "part", "supplier", "nation", "lineitem"
    )
    ps = _partsupp(li)
    w = Window.partitionBy("ps_partkey")
    cheapest = (
        ps.withColumn("min_cost", F.min("ps_supplycost").over(w))
        .filter(F.col("ps_supplycost") == F.col("min_cost"))
        .drop("ps_supplycost")
    )
    return (
        cheapest.join(
            F.broadcast(part.filter(F.col("p_size") <= 15)),
            F.col("ps_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(supplier), F.col("ps_suppkey") == F.col("s_suppkey")
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("p_partkey", "p_name", "s_name", "n_name", "min_cost")
    )


@register(
    "q16_parts_supplier_counts",
    oracle=f"""
    WITH ps AS ({_PS_SQL})
    SELECT p_brand, p_type, p_size,
           count(DISTINCT ps_suppkey) AS supplier_cnt
    FROM ps JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#13'
      AND p_type NOT LIKE 'MEDIUM%'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
                             WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT-IN anti-join (suppliers in bad standing
    excluded — s_suppkey is non-null so left_anti is exactly NOT IN),
    multi-predicate dimension filter, COUNT(DISTINCT) per part
    attribute group. The distinct-aggregate expands to a two-stage
    plan (dedupe on the full key, then count) — both stages map-side
    partial."""
    part, supplier, li = _t(spark, sf_dir, "part", "supplier", "lineitem")
    ps = _partsupp(li).select("ps_partkey", "ps_suppkey")
    bad = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    keep_part = part.filter(
        (F.col("p_brand") != "Brand#13")
        & (~F.col("p_type").startswith("MEDIUM"))
        & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    )
    return (
        ps.join(F.broadcast(bad), F.col("ps_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(
            F.broadcast(keep_part), F.col("ps_partkey") == F.col("p_partkey")
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


@register(
    "q14_promo_revenue",
    oracle="""
    SELECT CAST(round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                       THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)
               AS promo_bp,
           count(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate <  TIMESTAMP '1997-10-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional revenue share. The promo share is
    emitted as integer basis points via round(x*10000) — both engines
    round the same double, sidestepping the decimal-vs-binary rounding
    divergence of round(x, n) on rationals. part is broadcast; the
    only shuffle is the single-row global aggregate."""
    li, part = _t(spark, sf_dir, "lineitem", "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    month = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    return (
        month.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev)
                * 10000
            )
            .cast("long")
            .alias("promo_bp"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "q18_large_orders",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           sum(l_quantity) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING sum(l_quantity) > 300
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered semi-join back into the fact
    table. The qualifying-orderkey set aggregates FIRST (tiny), rides
    a left-semi join, and only then do the wide joins run — the
    agg-before-join ordering that matters at scale. Quantities are
    small integers in doubles, so sums are exact in both engines."""
    customer, orders, li = _t(spark, sf_dir, "customer", "orders", "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 300)
        .select("l_orderkey")
    )
    return (
        li.join(big.withColumnRenamed("l_orderkey", "bk"),
                F.col("l_orderkey") == F.col("bk"), "left_semi")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("total_qty"))
    )


@register(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of multi-table conjunctions. The
    common p_partkey = l_partkey conjunct stays an equi-join key (the
    planner must not degrade to a nested loop over the OR); per-branch
    predicates evaluate post-join. Plan asserted cartesian-free like
    every query."""
    li, part = _t(spark, sf_dir, "lineitem", "part")
    joined = li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
    def branch(brand: str, size_hi: int, q_lo: int, q_hi: int):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, size_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )
    cond = branch("Brand#12", 15, 1, 11) | branch("Brand#23", 25, 10, 20) | branch(
        "Brand#34", 35, 20, 30
    )
    return joined.filter(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


@register(
    "merge_upsert_orders",
    oracle="""
    WITH updates AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice * 1.1 AS o_totalprice, o_orderdate,
               o_orderpriority
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_custkey, 'N',
               o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 97 = 0
    ), merged AS (
        SELECT * FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM updates u
                          WHERE u.o_orderkey = o.o_orderkey)
        UNION ALL
        SELECT * FROM updates
    )
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM merged
    GROUP BY o_orderstatus
    """,
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE shape: a deterministic change set (10% price bump for
    every 7th order; brand-new rows for every 97th) upserts into
    orders via operators.maintenance.merge_upsert (anti-join + union —
    the primitive a lakehouse MERGE compiles to), then a census per
    status. Prices reduce to integer cents before summing so the
    cross-engine comparison is exact."""
    from mapreduce511_spark.operators.maintenance import merge_upsert

    orders = load_table(spark, sf_dir, "orders")
    bumped = orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 1.1
    )
    fresh = orders.filter(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    updates = bumped.unionByName(fresh)
    merged = merge_upsert(orders, updates, "o_orderkey")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        merged.select("o_orderstatus", cents.alias("cents"))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
    )


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT OUTER JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: outer join that must PRESERVE customers with
    zero qualifying orders (count(o_orderkey) counts non-null only),
    then a second aggregation over the counts — the two-level
    histogram. The join predicate rides the outer join condition, not
    a post-filter (which would silently drop the zero bucket)."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    keep = orders.filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        customer.join(
            keep, customer.c_custkey == keep.o_custkey, "left_outer"
        )
        .groupBy(customer.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3'
      AND l.l_quantity < (
          SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = l.l_partkey
      )
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar AVG subquery — planned as a
    per-part average aggregated ONCE and joined back (never a
    re-aggregation per probe row). The brand filter prunes parts
    before the join; the per-part averages cover all parts (the
    correlation is on partkey alone, matching the subquery exactly)."""
    li, part = _t(spark, sf_dir, "lineitem", "part")
    avg_q = li.groupBy(F.col("l_partkey").alias("ap")).agg(
        (F.avg("l_quantity") * 0.2).alias("q_lim")
    )
    brand = part.filter(F.col("p_brand") == "Brand#3").select("p_partkey")
    return (
        li.join(F.broadcast(brand), F.col("l_partkey") == F.col("p_partkey"))
        .join(avg_q, F.col("l_partkey") == F.col("ap"))
        .filter(F.col("l_quantity") < F.col("q_lim"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "q21_waiting_supplier",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o    ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted to this schema: 'late' = shipped >60
    days after order date on a finished order): the only-late-supplier
    pattern — one EXISTS (other suppliers shared the order) and one
    NOT EXISTS (none of the others were late). Both compile to
    semi/anti joins on orderkey with the supplier-inequality and
    lateness predicates riding the join conditions."""
    supplier, li, orders = _t(spark, sf_dir, "supplier", "lineitem", "orders")
    late_cut = F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    l1 = (
        li.join(
            orders.filter(F.col("o_orderstatus") == "F"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .filter(F.col("l_shipdate") > late_cut)
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    others = li.select(
        F.col("l_orderkey").alias("x_orderkey"),
        F.col("l_suppkey").alias("x_suppkey"),
        F.col("l_shipdate").alias("x_shipdate"),
    )
    with_others = l1.join(
        others,
        (F.col("x_orderkey") == F.col("l_orderkey"))
        & (F.col("x_suppkey") != F.col("l_suppkey")),
        "left_semi",
    )
    none_late = with_others.join(
        others,
        (F.col("x_orderkey") == F.col("l_orderkey"))
        & (F.col("x_suppkey") != F.col("l_suppkey"))
        & (F.col("x_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
        "left_anti",
    )
    return (
        none_late.join(
            F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@register(
    "q22_lapsed_rich_customers",
    oracle="""
    WITH cutoff AS (
        SELECT avg(c_acctbal) AS lim FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey,
           count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer c, cutoff
    WHERE c.c_acctbal > cutoff.lim
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_nationkey
    """,
)
def q22_lapsed_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (country code → nationkey): global scalar AVG
    subquery (computed once, broadcast as a 1-row cross join) gates an
    anti-join against recent orders — above-average balances with no
    order since 2000, grouped per nation."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    cutoff = customer.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("lim")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        customer.join(F.broadcast(cutoff))
        .filter(F.col("c_acctbal") > F.col("lim"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@register(
    "q7_nation_volume",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 2) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               year(l.l_shipdate) AS l_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                               AND TIMESTAMP '1997-12-31'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume. nation joins twice
    under different roles (supplier's vs customer's nation) — both
    broadcast; the symmetric country-pair disjunction evaluates
    post-join on the tiny dimension columns."""
    supplier, li, orders, customer, nation = _t(
        spark, sf_dir, "supplier", "lineitem", "orders", "customer", "nation"
    )
    n1 = nation.select(
        F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.filter(
            F.col("l_shipdate").between("1996-01-01", "1997-12-31 00:00:00")
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "q8_market_share",
    oracle="""
    SELECT o_year,
           CAST(round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
                      / sum(volume) * 10000) AS BIGINT) AS share_bp
    FROM (
        SELECT year(o.o_orderdate) AS o_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume,
               n1.n_name AS nation
        FROM lineitem l
        JOIN part p     ON p.p_partkey = l.l_partkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
        JOIN region r   ON n2.n_regionkey = r.r_regionkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
        WHERE r.r_name = 'AMERICA'
          AND p.p_type = 'ECONOMY'
    )
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's yearly volume,
    emitted as integer basis points (round(x*10000) on the identical
    double) — conditional-sum ratio over a snowflake join with nation
    again in two roles."""
    li, part, orders, customer, nation, region, supplier = _t(
        spark, sf_dir,
        "lineitem", "part", "orders", "customer", "nation", "region", "supplier",
    )
    n1 = nation.select(
        F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("nk2"), F.col("n_regionkey").alias("rk2")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        li.join(
            F.broadcast(part.filter(F.col("p_type") == "ECONOMY")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(customer), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "AMERICA")),
            F.col("rk2") == F.col("r_regionkey"),
        )
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            volume.alias("volume"),
            "nation",
        )
    )
    return base.groupBy("o_year").agg(
        F.round(
            F.sum(F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(0.0))
            / F.sum("volume")
            * 10000
        )
        .cast("long")
        .alias("share_bp")
    )


@register(
    "q9_product_profit",
    oracle=f"""
    WITH ps AS ({_PS_SQL})
    SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
    FROM (
        SELECT n.n_name AS nation,
               year(o.o_orderdate) AS o_year,
               l.l_extendedprice * (1 - l.l_discount)
                   - ps.ps_supplycost * l.l_quantity * 0.0001 AS amount
        FROM lineitem l
        JOIN part p     ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN ps         ON ps.ps_partkey = l.l_partkey
                       AND ps.ps_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        WHERE p.p_name LIKE '%red%'
    )
    GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: per-nation yearly profit with the cost side
    coming from the derived partsupp relation (same lineitem-derived
    ps as Q2/Q16; the 0.0001 factor keeps cost subdominant like the
    original's supplycost scale). partsupp joins on the composite
    (partkey, suppkey) — a fact-fact shuffle join on a two-column
    key."""
    li, part, supplier, orders, nation = _t(
        spark, sf_dir, "lineitem", "part", "supplier", "orders", "nation"
    )
    ps = _partsupp(li)
    green = part.filter(F.col("p_name").contains("red")).select("p_partkey")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "ps_supplycost"
    ) * F.col("l_quantity") * 0.0001
    return (
        li.join(F.broadcast(green), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            ps,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(amount), 2).alias("sum_profit"))
    )


@register(
    "q11_value_concentration",
    oracle=f"""
    WITH ps AS ({_PS_SQL}),
    val AS (
        SELECT ps_partkey, sum(ps_supplycost) AS v FROM ps GROUP BY ps_partkey
    ), total AS (
        SELECT sum(v) AS tv FROM val
    )
    SELECT ps_partkey, round(v, 2) AS part_value
    FROM val, total
    WHERE v > tv * 0.0005
    """,
)
def q11_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose aggregate value exceeds a fraction
    of the GLOBAL total — the global scalar joins back as a 1-row
    broadcast; no second scan of the aggregate (Spark reuses the
    shuffle via the self-referencing subplan)."""
    li, = _t(spark, sf_dir, "lineitem")
    val = _partsupp(li).groupBy("ps_partkey").agg(
        F.sum("ps_supplycost").alias("v")
    )
    total = val.agg(F.sum("v").alias("tv"))
    return (
        val.join(F.broadcast(total))
        .filter(F.col("v") > F.col("tv") * 0.0005)
        .select("ps_partkey", F.round("v", 2).alias("part_value"))
    )


@register(
    "q15_top_supplier",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey AS supplier_no,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: quarterly revenue view, then equality with its
    own MAX — the classic re-used subplan (Spark computes rev once;
    the scalar max broadcasts back). Ties (several suppliers at the
    max) all surface, same as the subquery semantics."""
    li, supplier = _t(spark, sf_dir, "lineitem", "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(supplier), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q20_growing_suppliers",
    oracle="""
    WITH a AS (
        SELECT l_partkey AS pk, l_suppkey AS sk,
               CAST(sum(l_quantity) AS BIGINT) AS q96
        FROM lineitem
        WHERE l_shipdate >= DATE '1996-01-01'
          AND l_shipdate <  DATE '1997-01-01'
        GROUP BY 1, 2
    ), b AS (
        SELECT l_partkey AS pk, l_suppkey AS sk,
               CAST(sum(l_quantity) AS BIGINT) AS q95
        FROM lineitem
        WHERE l_shipdate >= DATE '1995-01-01'
          AND l_shipdate <  DATE '1996-01-01'
        GROUP BY 1, 2
    ), grown AS (
        SELECT a.pk, a.sk FROM a JOIN b USING (pk, sk)
        WHERE a.q96 * 2 > b.q95
    ), fparts AS (
        SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
    ), cand AS (
        SELECT DISTINCT g.sk FROM grown g
        JOIN fparts f ON g.pk = f.p_partkey
    )
    SELECT s_suppkey, s_name, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (SELECT sk FROM cand)
      AND n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
    """,
)
def q20_growing_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (nested semi-join chain), adapted to the
    partsupp-free schema like Q2/Q16: the availqty>half-of-shipped
    predicate becomes year-over-year growth (1996 shipped qty * 2 >
    1995 shipped qty) per (part, supplier) — same plan skeleton:
    two filtered partial aggregates over the fact table joined on the
    composite key, a part-name-prefix filter reducing the key set, a
    DISTINCT projection to supplier keys, then a semi-join into the
    supplier dimension with a nation filter. All of lineitem is
    touched twice but each scan is shipdate-pruned at the parquet
    reader; the comparison is integer math (qty sums are integral).

    Reference basis: extension tier — the reference has no relational
    engine; the shape exercises Spark's semi-join planning
    (LeftSemi + broadcast dims)."""
    part, supplier, nation, li = _t(
        spark, sf_dir, "part", "supplier", "nation", "lineitem"
    )

    def year_qty(y: int, alias: str) -> DataFrame:
        return (
            li.filter(
                (F.col("l_shipdate") >= f"{y}-01-01")
                & (F.col("l_shipdate") < f"{y + 1}-01-01")
            )
            .groupBy(
                F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
            )
            .agg(F.sum("l_quantity").cast("long").alias(alias))
        )

    grown = (
        year_qty(1996, "q96")
        .join(year_qty(1995, "q95"), ["pk", "sk"])
        .filter(F.col("q96") * 2 > F.col("q95"))
    )
    fparts = part.filter(F.col("p_name").like("small%")).select("p_partkey")
    cand = (
        grown.join(F.broadcast(fparts), grown["pk"] == fparts["p_partkey"])
        .select("sk")
        .distinct()
    )
    return (
        supplier.join(
            cand, supplier["s_suppkey"] == cand["sk"], "left_semi"
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_3", "NATION_7", "NATION_11"))
        .select("s_suppkey", "s_name", "n_name")
    )


@register(
    "median_price_by_flag",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
           round(quantile_cont(l_extendedprice, 0.50), 4) AS median_price,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS p75_price,
           round(quantile_cont(l_quantity, 0.50), 4)      AS median_qty,
           count(*)                                       AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def median_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT grouped percentiles (p25/median/p75) over lineitem.

    ``F.percentile`` is the exact linear-interpolation aggregate —
    the same definition as DuckDB's ``quantile_cont`` — so the oracle
    match is exact, unlike ``approx_percentile``. Exact percentiles
    shuffle every group's values to one reducer; that is the honest
    cost of the operator, and the group count here (3 return flags)
    bounds the reducers. At 100 TB with high-cardinality groups you'd
    reach for ``approx_percentile`` (t-digest, map-side combinable)
    and accept the error bound — both surfaces exist; this query
    pins the exact one to the oracle.

    Reference basis: extension tier (SURVEY.md §2.4) — the reference
    has mean aggregation only (analyze/report.py), no order
    statistics."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.25)), 4).alias("p25_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.50)), 4).alias("median_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.75)), 4).alias("p75_price"),
        F.round(F.percentile("l_quantity", F.lit(0.50)), 4).alias("median_qty"),
        F.count("*").alias("n"),
    )


@register(
    "order_percentile_bands",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist()    OVER w, 6) AS cd
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    QUALIFY cd >= 0.99
    """,
)
def order_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank/cume_dist window shapes: the top percentile band
    of orders by price within each priority class. The orderBy
    includes the key as a tiebreaker so both engines rank identical
    total orders deterministically; only the top 1% band is emitted
    (bounded output regardless of input size).

    Reference basis: extension tier — rank-within-group is absent
    from the reference's aggregation set (SURVEY.md §2.4)."""
    (orders,) = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select(
            "o_orderkey",
            "o_orderpriority",
            F.round(F.percent_rank().over(w), 6).alias("pr"),
            F.round(F.cume_dist().over(w), 6).alias("cd"),
        )
        .filter(F.col("cd") >= 0.99)
    )


@register(
    "copurchase_part_pairs",
    oracle="""
    WITH parts_per_order AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           count(*) AS n_orders
    FROM parts_per_order a
    JOIN parts_per_order b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING count(*) >= 2
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 20
    """,
)
def copurchase_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: part pairs co-occurring in >=2
    orders, top 20. The self-join is keyed on l_orderkey, so the pair
    blow-up is bounded by (parts per order choose 2) — TPC-H orders
    hold <=7 lines, so the join output is ~21x lineitem at worst,
    never quadratic in the corpus. At 100 TB the same plan holds
    because the per-key fan-out is a data invariant, not a scale
    accident; a pathological basket (one order with 1e5 parts) is the
    LSH-hot-bucket problem again and gets the same cap treatment.
    Top-20 is TakeOrderedAndProject — no global sort.

    Reference basis: extension tier — co-occurrence mining is a
    standard corpus/statistics workload the reference lacks."""
    (li,) = _t(spark, sf_dir, "lineitem")
    # both self-join sides read the distinct — checkpoint so the
    # lineitem scan + distinct shuffle executes once, not twice.
    ppo = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=True)
    )
    a = ppo.alias("a")
    b = ppo.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )


@register(
    "salted_join_revenue",
    oracle="""
    SELECT o.o_orderpriority,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join, proven equivalent to the plain join.

    The build side (orders) is exploded into SALT replicas with a salt
    column; the probe side (lineitem) tags each row with a random-free
    DETERMINISTIC salt (hash of line number mod SALT) — every probe
    row matches exactly one replica, so the join result is identical
    to the unsalted join (the oracle is the plain SQL join), while a
    hot orderkey's probe rows now spread over SALT reducers instead of
    one. This is the manual fallback when AQE skew-join can't kick in
    (e.g. a skewed key feeding a subsequent aggregation); with AQE on,
    prefer the plain join and let the runtime split oversized
    partitions — both are demonstrated in tests/test_plan_quality.py.

    Reference basis: the reference's defining bottleneck is one hot
    reducer (job_output.log:86); this is the general-purpose Spark
    answer for joins."""
    SALT = 8
    orders, li = _t(spark, sf_dir, "orders", "lineitem")
    salted_orders = orders.select(
        "o_orderkey", "o_orderpriority", F.explode(F.array(*[F.lit(i) for i in range(SALT)])).alias("salt")
    )
    salted_li = li.select(
        "l_orderkey",
        "l_extendedprice",
        "l_discount",
        F.pmod(F.xxhash64("l_linenumber", "l_partkey"), F.lit(SALT)).cast("int").alias("salt"),
    )
    return (
        salted_orders.join(
            salted_li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (salted_orders["salt"] == salted_li["salt"]),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "rollup_region_nation_sales",
    oracle="""
    SELECT coalesce(r.r_name, '(all)') AS region,
           coalesce(n.n_name, '(all)') AS nation,
           round(sum(o.o_totalprice), 2) AS sales,
           count(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def rollup_region_nation_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region -> nation -> grand total) in
    one pass — Spark expands the grouping sets inside a single
    aggregate, so the fact table is scanned once, not three times.
    Dimensions broadcast; NULL grouping placeholders are coalesced to
    '(all)' in both engines so the hash compare is label-stable.

    Reference basis: extension tier — complements cube_order_stats
    (§2.4 extension) with the ordered-hierarchy variant."""
    orders, customer, nation, region = _t(
        spark, sf_dir, "orders", "customer", "nation", "region"
    )
    joined = (
        # customer is a growing dimension (not broadcast-safe at 100 TB);
        # shuffle-join it on the key, then broadcast the fixed-size
        # nation/region dims
        orders.join(
            customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("sales"),
            F.count("*").alias("n_orders"),
        )
        .select(
            F.coalesce("r_name", F.lit("(all)")).alias("region"),
            F.coalesce("n_name", F.lit("(all)")).alias("nation"),
            "sales",
            "n_orders",
        )
    )


@register(
    "top_customers_concat_by_nation",
    oracle="""
    WITH spend AS (
        SELECT c.c_nationkey, c.c_name, sum(o.o_totalprice) AS total
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_nationkey, c.c_name
    ),
    ranked AS (
        SELECT c_nationkey, c_name, total,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY total DESC, c_name) AS rn
        FROM spend
    )
    SELECT n.n_name,
           string_agg(r.c_name, ',' ORDER BY r.rn) AS top3,
           CAST(round(sum(r.total), 0) AS BIGINT) AS top3_total
    FROM ranked r JOIN nation n ON r.c_nationkey = n.n_nationkey
    WHERE r.rn <= 3
    GROUP BY n.n_name
    """,
)
def top_customers_concat_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: each nation's top-3 customers by
    lifetime spend, concatenated rank-ordered — the listagg /
    string_agg surface. Spark has no ordered string_agg aggregate, so
    the deterministic route is sort_array over collected (rank, name)
    structs then array_join: the sort happens per group on <=3
    elements, not as a global ordering guarantee on collect_list
    (which Spark does not provide). Ranking is tie-broken on name so
    both engines pick identical top-3 sets.

    Reference basis: extension tier — the reference's comma-joined
    Best_SlowStart ties (analyze/report wide tables) are this same
    ordered-concat idea; here it's a first-class aggregate."""
    customer, orders, nation = _t(spark, sf_dir, "customer", "orders", "nation")
    spend = (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_nationkey", "c_name")
        .agg(F.sum("o_totalprice").alias("total"))
    )
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("total"), "c_name")
    ranked = spend.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
    return (
        ranked.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("rn", "c_name"))),
                    lambda s: s.c_name,
                ),
                ",",
            ).alias("top3"),
            F.round(F.sum("total"), 0).cast("long").alias("top3_total"),
        )
    )


@register(
    "data_quality_audit",
    oracle="""
    SELECT 'orders_orphan_custkey' AS check_name,
           count(*) AS n_violations
    FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'lineitem_orphan_orderkey',
           count(*)
    FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'lineitem_nonpositive_qty',
           count(*) FROM lineitem WHERE l_quantity <= 0
    UNION ALL
    SELECT 'lineitem_discount_range',
           count(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1
    UNION ALL
    SELECT 'orders_negative_total',
           count(*) FROM orders WHERE o_totalprice < 0
    UNION ALL
    SELECT 'documents_empty_text',
           count(*) FROM documents
    WHERE text IS NULL OR length(trim(text)) = 0
    UNION ALL
    SELECT 'events_null_user',
           count(*) FROM events WHERE user_id IS NULL
    """,
)
def data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint audit across the star schema: referential integrity
    (orphan foreign keys via anti-joins), range checks, and
    null/empty checks, one violation count per named rule. The two
    anti-joins are LeftAnti hash joins on the key (the dimension side
    builds); the scalar rules fold into per-table scans — Catalyst
    collapses same-table counts into shared scans where possible.
    This is the data-contract gate a pipeline runs on every ingest
    batch before publishing a snapshot; rules emitting >0 on trusted
    data mean upstream drift.

    Reference basis: extension tier — corpus lifecycle family
    (SURVEY.md §2 extensions); complements snapshot_diff_census."""
    orders, customer, li, ev = _t(
        spark, sf_dir, "orders", "customer", "lineitem", "events"
    )
    docs = load_table(spark, sf_dir, "documents")

    def rule(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"), F.count("*").alias("n_violations")
        )

    checks = [
        rule(
            "orders_orphan_custkey",
            orders.join(
                customer, F.col("o_custkey") == F.col("c_custkey"), "left_anti"
            ),
        ),
        rule(
            "lineitem_orphan_orderkey",
            li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"), "left_anti"),
        ),
        rule("lineitem_nonpositive_qty", li.filter(F.col("l_quantity") <= 0)),
        rule(
            "lineitem_discount_range",
            li.filter((F.col("l_discount") < 0) | (F.col("l_discount") > 1)),
        ),
        rule("orders_negative_total", orders.filter(F.col("o_totalprice") < 0)),
        rule(
            "documents_empty_text",
            docs.filter(
                F.col("text").isNull() | (F.length(F.trim("text")) == 0)
            ),
        ),
        rule("events_null_user", ev.filter(F.col("user_id").isNull())),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


# Ten graph queries read the same canonical co-purchase edge relation
# (a lineitem self-join over distinct (order, part), two checkpoints).
_EDGES_MEMO: dict = {}


def _copurchase_edges_ck(
    spark: SparkSession, sf_dir: str, li: DataFrame
) -> DataFrame:
    import os

    def build():
        # r13 (guide §2.2): the checkpointed edge list inherited the
        # AQE-coalesced distinct's ~10 partitions, capping every graph
        # consumer's map stage at 10 tasks; widen to the machine's
        # parallelism keyed on u before pinning it (placement only —
        # measured triangles 4.2 -> 3.5 s; no-op semantically).
        n = max(spark.sparkContext.defaultParallelism, 8)
        return (
            _copurchase_edges(li)
            .repartition(n, "u")
            .localCheckpoint(eager=True)
        )

    return session_memo(
        _EDGES_MEMO, spark, [os.path.join(sf_dir, "lineitem.parquet")], build
    )


def _copurchase_edges(li: DataFrame) -> DataFrame:
    """Canonical (u < v) distinct edge set of the part co-purchase
    graph, LAZY. Callers materialize it once with
    ``localCheckpoint(eager=True)`` before fanning out: the edge set
    feeds many consumers (degree count twice via du/dv broadcasts,
    both wedge sides, the closing semi-join, the n_edges agg), and
    inlining the subtree at every use site octuples the generated
    code — AQE exchange reuse de-duplicates the EXECUTION either way
    (measured: identical steady times), but whole-stage codegen still
    compiles every textual copy, which made first-run latency swing
    9-35 s with the JIT compile queue in 60-query sessions. The
    checkpoint collapses the plan to one leaf: single compile,
    deterministic ~6.5 s first-run, and the r03 eager-count
    double-compute stays gone. At 100 TB the materialized edge set is
    two longs per edge in MEMORY_AND_DISK — the standard move for a
    reused graph intermediate."""
    # both self-join sides read the distinct — checkpoint so the
    # lineitem scan + distinct shuffle executes once, not twice.
    ppo = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=True)
    )
    a = ppo.alias("a")
    b = ppo.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )


def _oriented_triangles(edges: DataFrame) -> DataFrame:
    """Degree-ordered triangle rows (Suri & Vassilvitskii, WWW'11)
    over a canonical (u < v) edge set: orient each edge toward the
    higher (degree, id) endpoint, generate wedges from each pivot's
    out-edges (volume Σ out-deg² = O(m^1.5) on any graph), and
    semi-join the closing undirected edge — one hash equi-join, no
    OR predicate. Each triangle appears exactly once."""
    deg = (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("d"))
    )
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    ranked = edges.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    directed = ranked.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    )
    e1 = directed.alias("e1")
    e2 = directed.alias("e2")
    # wedges: two out-edges of one pivot, deduped by t1 < t2 — so
    # (w1, w2) is already the canonical unordered pair
    wedges = e1.join(
        e2,
        (F.col("e1.s") == F.col("e2.s")) & (F.col("e1.t") < F.col("e2.t")),
    ).select(F.col("e1.t").alias("w1"), F.col("e2.t").alias("w2"))
    # closing edge: the UNDIRECTED edge set is already canonical
    # (u < v), so closure is one hash equi-join, no OR predicate
    return wedges.join(
        edges,
        (F.col("w1") == F.col("u")) & (F.col("w2") == F.col("v")),
        "left_semi",
    )


@register(
    "copurchase_triangles",
    oracle="""
    WITH ppo AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM ppo a JOIN ppo b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM edges e1
        JOIN edges e2 ON e1.v = e2.u
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT count(*) AS n_triangles,
           (SELECT count(*) FROM edges) AS n_edges
    FROM tri
    """,
)
def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the part co-purchase graph with
    DEGREE-ORDERED orientation (the MapReduce triangle-counting
    standard, Suri & Vassilvitskii, WWW'11): every undirected edge
    points from its lower-(degree, id) endpoint to the higher, so
    each triangle has exactly ONE vertex with two out-edges and
    wedge generation is Σ out-deg² — bounded by O(m^1.5) on any
    graph, instead of Σ deg² which a single celebrity vertex blows
    up quadratically. Wedges then semi-join the closing directed
    edge (same orientation rule makes the lookup deterministic).
    Each triangle counts exactly once by construction; the oracle
    states the orientation-free definition — the algorithm changes,
    the count must not. Measured at sf0.1 (~uniform-degree graph:
    20k parts, 1.2M edges, max degree 222 vs avg ~120) both
    orientations cost the same ~8 s — wedge volume Σ out-deg² is
    identical when degrees are uniform; the degree rule is the
    insurance that a celebrity vertex (the skewed case every real
    co-occurrence graph has) degrades to O(m^1.5) instead of O(m·d).

    Reference basis: extension tier — graph family beyond connected
    components (SURVEY.md §7 M7)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    edges = _copurchase_edges_ck(spark, sf_dir, li)
    tri = _oriented_triangles(edges)
    # n_edges folds into the returned plan as a 1x1 cross join of two
    # aggregates over the checkpointed edge set — no second pass over
    # lineitem (the r03 formulation's eager count ran the self-join
    # twice).
    n_edges = edges.agg(F.count("*").cast("long").alias("n_edges"))
    return tri.agg(F.count("*").alias("n_triangles")).crossJoin(
        F.broadcast(n_edges)
    )


@register(
    "copurchase_triangles_approx",
    oracle="""
    WITH ppo AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    all_edges AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM ppo a JOIN ppo b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS (
        -- DOULION sparsifier, p = 1/2: keep an edge iff the first
        -- hex digit of md5("u:v") is 0-7 (deterministic coin)
        SELECT u, v FROM all_edges
        WHERE substr(md5(u || ':' || v), 1, 1)
              IN ('0','1','2','3','4','5','6','7')
    ),
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM edges e1
        JOIN edges e2 ON e1.v = e2.u
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT CAST(count(*) * 8 AS BIGINT) AS n_triangles_est,
           (SELECT count(*) FROM edges) AS n_edges_sampled
    FROM tri
    """,
)
def copurchase_triangles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION approximate triangle count (Tsourakakis et al., KDD'09)
    — the documented escape hatch for graph-density blowups: sparsify
    the edge set with an independent coin of probability p = 1/2,
    count triangles on the sample with the same degree-ordered plan,
    and scale by 1/p³ = 8. Expected value equals the exact count;
    wedge volume shrinks by ~p² and the closing-join input by p, so
    when Σ out-deg² outgrows cluster memory, p becomes the knob that
    brings it back (p = 0.1 cuts wedge volume 100x at 1000x variance,
    still tight on billion-triangle graphs by Chebyshev).

    The coin is a deterministic content hash (first hex digit of
    md5("u:v") in 0..7), not rand(): the estimate is reproducible at
    any parallelism AND exactly restatable in SQL — so this
    approximate algorithm sits under the full DuckDB oracle gate,
    while tests/test_graph_scale.py bounds its error against the
    exact count. At a different p, use k hex digits for resolution
    1/16^k.

    Reference basis: extension tier — graph family escape hatch
    (companion to ``copurchase_triangles``)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    all_edges = _copurchase_edges_ck(spark, sf_dir, li)
    coin = F.substring(
        F.md5(F.concat_ws(":", F.col("u"), F.col("v"))), 1, 1
    )
    # filter BEFORE the checkpoint: only the surviving sample
    # materializes
    edges = all_edges.filter(coin.isin(*"01234567")).localCheckpoint(
        eager=True
    )
    tri = _oriented_triangles(edges)
    n_edges = edges.agg(
        F.count("*").cast("long").alias("n_edges_sampled")
    )
    return tri.agg(
        (F.count("*") * 8).cast("long").alias("n_triangles_est")
    ).crossJoin(F.broadcast(n_edges))


@register(
    "join_key_skew_census",
    oracle="""
    WITH counts AS (
        SELECT l_orderkey, count(*) AS c FROM lineitem GROUP BY l_orderkey
    ), hist AS (
        SELECT c, count(*) AS nk FROM counts GROUP BY c
    ), cum AS (
        SELECT c, nk,
               sum(nk)     OVER (ORDER BY c DESC) AS k_cum,
               sum(nk * c) OVER (ORDER BY c DESC) AS m_cum
        FROM hist
    ), tot AS (
        SELECT CAST(sum(c) AS BIGINT) AS total_rows,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(max(c) AS BIGINT) AS max_count
        FROM counts
    ), k01 AS (
        SELECT CAST(ceil(n_keys / 100.0) AS BIGINT) AS k FROM tot
    )
    SELECT tot.n_keys, tot.total_rows, tot.max_count,
           CAST(tot.max_count * 10000 // (tot.total_rows / tot.n_keys)
                AS BIGINT) AS max_over_avg_bp,
           CAST(sum(CASE WHEN k_cum <= k THEN nk * c
                         WHEN k_cum - nk < k THEN (k - (k_cum - nk)) * c
                         ELSE 0 END) * 10000 // tot.total_rows AS BIGINT)
               AS top1pct_share_bp
    FROM cum, tot, k01
    GROUP BY tot.n_keys, tot.total_rows, tot.max_count, k01.k
    """,
)
def join_key_skew_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic for the engine's hottest join key
    (l_orderkey): key cardinality, hottest-key count, hot/avg ratio,
    and the row share held by the top 1% of keys — the numbers that
    decide between a plain hash join, AQE skew splitting, and manual
    salting (``salted_join_revenue``) BEFORE a 100 TB join runs. Same
    count-of-counts histogram trick as ``vocab_coverage_curve``: the
    top-1% mass interpolates inside a count class, so nothing ever
    ranks the full key set — the corpus-sized work is one
    map-combinable count, the window runs over the tiny histogram.
    All-integer outputs (floor-div basis points) for exact oracle
    parity.

    Reference basis: extension tier — ops diagnostics next to the
    skew family (SURVEY.md §2 extensions; wordcount_skewed and the
    AQE skew-join tests demonstrate the mitigations this censuses
    for)."""
    from pyspark.sql.window import Window

    (li,) = _t(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_orderkey").agg(F.count("*").alias("c"))
    hist = counts.groupBy("c").agg(F.count("*").alias("nk"))
    win = Window.orderBy(F.desc("c"))
    cum = hist.select(
        "c",
        "nk",
        F.sum("nk").over(win).alias("k_cum"),
    )
    tot = counts.agg(
        F.sum("c").cast("long").alias("total_rows"),
        F.count("*").cast("long").alias("n_keys"),
        F.max("c").cast("long").alias("max_count"),
    ).withColumn("k", F.ceil(F.col("n_keys") / 100.0).cast("long"))
    part = F.when(
        F.col("k_cum") <= F.col("k"), F.col("nk") * F.col("c")
    ).when(
        F.col("k_cum") - F.col("nk") < F.col("k"),
        (F.col("k") - (F.col("k_cum") - F.col("nk"))) * F.col("c"),
    ).otherwise(F.lit(0))
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n_keys", "total_rows", "max_count", "k")
        .agg(F.sum(part).cast("long").alias("top_mass"))
        .select(
            "n_keys",
            "total_rows",
            "max_count",
            F.floor(
                F.col("max_count") * 10000
                / (F.col("total_rows") / F.col("n_keys"))
            )
            .cast("long")
            .alias("max_over_avg_bp"),
            F.floor(F.col("top_mass") * 10000 / F.col("total_rows"))
            .cast("long")
            .alias("top1pct_share_bp"),
        )
    )


@register(
    "copurchase_pagerank",
    oracle="""
    WITH ppo AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    ue AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM ppo a JOIN ppo b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS (
        SELECT u AS s, v AS t FROM ue
        UNION ALL
        SELECT v AS s, u AS t FROM ue
    ),
    deg AS (SELECT s, count(*) AS d FROM edges GROUP BY s),
    n AS (SELECT count(*) AS n FROM deg),
    r0 AS (SELECT deg.s AS x, 1.0 / n.n AS r FROM deg CROSS JOIN n),
    m1 AS (
        SELECT e.t AS x, sum(p.r / deg.d) AS m
        FROM edges e JOIN r0 p ON e.s = p.x JOIN deg ON deg.s = e.s
        GROUP BY e.t
    ),
    r1 AS (SELECT x, 0.15 / n.n + 0.85 * m AS r FROM m1 CROSS JOIN n),
    m2 AS (
        SELECT e.t AS x, sum(p.r / deg.d) AS m
        FROM edges e JOIN r1 p ON e.s = p.x JOIN deg ON deg.s = e.s
        GROUP BY e.t
    ),
    r2 AS (SELECT x, 0.15 / n.n + 0.85 * m AS r FROM m2 CROSS JOIN n),
    m3 AS (
        SELECT e.t AS x, sum(p.r / deg.d) AS m
        FROM edges e JOIN r2 p ON e.s = p.x JOIN deg ON deg.s = e.s
        GROUP BY e.t
    ),
    r3 AS (SELECT x, 0.15 / n.n + 0.85 * m AS r FROM m3 CROSS JOIN n)
    SELECT x AS part_id, round(r * n.n, 4) + 0.0 AS rank_ratio
    FROM r3 CROSS JOIN n
    ORDER BY rank_ratio DESC, part_id
    LIMIT 20
    """,
)
def copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the part co-purchase graph — THREE
    power iterations, damping 0.85, unrolled so the whole computation
    is one deterministic DataFrame plan under the exact DuckDB oracle
    (the oracle unrolls the same three iterations as chained CTEs).
    The undirected graph has no dangling vertices (every vertex comes
    off an edge), so the classic dangling-mass correction drops out
    and each iteration is exactly: join ranks to out-edges on the
    source key, shuffle-sum contributions on the target key, then the
    (1-d)/N teleport.

    Scale shape: the (edge, degree) relation materializes ONCE via
    localCheckpoint and every iteration reuses it — per-iteration
    cost is one hash join keyed on vertex id plus one partial-
    aggregated shuffle, the exact shape Pregel/GraphX lowers to.
    Rank vectors are two-column (vertex, double) frames, never
    collected; iteration count is a compile-time constant so lineage
    stays bounded without checkpointing inside the loop. Reported as
    rank * N (ratio to the uniform score, 1.0 = average centrality)
    rounded to 4 — resolution-independent of graph size.

    Reference basis: extension tier — graph family beyond connected
    components (companion to ``copurchase_triangles``); reference has
    no graph surface (`/root/reference/analyze`)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    ue = _copurchase_edges_ck(spark, sf_dir, li)
    bidir = ue.select(
        F.col("u").alias("s"), F.col("v").alias("t")
    ).unionAll(ue.select(F.col("v").alias("s"), F.col("u").alias("t")))
    deg = bidir.groupBy("s").agg(F.count("*").alias("d"))
    # one materialized pass: out-edges annotated with source degree,
    # reused by all three iterations. Everything downstream (vertex
    # set, N, the initial rank vector) derives from THIS checkpointed
    # relation — deriving any of them from `deg`/`bidir` directly
    # would re-execute the lineitem self-join per reference.
    out = bidir.join(deg, "s").localCheckpoint(eager=True)
    verts = out.select("s", "d").distinct()
    n = verts.agg(F.count("*").alias("n"))
    ranks = verts.crossJoin(F.broadcast(n)).select(
        F.col("s").alias("x"), (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(3):
        # The rank vector is |V| rows of (long, double) — the PART
        # dimension here, and in most product graphs, broadcastable;
        # broadcasting it turns each iteration into one map-side join
        # over the checkpointed edges plus one combinable sum (halves
        # measured iteration cost vs re-shuffling the edge relation).
        # When |V| outgrows the broadcast ceiling (~100M+ vertices),
        # drop F.broadcast and pre-repartition `out` by s once — the
        # standard co-partitioned Pregel shape.
        m = (
            out.join(F.broadcast(ranks), out["s"] == ranks["x"])
            .groupBy("t")
            .agg(F.sum(F.col("r") / F.col("d")).alias("m"))
        )
        ranks = m.crossJoin(F.broadcast(n)).select(
            F.col("t").alias("x"),
            (F.lit(0.15) / F.col("n") + 0.85 * F.col("m")).alias("r"),
        )
    scored = ranks.crossJoin(F.broadcast(n)).select(
        F.col("x").alias("part_id"),
        norm0(F.round(F.col("r") * F.col("n"), 4)).alias("rank_ratio"),
    )
    return scored.orderBy(F.desc("rank_ratio"), "part_id").limit(20)


@register(
    "customer_name_er",
    oracle="""
    WITH pairs AS (
        SELECT a.c_nationkey AS nationkey,
               levenshtein(a.c_name, b.c_name) AS dist
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_custkey < b.c_custkey
    )
    SELECT nationkey,
           count(*) AS n_candidates,
           CAST(sum(CASE WHEN dist <= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_matches,
           min(dist) AS min_dist,
           round(avg(dist), 4) AS mean_dist
    FROM pairs GROUP BY nationkey
    """,
)
def customer_name_er(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by BLOCKED fuzzy matching — the record-linkage
    shape: candidate pairs come only from an equi-join on a blocking
    key (nation), then the expensive pairwise scorer (Levenshtein edit
    distance, a JVM builtin — no Python in the loop) runs strictly
    in-block. Cost is sum of block sizes squared, never corpus², and
    the blocking join is an ordinary hash shuffle on the block key —
    the same candidate-generation discipline as the MinHash/LSH
    dedup family (`operators/dedup.py`), with an edit-distance
    verifier instead of Jaccard. A skewed block is handled the same
    way as any hot join key: AQE skew split, or salt the block key
    and re-merge the per-salt partials.

    Output is the per-block census (candidates, matches at dist<=2,
    distance moments) — the tuning artifact an ER pipeline actually
    iterates on when choosing blocking keys.

    Reference basis: extension tier — dedup/ER family (SURVEY.md §2
    extensions)."""
    cust = _t(spark, sf_dir, "customer")[0]
    a = cust.alias("a")
    b = cust.alias("b")
    pairs = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).select(
        F.col("a.c_nationkey").alias("nationkey"),
        F.levenshtein(F.col("a.c_name"), F.col("b.c_name")).alias("dist"),
    )
    return pairs.groupBy("nationkey").agg(
        F.count("*").alias("n_candidates"),
        F.sum(F.when(F.col("dist") <= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_matches"),
        F.min("dist").alias("min_dist"),
        F.round(F.avg("dist"), 4).alias("mean_dist"),
    )


@register(
    "zorder_cell_census",
    oracle="""
    WITH rng AS (
        SELECT min(o_custkey) AS klo, max(o_custkey) AS khi,
               min(o_totalprice) AS plo, max(o_totalprice) AS phi
        FROM orders
    ),
    cells AS (
        SELECT o_orderkey, o_custkey, o_totalprice,
               least(15, CAST(floor((o_custkey - klo) * 16.0
                                    / (khi - klo + 1)) AS BIGINT)) AS cx,
               least(15, CAST(floor((o_totalprice - plo) * 16.0
                                    / (phi - plo)) AS BIGINT)) AS cy
        FROM orders CROSS JOIN rng
    ),
    coded AS (
        SELECT *,
               (cx & 1) | ((cy & 1) << 1) | ((cx & 2) << 1)
               | ((cy & 2) << 2) | ((cx & 4) << 2) | ((cy & 4) << 3)
               | ((cx & 8) << 3) | ((cy & 8) << 4) AS zcell
        FROM cells
    )
    SELECT zcell,
           count(*) AS n_orders,
           count(DISTINCT o_custkey) AS n_custkeys,
           round(max(o_totalprice) - min(o_totalprice), 4) AS price_span
    FROM coded GROUP BY zcell
    """,
)
def zorder_cell_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) cell assignment over a 2-D key space
    (o_custkey x o_totalprice, 16x16 grid) — the space-filling-curve
    layout that makes MULTI-dimensional predicates skippable from
    per-file min/max stats: sorting by the interleaved code keeps
    both dimensions locally dense, so a `custkey BETWEEN .. AND
    totalprice BETWEEN ..` scan prunes files on either predicate
    (plain sort orders help only the leading column). Bit interleave
    is pure integer arithmetic (mask + shift, whole-stage codegen);
    quantization bounds come from a 1-row min/max broadcast. The
    census — occupancy, key cardinality, and value span per cell —
    is exactly the data-layout audit run before choosing OPTIMIZE
    ZORDER BY columns: uniform occupancy means the curve will
    balance output files.

    At 100 TB the follow-on write is
    `df.repartitionByRange(N, "zcell").sortWithinPartitions("zcell")`
    — range partitioning on the code gives both balanced files and
    tight per-file stat envelopes.

    Reference basis: extension tier — storage-layout family
    (SURVEY.md §2 extensions)."""
    orders = _t(spark, sf_dir, "orders")[0]
    rng = orders.agg(
        F.min("o_custkey").alias("klo"),
        F.max("o_custkey").alias("khi"),
        F.min("o_totalprice").alias("plo"),
        F.max("o_totalprice").alias("phi"),
    )
    cells = orders.crossJoin(F.broadcast(rng)).select(
        "o_custkey",
        "o_totalprice",
        F.least(
            F.lit(15),
            F.floor(
                (F.col("o_custkey") - F.col("klo"))
                * 16.0
                / (F.col("khi") - F.col("klo") + 1)
            ),
        ).alias("cx"),
        F.least(
            F.lit(15),
            F.floor(
                (F.col("o_totalprice") - F.col("plo"))
                * 16.0
                / (F.col("phi") - F.col("plo"))
            ),
        ).alias("cy"),
    )
    cx, cy = F.col("cx"), F.col("cy")
    zcell = (
        cx.bitwiseAND(1)
        .bitwiseOR(F.shiftleft(cy.bitwiseAND(1), 1))
        .bitwiseOR(F.shiftleft(cx.bitwiseAND(2), 1))
        .bitwiseOR(F.shiftleft(cy.bitwiseAND(2), 2))
        .bitwiseOR(F.shiftleft(cx.bitwiseAND(4), 2))
        .bitwiseOR(F.shiftleft(cy.bitwiseAND(4), 3))
        .bitwiseOR(F.shiftleft(cx.bitwiseAND(8), 3))
        .bitwiseOR(F.shiftleft(cy.bitwiseAND(8), 4))
    )
    return (
        cells.withColumn("zcell", zcell)
        .groupBy("zcell")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_custkeys"),
            F.round(
                F.max("o_totalprice") - F.min("o_totalprice"), 4
            ).alias("price_span"),
        )
    )


@register(
    "winsorized_price_stats",
    oracle="""
    WITH bounds AS (
        SELECT quantile_cont(o_totalprice, 0.01) AS p01,
               quantile_cont(o_totalprice, 0.99) AS p99
        FROM orders
    )
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CASE WHEN o_totalprice < p01
                           OR o_totalprice > p99 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped,
           round(avg(least(greatest(o_totalprice, p01), p99)), 4)
               AS winsorized_mean,
           round(avg(o_totalprice), 4) AS raw_mean
    FROM orders CROSS JOIN bounds
    GROUP BY o_orderpriority
    """,
)
def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (p01/p99-clipped) summary statistics — the standard
    outlier-robust mean for metrics feeding dashboards or reward
    models, where a single fat-finger order should not move the
    aggregate. Two passes: the EXACT percentile bounds reduce to one
    row (Spark's `percentile` aggregate — exact, matching the
    oracle's quantile_cont interpolation, not approx_percentile) and
    broadcast; the second pass clips and aggregates per priority
    class. At 100 TB the exact-percentile pass is the expensive half
    (it buffers per-group values); swap in approx_percentile(1e-4)
    and the structure is unchanged — documented trade, exact here to
    stay under the value-hash oracle.

    Reference basis: extension tier — robust-statistics family
    (SURVEY.md §2 extensions; the reference averages raw series,
    `analyze/analyze_cpu_mem.py`)."""
    orders = _t(spark, sf_dir, "orders")[0]
    bounds = orders.agg(
        F.expr("percentile(o_totalprice, 0.01)").alias("p01"),
        F.expr("percentile(o_totalprice, 0.99)").alias("p99"),
    )
    clipped = F.least(
        F.greatest(F.col("o_totalprice"), F.col("p01")), F.col("p99")
    )
    return (
        orders.crossJoin(F.broadcast(bounds))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                F.when(
                    (F.col("o_totalprice") < F.col("p01"))
                    | (F.col("o_totalprice") > F.col("p99")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_clipped"),
            F.round(F.avg(clipped), 4).alias("winsorized_mean"),
            F.round(F.avg("o_totalprice"), 4).alias("raw_mean"),
        )
    )


@register("copurchase_kcore_census")
def copurchase_kcore_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core census of the part co-purchase graph, k = ceil(average
    degree): the densest-region extraction every graph pipeline runs
    before community detection or embedding training (vertices
    outside the core are noise; the core is where structure lives).
    Iterative peeling via ``operators.graph.kcore`` — per round one
    degree aggregate + two vertex-keyed semi-joins with re-
    checkpointed edges, converging in peeling-depth rounds with a
    loud non-convergence guard.

    No SQL oracle: the fixpoint is not expressible in non-recursive
    SQL (and DuckDB's recursive CTEs exclude the per-round aggregate)
    — the driver records the rows-only check, and exact parity is
    asserted against a pure-Python peeling reference on the same
    edges in tests/test_graph_scale.py (the ``bpe_merge_rules``
    verification pattern).

    Reference basis: extension tier — graph family (companion to
    ``copurchase_triangles`` / ``copurchase_pagerank``)."""
    import math

    from mapreduce511_spark.operators.graph import kcore

    (li,) = _t(spark, sf_dir, "lineitem")
    edges = _copurchase_edges_ck(spark, sf_dir, li)
    stats = edges.agg(
        F.count("*").alias("m"),
        F.count_distinct(F.col("u")).alias("nu"),
    ).crossJoin(
        F.broadcast(
            edges.select(F.col("u").alias("x"))
            .unionAll(edges.select(F.col("v").alias("x")))
            .agg(F.count_distinct("x").alias("n"))
        )
    )
    row = stats.collect()[0]  # two scalars: edge count, vertex count
    k = max(2, math.ceil(2.0 * row.m / row.n))
    core, rounds = kcore(edges, k)
    in_core_u = edges.join(
        core.select(F.col("node").alias("u")), "u", "left_semi"
    )
    core_edges = in_core_u.join(
        core.select(F.col("node").alias("v")), "v", "left_semi"
    )
    return (
        core.agg(F.count("*").alias("n_core_vertices"))
        .crossJoin(
            F.broadcast(core_edges.agg(F.count("*").alias("n_core_edges")))
        )
        .select(
            F.lit(k).cast("long").alias("k"),
            "n_core_vertices",
            "n_core_edges",
            F.lit(rounds).cast("long").alias("rounds"),
        )
    )


@register(
    "price_quantity_regression",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           round(corr(l_extendedprice, l_quantity), 4) AS corr_pq,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4)
               AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 4) AS r2
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def price_quantity_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares diagnostics — slope/intercept/
    r-squared/correlation of price on quantity per return flag, the
    built-in regression aggregates (regr_*) every feature-drift or
    pricing-sanity job leans on before reaching for MLlib. All four
    statistics are single-pass COMBINABLE aggregates (sums of x, y,
    xy, x2, y2 merged map-side), so the whole query is one pruned
    scan + one 3-group shuffle — the cheapest possible shape, and
    exactly how a 100 TB drift monitor computes per-cohort fit
    deltas.

    Reference basis: extension tier — statistics family (the
    reference computes plain means, `analyze/analyze_csv.py`; these
    are their second-moment siblings)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 4).alias("corr_pq"),
        F.round(
            F.regr_slope("l_extendedprice", "l_quantity"), 4
        ).alias("slope"),
        F.round(
            F.regr_intercept("l_extendedprice", "l_quantity"), 4
        ).alias("intercept"),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 4).alias("r2"),
    )


@register(
    "pareto_frontier_parts",
    oracle="""
    SELECT p.p_partkey, round(p.p_retailprice, 2) AS retail_price, p.p_size
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE (q.p_retailprice < p.p_retailprice AND q.p_size >= p.p_size)
           OR (q.p_retailprice = p.p_retailprice AND q.p_size > p.p_size)
    )
    ORDER BY p.p_retailprice, p.p_partkey
    """,
)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Börzsönyi et al., ICDE 2001): parts not dominated
    on (cheaper price, bigger size) — a part is OUT iff some part is
    strictly cheaper with at least its size, or same-priced and
    strictly bigger.

    The oracle states the O(n²) NOT-EXISTS spec; the engine computes
    the same set in O(n log n) with the sorted prefix-max sweep a 2-D
    skyline admits: collapse to the price grid (groupBy price → max
    size), running max of size over strictly-cheaper grid rows, keep
    a part iff its size beats that prefix max AND equals its own
    price-group max. The only ordered pass runs on the DEDUPED price
    grid — bounded by the price domain, not row count, so the
    single-partition window is a few thousand grid rows even when
    part is billions (for a continuous/unbounded domain the same
    sweep runs per range-partition with a per-partition prefix-max
    merge, the standard distributed-skyline recipe).

    Reference basis: extension tier — multi-objective filtering
    (the reference's Best_SlowStart argmin A8 is the 1-D special
    case; SURVEY.md §2.4)."""
    (part,) = _t(spark, sf_dir, "part")
    grid = part.groupBy("p_retailprice").agg(F.max("p_size").alias("gmax"))
    w = Window.orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    grid = grid.withColumn("strictmax", F.max("gmax").over(w))
    return (
        part.select("p_partkey", "p_retailprice", "p_size")
        .join(F.broadcast(grid), "p_retailprice")
        .filter(
            (
                F.col("strictmax").isNull()
                | (F.col("p_size") > F.col("strictmax"))
            )
            & (F.col("p_size") == F.col("gmax"))
        )
        .select(
            "p_partkey",
            F.round("p_retailprice", 2).alias("retail_price"),
            "p_size",
        )
        .orderBy("retail_price", "p_partkey")
    )


@register(
    "copurchase_common_neighbors",
    oracle="""
    WITH ppo AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n
        FROM ppo a JOIN ppo b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY pa, pb
        HAVING count(*) >= 2
    ), sym AS (
        SELECT pa AS src, pb AS dst FROM e
        UNION ALL
        SELECT pb AS src, pa AS dst FROM e
    ), deg AS (
        SELECT src, count(*) AS d FROM sym GROUP BY src
    ), cand AS (
        SELECT x.src AS a, y.dst AS c, count(*) AS cn
        FROM sym x JOIN sym y ON x.dst = y.src AND x.src < y.dst
        GROUP BY a, c
    ), nonedge AS (
        SELECT cand.* FROM cand
        WHERE NOT EXISTS (
            SELECT 1 FROM e WHERE e.pa = cand.a AND e.pb = cand.c
        )
    )
    SELECT n.a AS part_a, n.c AS part_b, n.cn AS common_neighbors,
           round(n.cn / CAST(da.d + dc.d - n.cn AS DOUBLE), 4) AS jaccard
    FROM nonedge n
    JOIN deg da ON da.src = n.a
    JOIN deg dc ON dc.src = n.c
    ORDER BY common_neighbors DESC, part_a, part_b
    LIMIT 20
    """,
)
def copurchase_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-purchase graph: for part pairs NOT
    yet co-purchased (no support-2 edge), count shared neighbors and
    score neighborhood Jaccard — 'customers who bought these also
    bought...' candidates (Liben-Nowell & Kleinberg 2003).

    Plan shape: the wedge join (sym ⋈ sym on the middle vertex) is
    the same degree-bounded expansion as ``copurchase_triangles`` —
    volume Σ deg(v)², kept safe by the support-≥2 edge filter that
    prunes the long tail before any join; the existing-edge exclusion
    is a hash LEFT ANTI, and top-20 is TakeOrdered (no global sort).
    On a skewed graph the wedge stage gets the same degree-cap
    treatment the triangle counter documents.

    Reference basis: extension tier — graph family (companions:
    ``copurchase_triangles`` closure census, ``copurchase_pagerank``
    centrality; this one predicts the MISSING edges)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    ppo = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=True)  # one distinct for both sides
    )
    a, b = ppo.alias("a"), ppo.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select("pa", "pb")
    )
    edges = edges.localCheckpoint(eager=True)  # one self-join, not three
    sym = edges.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionAll(edges.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    deg = sym.groupBy("src").agg(F.count("*").alias("d"))
    x, y = sym.alias("x"), sym.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.dst") == F.col("y.src"))
            & (F.col("x.src") < F.col("y.dst")),
        )
        .groupBy(F.col("x.src").alias("a"), F.col("y.dst").alias("c"))
        .agg(F.count("*").alias("cn"))
    )
    nonedge = cand.join(
        edges,
        (cand["a"] == edges["pa"]) & (cand["c"] == edges["pb"]),
        "left_anti",
    )
    da = deg.select(F.col("src").alias("a"), F.col("d").alias("da"))
    dc = deg.select(F.col("src").alias("c"), F.col("d").alias("dc"))
    return (
        nonedge.join(F.broadcast(da), "a")
        .join(F.broadcast(dc), "c")
        .select(
            F.col("a").alias("part_a"),
            F.col("c").alias("part_b"),
            F.col("cn").alias("common_neighbors"),
            F.round(
                F.col("cn")
                / (F.col("da") + F.col("dc") - F.col("cn")).cast("double"),
                4,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("common_neighbors"), "part_a", "part_b")
        .limit(20)
    )


@register(
    "incremental_mv_refresh",
    oracle="""
    SELECT o_custkey,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY o_custkey
    """,
)
def incremental_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: per-customer order
    count/revenue kept as BASE aggregate + DELTA aggregate merged
    algebraically (full outer join, coalesced sums) — never
    recomputing the base. The oracle is the full recompute, so the
    driver checks the maintenance algebra is exact.

    The 90/10 base/delta split is a deterministic md5 bucket of the
    order key (stands in for 'yesterday's snapshot + today's
    ingest'). This is THE pattern for keeping corpus-level statistics
    (per-source doc counts, token totals, dedup-class sizes) current
    at 100 TB: count/sum/min/max are abelian-group aggregates, so a
    delta refresh costs O(delta) + a join on the GROUPED key space —
    not O(history). The merged result partitions by the same key as
    the base, so repeated refreshes reuse the layout.

    Reference basis: extension tier — table-maintenance family
    (companions: ``merge_upsert_orders`` row-level CDC; this is the
    aggregate-level analog)."""
    (orders,) = _t(spark, sf_dir, "orders")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        % 10
    )
    orders = orders.withColumn("is_base", bucket < 9)

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count("*").alias("n"), F.sum("o_totalprice").alias("s")
        )

    base = agg(orders.filter(F.col("is_base")))
    delta = agg(orders.filter(~F.col("is_base")))
    merged = base.alias("b").join(
        delta.alias("d"), "o_custkey", "full_outer"
    )
    zero = F.lit(0)
    return merged.select(
        "o_custkey",
        (
            F.coalesce(F.col("b.n"), zero) + F.coalesce(F.col("d.n"), zero)
        ).alias("n_orders"),
        F.round(
            F.coalesce(F.col("b.s"), F.lit(0.0))
            + F.coalesce(F.col("d.s"), F.lit(0.0)),
            2,
        ).alias("total_price"),
    )


@register(
    "benford_price_census",
    oracle="""
    WITH cents AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders
    ), digits AS (
        SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INTEGER) AS digit
        FROM cents
    ), tot AS (SELECT count(*) AS n FROM digits)
    SELECT d.digit,
           count(*) AS n_orders,
           round(100.0 * count(*) / max(tot.n), 3) AS pct,
           round(100.0 * log10(1.0 + 1.0 / d.digit), 3) AS benford_pct
    FROM digits d CROSS JOIN tot
    GROUP BY d.digit
    ORDER BY d.digit
    """,
)
def benford_price_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law census of order totals: observed leading-digit
    distribution vs log10(1+1/d) expectation — the standard
    anomaly/forgery screen for value columns (synthetic or truncated
    data shows up as a flat or spiked digit histogram).

    The leading digit comes from the INTEGER cents string (never from
    float formatting, which engines render differently, and never
    from floor(log10(x)), whose float boundary at exact powers of 10
    is engine-dependent). One narrow aggregate; the total joins back
    as a broadcast scalar. Scales as a single map-side-combined
    count.

    Reference basis: extension tier — data-quality family
    (companions: ``data_quality_audit`` nulls/ranges,
    ``mad_value_anomaly`` robust outliers; this one checks
    distribution SHAPE)."""
    (orders,) = _t(spark, sf_dir, "orders")
    digits = orders.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    tot = digits.agg(F.count("*").alias("n"))
    return (
        digits.crossJoin(F.broadcast(tot))
        .groupBy("digit")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.lit(100.0) * F.count("*") / F.max("n"), 3).alias("pct"),
            F.round(
                F.lit(100.0)
                * F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")),
                3,
            ).alias("benford_pct"),
        )
        .orderBy("digit")
    )


@register(
    "customer_rfm_segments",
    oracle="""
    WITH ref AS (
        SELECT CAST(max(o_orderdate) AS DATE) AS mx FROM orders
    ), cust AS (
        SELECT o_custkey,
               date_diff('day', CAST(max(o_orderdate) AS DATE),
                         max(ref.mx)) AS recency_days,
               count(*) AS frequency,
               sum(o_totalprice) AS monetary
        FROM orders CROSS JOIN ref
        GROUP BY o_custkey
    ), scored AS (
        SELECT o_custkey, monetary,
               ntile(5) OVER (ORDER BY recency_days ASC, o_custkey)
                   AS r_score,
               ntile(5) OVER (ORDER BY frequency DESC, o_custkey)
                   AS f_score,
               ntile(5) OVER (ORDER BY monetary DESC, o_custkey)
                   AS m_score
        FROM cust
    )
    SELECT r_score, f_score, m_score,
           count(*) AS n_customers,
           round(sum(monetary), 2) AS total_monetary
    FROM scored
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary
    quintiles, score 1 = best) — the classic warehouse cohort
    operator; segment census with customer counts and revenue mass
    per (R,F,M) cell.

    ntile() needs a TOTAL order to be deterministic, so every ranking
    breaks ties on the customer key — without that, equal-frequency
    customers straddling a bucket boundary would land differently per
    run/engine. r9 retrofit (r8 verdict item 3 adjunct): the three
    quintile scores run on ``operators/order.global_ntile`` — the
    two-pass range-partition numbering plus the closed-form ntile
    remainder rule — so even though the customer aggregate is three
    orders of magnitude under the fact table, no executor ever sorts
    it alone. Identical buckets, identical oracle.

    Reference basis: extension tier — relational/cohort family
    (companions: ``order_value_ntile``, ``cohort_hourly_retention``)."""
    from mapreduce511_spark.operators.order import global_ntile

    (orders,) = _t(spark, sf_dir, "orders")
    ref = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("mx"))
    cust = (
        orders.crossJoin(F.broadcast(ref))
        .groupBy("o_custkey")
        .agg(
            F.datediff(
                F.max("mx"), F.max(F.col("o_orderdate").cast("date"))
            ).alias("recency_days"),
            F.count("*").alias("frequency"),
            F.sum("o_totalprice").alias("monetary"),
        )
    )
    scored = cust
    for out, order in (
        ("r_score", [F.asc("recency_days"), F.asc("o_custkey")]),
        ("f_score", [F.desc("frequency"), F.asc("o_custkey")]),
        ("m_score", [F.desc("monetary"), F.asc("o_custkey")]),
    ):
        scored = global_ntile(scored, order, 5, out_col=out)
    scored = scored.select(
        "o_custkey", "monetary", "r_score", "f_score", "m_score"
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("monetary"), 2).alias("total_monetary"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


_ITEM_COS_ORACLE = """
    WITH pu AS (
        SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), deg AS (
        SELECT p, count(*) AS d FROM pu GROUP BY p
    ), co AS (
        SELECT a.p AS pa, b.p AS pb, count(*) AS c
        FROM pu a JOIN pu b ON a.u = b.u AND a.p < b.p
        GROUP BY pa, pb
        HAVING count(*) >= 2
    )
    SELECT co.pa AS part_a, co.pb AS part_b, co.c AS n_co_buyers,
           round(co.c / sqrt(CAST(da.d * db.d AS DOUBLE)), 4) AS cosine
    FROM co
    JOIN deg da ON da.p = co.pa
    JOIN deg db ON db.p = co.pb
    ORDER BY cosine DESC, part_a, part_b
    LIMIT 20
    """


@register("item_cosine_similarity", oracle=_ITEM_COS_ORACLE)
def item_cosine_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering similarity: cosine over the
    binary customer-part incidence matrix (co-buyers /
    sqrt(buyers_a * buyers_b)), top-20 pairs with >=2 shared buyers —
    the classic 'people who bought X also bought Y' primitive
    (Sarwar et al., WWW 2001), computed without ever materializing
    the incidence matrix: the co-occurrence join is an inverted index
    on the CUSTOMER key, so pair volume is bounded by per-customer
    basket size squared (a data invariant), and degrees ride
    broadcasts.

    At 100 TB the one knob is capping whale customers (a single
    customer with 1e5 items contributes 1e10 pairs) — the same
    max-bucket treatment every inverted-index candidate generator in
    this repo documents; the support-2 HAVING prunes the pair tail
    before ranking, and top-20 is TakeOrdered.

    Reference basis: extension tier — co-occurrence family
    (companions: ``copurchase_part_pairs`` raw support counts,
    ``copurchase_common_neighbors`` graph-topology variant; this one
    normalizes by popularity)."""
    return _item_cosine(spark, sf_dir, cap=None)


_ITEM_COS_CAP = 128  # whale cap: non-binding at test scales (max
# basket 105 at sf0.1), so the capped variant shares the exact oracle;
# the skewed-fixture test proves the bound where the cap DOES bind.


@register("item_cosine_similarity_capped", oracle=_ITEM_COS_ORACLE)
def item_cosine_similarity_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``item_cosine_similarity`` with the documented whale-customer
    cap MATERIALIZED (r4 VERDICT item 9): each customer's basket is
    deterministically truncated to the first {cap} parts (ranked by
    md5(u:p) then p — a reproducible sample, no rand()), bounding
    pair volume at cap^2 per customer no matter how pathological the
    whale. The cap (128) exceeds every basket in the testdata, so
    this query hash-matches the SAME oracle as the uncapped twin;
    tests/test_item_cosine_cap.py injects a 10k-item whale and proves
    the candidate bound actually binds there. At 100 TB you run THIS
    variant — the uncapped twin is the semantics reference."""
    return _item_cosine(spark, sf_dir, cap=_ITEM_COS_CAP)


def _item_cosine(
    spark: SparkSession, sf_dir: str, cap: int | None
) -> DataFrame:
    from pyspark.sql.window import Window

    orders, li = _t(spark, sf_dir, "orders", "lineitem")
    # pu fans out four ways (degree table + both pair-join sides, and
    # deg itself is read twice as margins) — checkpoint both so the
    # order-lineitem join + distinct executes once, not 4x.
    pu = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    if cap is not None:
        w = Window.partitionBy("u").orderBy(
            F.md5(F.concat_ws(":", F.col("u"), F.col("p"))), "p"
        )
        pu = (
            pu.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= cap)
            .drop("rn")
        )
    # r13 (guide §2.5, the tfidf-pair precedent): the checkpointed pu
    # inherits AQE's byte-coalesced partitioning, but the u-keyed pair
    # self-join below expands to Σ basket² rows — repartition by u to
    # a core-derived width before pinning it so the pair stage
    # parallelizes with the machine (placement only, exact counts).
    pu = pu.repartition(
        max(spark.sparkContext.defaultParallelism, 8), "u"
    ).localCheckpoint(eager=True)
    deg = (
        pu.groupBy("p").agg(F.count("*").alias("d")).localCheckpoint(eager=True)
    )
    a, b = pu.alias("a"), pu.alias("b")
    co = (
        a.join(b, (F.col("a.u") == F.col("b.u")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
    )
    da = deg.select(F.col("p").alias("pa"), F.col("d").alias("da"))
    db = deg.select(F.col("p").alias("pb"), F.col("d").alias("db"))
    return (
        co.join(F.broadcast(da), "pa")
        .join(F.broadcast(db), "pb")
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("c").alias("n_co_buyers"),
            F.round(
                F.col("c") / F.sqrt((F.col("da") * F.col("db")).cast("double")),
                4,
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "part_a", "part_b")
        .limit(20)
    )


@register(
    "theil_sen_price_slope",
    oracle="""
    WITH keyed AS (
        SELECT l_quantity AS q, l_extendedprice AS p,
               row_number() OVER (
                   ORDER BY md5(CAST(l_orderkey AS VARCHAR) || ':' ||
                               CAST(l_linenumber AS VARCHAR)),
                            l_orderkey, l_linenumber,
                            l_quantity, l_extendedprice) AS rn
        FROM lineitem
    ), pairs AS (
        SELECT a.q AS q1, a.p AS p1, b.q AS q2, b.p AS p2
        FROM keyed a JOIN keyed b ON b.rn = a.rn + 1
        WHERE a.rn % 2 = 1 AND b.q <> a.q
    ), slopes AS (
        SELECT (p2 - p1) / (q2 - q1) AS s FROM pairs
    ), ols AS (
        SELECT regr_slope(l_extendedprice, l_quantity) AS b1 FROM lineitem
    )
    SELECT count(*) AS n_pairs,
           round(quantile_cont(s, 0.5), 6) + 0.0 AS median_slope,
           round(quantile_cont(s, 0.25), 6) + 0.0 AS p25_slope,
           round(quantile_cont(s, 0.75), 6) + 0.0 AS p75_slope,
           round(max(ols.b1), 6) + 0.0 AS ols_slope
    FROM slopes CROSS JOIN ols
    """,
)
def theil_sen_price_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust price-per-quantity slope: the paired Theil–Sen
    estimator — median of slopes over DISJOINT pairs formed by a
    deterministic hash shuffle (md5-ranked rows paired adjacently) —
    next to the OLS slope it robustifies. Median-of-pairwise-slopes
    resists the outliers that yank least squares (29% breakdown for
    the paired variant, Sen 1968); the hash ordering makes the
    pairing a pure function of the data, so re-runs and the oracle
    agree exactly.

    The full O(n²) Theil–Sen is infeasible at any scale; the paired
    form needs ONE ordered pass — and that pass runs on the two-pass
    range-partition primitive (``operators/order.global_row_number``,
    r9 retrofit per the r8 verdict), not a single-partition window
    sort: rows range-partition on the md5 key, sort within partitions,
    and a <=P-row offset collect turns per-partition row numbers into
    the identical global numbering. Same total order, same pairs,
    same oracle answer, no stage that one executor must sort alone.

    Reference basis: extension tier — robust statistics family
    (companions: ``price_quantity_regression`` OLS moments,
    ``mad_value_anomaly`` robust dispersion)."""
    from mapreduce511_spark.operators.order import global_row_number

    (li,) = _t(spark, sf_dir, "lineitem")
    hashed = li.select(
        F.col("l_quantity").alias("q"),
        F.col("l_extendedprice").alias("p"),
        F.md5(
            F.concat(
                F.col("l_orderkey").cast("string"),
                F.lit(":"),
                F.col("l_linenumber").cast("string"),
            )
        ).alias("h"),
        "l_orderkey",
        "l_linenumber",
    )
    # global_row_number materializes the ordered base once; both pair
    # sides then read the same pinned numbering.
    keyed = global_row_number(
        hashed, ["h", "l_orderkey", "l_linenumber", "q", "p"]
    ).select("q", "p", "rn")
    # r12 (guide §2.4): pair row 2k-1 with row 2k by GROUPING on the
    # pair id (rn+1) DIV 2 — one map-combinable shuffle — instead of
    # the rn = rn+1 self-join, whose two sides exchange on DIFFERENT
    # keys (rn vs rn+1) and so shuffle the numbered table twice. Each
    # pair id holds exactly one odd and (when present) one even row,
    # so the conditional max-of-struct aggregates reproduce the join's
    # (a, b) sides exactly; a trailing odd row without a partner drops
    # via the e IS NULL filter, as the inner join dropped it. Same
    # pairs, same slope expression on the same columns.
    paired = keyed.groupBy(F.expr("(rn + 1) DIV 2").alias("pid")).agg(
        F.max(
            F.when(F.col("rn") % 2 == 1, F.struct("q", "p"))
        ).alias("o"),
        F.max(
            F.when(F.col("rn") % 2 == 0, F.struct("q", "p"))
        ).alias("e"),
    )
    pairs = paired.filter(
        F.col("o").isNotNull()
        & F.col("e").isNotNull()
        & (F.col("e.q") != F.col("o.q"))
    ).select(
        (
            (F.col("e.p") - F.col("o.p")) / (F.col("e.q") - F.col("o.q"))
        ).alias("s")
    )
    ols = li.agg(
        F.regr_slope("l_extendedprice", "l_quantity").alias("b1")
    )
    return pairs.crossJoin(F.broadcast(ols)).agg(
        F.count("*").alias("n_pairs"),
        norm0(F.round(F.percentile("s", F.lit(0.5)), 6)).alias("median_slope"),
        norm0(F.round(F.percentile("s", F.lit(0.25)), 6)).alias("p25_slope"),
        norm0(F.round(F.percentile("s", F.lit(0.75)), 6)).alias("p75_slope"),
        norm0(F.round(F.max("b1"), 6)).alias("ols_slope"),
    )


@register("approx_percentile_error_census")  # rows-only: t-digest-style
def approx_percentile_error_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Measures the exact→approx percentile swap this repo's
    docstrings prescribe for 100 TB (``median_price_by_flag``,
    ``winsorized_price_stats``, ``funnel_time_to_convert``): per
    return flag, exact p50/p99 of extended price next to
    ``approx_percentile(..., 10000)`` and the relative error actually
    paid. approx_percentile is a mergeable quantile summary (map-side
    combinable, no per-group shuffle of raw values), so this census
    is the evidence that the cheap path is accurate enough — the
    measured error should sit far inside the 1/accuracy ≈ 0.01%
    rank-error contract, which the companion test asserts.

    No SQL oracle: the approximation algorithm (and thus its exact
    outputs) is engine-specific — this is the one family where a
    DuckDB twin CANNOT reproduce Spark bit-for-bit, which is itself
    the point: rows-only check, value bounds in tests.

    Reference basis: §2.4 approx-aggregate note; evaluation
    companion to the exact-percentile family."""
    (li,) = _t(spark, sf_dir, "lineitem")
    exact50 = F.percentile("l_extendedprice", F.lit(0.5))
    exact99 = F.percentile("l_extendedprice", F.lit(0.99))
    appr50 = F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000))
    appr99 = F.approx_percentile("l_extendedprice", F.lit(0.99), F.lit(10000))
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(exact50, 4).alias("exact_p50"),
            F.round(appr50, 4).alias("approx_p50"),
            F.round(exact99, 4).alias("exact_p99"),
            F.round(appr99, 4).alias("approx_p99"),
            F.round(
                F.abs(appr50 - exact50) / exact50 * 100.0, 4
            ).alias("p50_rel_err_pct"),
            F.round(
                F.abs(appr99 - exact99) / exact99 * 100.0, 4
            ).alias("p99_rel_err_pct"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "table_stats_census",
    oracle="""
    SELECT 'l_orderkey' AS col_name, count(*) AS n_rows,
           count(DISTINCT l_orderkey) AS ndv,
           count(*) - count(l_orderkey) AS n_null,
           CAST(min(l_orderkey) AS DOUBLE) AS min_v,
           CAST(max(l_orderkey) AS DOUBLE) AS max_v
    FROM lineitem
    UNION ALL
    SELECT 'l_partkey', count(*), count(DISTINCT l_partkey),
           count(*) - count(l_partkey),
           CAST(min(l_partkey) AS DOUBLE), CAST(max(l_partkey) AS DOUBLE)
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity', count(*), count(DISTINCT l_quantity),
           count(*) - count(l_quantity),
           CAST(min(l_quantity) AS DOUBLE), CAST(max(l_quantity) AS DOUBLE)
    FROM lineitem
    UNION ALL
    SELECT 'l_suppkey', count(*), count(DISTINCT l_suppkey),
           count(*) - count(l_suppkey),
           CAST(min(l_suppkey) AS DOUBLE), CAST(max(l_suppkey) AS DOUBLE)
    FROM lineitem
    ORDER BY col_name
    """,
)
def table_stats_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style optimizer statistics in one scan: per column,
    row count, exact NDV, null count, min and max — the inputs every
    cost-based planner (and every data-contract monitor) wants per
    table. The melt is a zero-shuffle ``stack`` (each row fans to one
    (col_name, value) pair per profiled column), so all four columns
    are profiled in a single pass over the fact table instead of four.

    At 100 TB the exact ``count(DISTINCT)`` becomes the dominant
    cost (a per-column distinct shuffle via Expand); the production
    swap is ``approx_count_distinct`` (HLL, mergeable, one pass) —
    kept exact here to hash-match the oracle, same discipline as
    ``winsorized_price_stats``'s percentile swap note.

    Reference basis: extension tier — table maintenance / data
    contracts (SURVEY.md §7 M7); the reference's closest analog is
    the scan-summary inventory (A10)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    # Two melted values per (row, column): the RAW value as a string
    # (cast is injective for int/decimal, so countDistinct matches
    # the oracle's typed DISTINCT even for int64 keys above 2^53,
    # where a double-cast would collide and under-count NDV) and a
    # double for the ordered stats only.
    melted = li.select(
        F.expr(
            "stack(4,"
            " 'l_orderkey', CAST(l_orderkey AS STRING),"
            "               CAST(l_orderkey AS DOUBLE),"
            " 'l_partkey',  CAST(l_partkey  AS STRING),"
            "               CAST(l_partkey  AS DOUBLE),"
            " 'l_quantity', CAST(l_quantity AS STRING),"
            "               CAST(l_quantity AS DOUBLE),"
            " 'l_suppkey',  CAST(l_suppkey  AS STRING),"
            "               CAST(l_suppkey  AS DOUBLE)"
            ") AS (col_name, s, v)"
        )
    )
    return (
        melted.groupBy("col_name")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("s").alias("ndv"),
            (F.count("*") - F.count("s")).alias("n_null"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
        .orderBy("col_name")
    )


@register(
    "copurchase_clustering",
    oracle="""
    WITH ppo AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM ppo a JOIN ppo b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM edges e1
        JOIN edges e2 ON e1.v = e2.u
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    node_tri AS (
        SELECT x, count(*) AS t FROM (
            SELECT a AS x FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY x
    ),
    deg AS (
        SELECT x, count(*) AS d FROM (
            SELECT u AS x FROM edges UNION ALL SELECT v FROM edges
        ) GROUP BY x
    ),
    node_cc AS (
        SELECT deg.x, deg.d, coalesce(node_tri.t, 0) AS t,
               CASE WHEN deg.d >= 2
                    THEN (20000 * coalesce(node_tri.t, 0))
                         // (deg.d * (deg.d - 1))
               END AS cc_bp
        FROM deg LEFT JOIN node_tri ON deg.x = node_tri.x
    )
    SELECT count(*)                                       AS n_nodes,
           CAST(sum(CASE WHEN d >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                                                          AS n_deg_ge2,
           CAST(sum(CASE WHEN t > 0 THEN 1 ELSE 0 END) AS BIGINT)
                                                          AS n_closed,
           CAST(sum(t) AS BIGINT) // 3                    AS n_triangles,
           CAST(sum((d * (d - 1)) // 2) AS BIGINT)        AS n_wedges,
           CAST((30000 * (CAST(sum(t) AS BIGINT) // 3))
                // CAST(sum((d * (d - 1)) // 2) AS BIGINT)
                AS BIGINT)                                 AS transitivity_bp,
           CAST(CAST(sum(cc_bp) AS BIGINT)
                // CAST(sum(CASE WHEN d >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                AS BIGINT)                                 AS mean_local_cc_bp
    FROM node_cc
    """,
)
def copurchase_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph clustering-coefficient census over the co-purchase
    graph: per-node triangle participation and degree give the local
    clustering coefficient 2t/(d(d-1)); the census reports global
    transitivity (3×triangles/wedges — Watts-Strogatz) and the mean
    local coefficient, the two standard 'how cliquish is this graph'
    numbers (they differ exactly when hubs are open and leaves are
    closed). Completes the graph family: components, PageRank,
    k-core, triangles, link prediction, now local structure.

    Numeric discipline: coefficients are integer basis points
    (floor-divided), means are integer-sum DIV integer-count — the
    whole census is float-free. Scale: reuses the checkpointed
    degree-ordered triangle machinery (Σ out-deg² wedge volume);
    per-node rollups are combinable counts over |V| rows.

    Reference basis: extension tier — graph analytics
    (SURVEY.md §7 M7)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    edges = _copurchase_edges_ck(spark, sf_dir, li)
    return _clustering_census(edges)


def _clustering_census(edges: DataFrame) -> DataFrame:
    """Clustering-coefficient census over a canonical (u < v) edge
    set (separated from the query so hand-graph tests can feed an
    explicit edge list)."""
    deg = (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("d"))
    )
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    ranked = edges.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    directed = ranked.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    )
    e1 = directed.alias("e1")
    e2 = directed.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.s") == F.col("e2.s")) & (F.col("e1.t") < F.col("e2.t")),
    ).select(
        F.col("e1.s").alias("pivot"),
        F.col("e1.t").alias("w1"),
        F.col("e2.t").alias("w2"),
    )
    # inner join (not semi): the pivot column must survive so each
    # triangle can credit all three of its nodes
    tri = wedges.join(
        edges,
        (F.col("w1") == F.col("u")) & (F.col("w2") == F.col("v")),
        "inner",
    ).select("pivot", "w1", "w2")
    node_tri = (
        tri.select(F.col("pivot").alias("x"))
        .unionAll(tri.select(F.col("w1").alias("x")))
        .unionAll(tri.select(F.col("w2").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("t"))
    )
    node_cc = deg.join(node_tri, "x", "left").select(
        "d",
        F.coalesce(F.col("t"), F.lit(0)).alias("t"),
        F.when(
            F.col("d") >= 2,
            F.expr("(20000 * coalesce(t, 0)) DIV (d * (d - 1))"),
        ).alias("cc_bp"),
    )
    deg2 = F.when(F.col("d") >= 2, 1).otherwise(0)
    return node_cc.agg(
        F.count("*").alias("n_nodes"),
        F.sum(deg2).cast("long").alias("n_deg_ge2"),
        F.sum(F.when(F.col("t") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_closed"),
        F.expr("sum(t) DIV 3").alias("n_triangles"),
        F.expr("sum((d * (d - 1)) DIV 2)").alias("n_wedges"),
        F.expr(
            "(30000 * (sum(t) DIV 3)) DIV sum((d * (d - 1)) DIV 2)"
        ).alias("transitivity_bp"),
        F.expr(
            "sum(cc_bp) DIV sum(CASE WHEN d >= 2 THEN 1 ELSE 0 END)"
        ).alias("mean_local_cc_bp"),
    )


@register(
    "bucketed_join_revenue",
    oracle="""
    SELECT c.c_nationkey AS nationkey,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_nationkey
    """,
)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact join via BUCKETED table layout: customer and
    orders are materialized bucketed+sorted on the customer key
    (``operators/bucketed.py``), then joined — the sort-merge join
    reads both sides already hash-co-partitioned, so NEITHER input
    shuffles (the only Exchange in the whole plan is the final
    nation-level aggregate; plan-asserted vs the unbucketed twin in
    tests/test_bucketed.py). The write step IS the one-time shuffle:
    at 100 TB you pay it once at ingest and never again across the
    query mix, where the naive form re-shuffles the fact table per
    join. The merge hint pins the demonstration to the co-located
    path (a broadcast would also avoid the shuffle here, but only
    because sf-scale customer is dimension-sized — bucketing is the
    strategy that survives when both sides are large).

    Reference basis: extension tier — storage-layout family; the
    aggregate itself is the reference's per-key mean/count shape
    (SURVEY §2 A5) over a TPC-H join."""
    from mapreduce511_spark.operators.bucketed import (
        session_table_name,
        write_bucketed,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    # per-session names: two sessions sharing a warehouse must not
    # race on one managed location (ADVICE r4)
    t_cust = session_table_name(spark, "mr511_bucketed_customer")
    t_ord = session_table_name(spark, "mr511_bucketed_orders")
    write_bucketed(cust, t_cust, "c_custkey", 8)
    write_bucketed(orders, t_ord, "o_custkey", 8)
    bc = spark.table(t_cust)
    bo = spark.table(t_ord)
    return (
        bc.hint("merge")
        .join(bo, bc.c_custkey == bo.o_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Approximate query processing (AQP)
# ---------------------------------------------------------------------------


@register(
    "aqp_revenue_estimate",
    oracle="""
    WITH lines AS (
        SELECT l_returnflag,
               CAST(round(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT) AS cents,
               CASE WHEN CAST(('0x' || substr(md5(
                        CAST(l_orderkey AS VARCHAR) || '-'
                        || CAST(l_linenumber AS VARCHAR)), 1, 15))
                    AS BIGINT) % 100 = 0 THEN 1 ELSE 0 END AS s
        FROM lineitem
    ), agg AS (
        SELECT l_returnflag,
               count(*) AS n_lines,
               CAST(sum(cents) AS BIGINT) AS exact_cents,
               CAST(sum(s) AS BIGINT) AS n_sample,
               CAST(sum(s * cents) AS BIGINT) AS samp_cents,
               CAST(sum(s * cents * cents) AS BIGINT) AS samp_ssq
        FROM lines GROUP BY l_returnflag
    )
    SELECT l_returnflag, n_lines, n_sample, exact_cents,
           100 * samp_cents AS est_cents,
           round(1.96 * sqrt(9900.0 * samp_ssq), 2) AS ci95_half_cents,
           CASE WHEN abs(100 * samp_cents - exact_cents)
                     <= 1.96 * sqrt(9900.0 * samp_ssq)
                THEN 1 ELSE 0 END AS covered,
           (abs(100 * samp_cents - exact_cents) * 10000)
               // exact_cents AS rel_err_bp
    FROM agg
    """,
)
def aqp_revenue_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing: estimate per-flag revenue from a
    deterministic 1% Poisson sample with a Horvitz–Thompson expansion
    (est = Σ_s x/p) and its HT variance error bar (V̂ = Σ_s x²(1−p)/p²,
    95% CI = 1.96·√V̂) — how a 100 TB warehouse answers interactive
    aggregates from a sample table at 1% of the scan cost. Here the
    EXACT answer is computed in the same single scan as the audit:
    the census reports estimate, CI half-width, a covered flag, and
    the realized error in basis points, so the driver oracle pins the
    whole estimator algebra, not just the sample sums. Membership is
    the engine-standard md5 bucket on (orderkey, linenumber), so the
    sample is reproducible at any parallelism. Everything before the
    final CI is integer cents (per-row HALF_UP quantization, then
    order-independent int64 sums; the sample's Σx² stays well inside
    int64 at any SF the suite runs — a petabyte deployment would
    widen to decimal); the one float chain (1.96·√(9900·ssq)) runs
    on a single exact integer, identically in both engines. In
    production the sample lives as its own table/partition and the
    exact branch simply isn't scanned."""
    li = load_table(spark, sf_dir, "lineitem")
    from mapreduce511_spark.operators.dedup import hash60

    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    bucket = (
        hash60(
            F.concat_ws(
                "-",
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
            )
        )
        % 100
    )
    s = F.when(bucket == 0, F.lit(1)).otherwise(F.lit(0))
    agg = (
        li.select(
            "l_returnflag",
            cents.alias("cents"),
            s.alias("s"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("cents").alias("exact_cents"),
            F.sum("s").alias("n_sample"),
            F.sum(F.col("s") * F.col("cents")).alias("samp_cents"),
            F.sum(F.col("s") * F.col("cents") * F.col("cents")).alias(
                "samp_ssq"
            ),
        )
    )
    est = F.lit(100) * F.col("samp_cents")
    ci = 1.96 * F.sqrt(9900.0 * F.col("samp_ssq"))
    return agg.select(
        "l_returnflag",
        "n_lines",
        "n_sample",
        "exact_cents",
        est.alias("est_cents"),
        F.round(ci, 2).alias("ci95_half_cents"),
        F.when(F.abs(est - F.col("exact_cents")) <= ci, 1)
        .otherwise(0)
        .alias("covered"),
        F.expr(
            "(abs(100 * samp_cents - exact_cents) * 10000)"
            " DIV exact_cents"
        ).alias("rel_err_bp"),
    )


def _lp_round(und: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous label-propagation step: each vertex adopts its
    neighbors' most frequent label, ties to the smallest label. The
    top-1 is a struct-max HASH aggregate — max (c, -lab) is exactly
    (modal count, smallest label) — not a row_number sort-window:
    both aggregations stay map-combinable and whole-stage-codegen,
    and nothing sorts (measured 10.4 -> 7.3 s steady at sf0.1)."""
    counts = (
        und.join(labels.withColumnRenamed("v", "u"), "u")
        .groupBy("v", "lab")
        .agg(F.count("*").alias("c"))
    )
    best = counts.groupBy("v").agg(
        F.max(F.struct(F.col("c"), (-F.col("lab")).alias("nl"))).alias("m")
    )
    return best.select("v", (-F.col("m.nl")).alias("lab"))


@register(
    "copurchase_label_propagation",
    oracle="""
    WITH ppo AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM ppo a JOIN ppo b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    und AS (
        SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ),
    lab0 AS (SELECT DISTINCT u AS v, u AS lab FROM und),
    r1 AS (
        SELECT d.v, l.lab, count(*) AS c
        FROM und d JOIN lab0 l ON d.u = l.v GROUP BY d.v, l.lab
    ),
    lab1 AS (
        SELECT v, lab FROM (
            SELECT v, lab, row_number() OVER (
                PARTITION BY v ORDER BY c DESC, lab ASC) AS rn
            FROM r1) WHERE rn = 1
    ),
    r2 AS (
        SELECT d.v, l.lab, count(*) AS c
        FROM und d JOIN lab1 l ON d.u = l.v GROUP BY d.v, l.lab
    ),
    lab2 AS (
        SELECT v, lab FROM (
            SELECT v, lab, row_number() OVER (
                PARTITION BY v ORDER BY c DESC, lab ASC) AS rn
            FROM r2) WHERE rn = 1
    ),
    r3 AS (
        SELECT d.v, l.lab, count(*) AS c
        FROM und d JOIN lab2 l ON d.u = l.v GROUP BY d.v, l.lab
    ),
    lab3 AS (
        SELECT v, lab FROM (
            SELECT v, lab, row_number() OVER (
                PARTITION BY v ORDER BY c DESC, lab ASC) AS rn
            FROM r3) WHERE rn = 1
    )
    SELECT lab AS community, count(*) AS n_members
    FROM lab3 GROUP BY lab
    """,
)
def copurchase_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan
    et al. 2007) over the part co-purchase graph: labels start as
    vertex ids, and each of T=3 rounds every vertex adopts its
    neighbors' modal label with the deterministic smallest-label
    tie-break — the determinism that makes the whole trajectory
    SQL-restatable (asynchronous LPA is order-dependent and would be
    unverifiable). Census output: community label -> member count
    after round 3.

    100 TB design: each round is one vertex-keyed equi-join of the
    checkpointed edge list against the current |V|-row label table, a
    map-combinable (v, lab) count, and a per-vertex top-1 window —
    the same shuffle key (v) all three rounds, so AQE reuses the
    partitioning; nothing materializes beyond |V| labels per round.
    Sync LPA on a dense co-purchase graph mixes fast — by round 3
    the label histogram is the community structure; more rounds
    would oscillate between bipartite-ish label sets, which is why
    LPA deployments cap rounds rather than iterate to fixpoint."""
    (li,) = _t(spark, sf_dir, "lineitem")
    edges = _copurchase_edges_ck(spark, sf_dir, li)
    und = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    labels = und.select(F.col("u").alias("v")).distinct().select(
        "v", F.col("v").alias("lab")
    )
    # r13 (guide §5, VERDICT r12 item 6): materialize each round's
    # |V|-row label table. Lazily chained, rounds 2-3 join against an
    # un-sized aggregate subtree the planner won't broadcast (and the
    # final plan re-optimizes the whole 3-round lineage); checkpointed,
    # every round's join sees a small materialized relation and
    # broadcasts it (measured 8.2 -> 5.7 s for the 3-round census).
    # Placement/materialization only — the max-struct tie-break is
    # deterministic, so results are bit-identical.
    for _ in range(3):
        labels = _lp_round(und, labels).localCheckpoint(eager=True)
    return labels.groupBy(F.col("lab").alias("community")).agg(
        F.count("*").alias("n_members")
    )


# ---------------------------------------------------------------------------
# Zone-map data skipping (min/max pruning) — the 100 TB scan-avoidance audit
# ---------------------------------------------------------------------------

_ZM_ZONE = 4096  # rows per zone (the row-group / granule analog)


def _zm_preds_sql() -> str:
    """Predicate table: six half-open shipdate years + two orderkey
    deciles whose bounds derive from the table's own key range."""
    rows = [
        f"SELECT 'ship_{y}' AS pred, 'ts' AS kind, "
        f"TIMESTAMP '{y}-01-01' AS lo_ts, TIMESTAMP '{y + 1}-01-01' AS hi_ts, "
        "CAST(NULL AS BIGINT) AS lo_k, CAST(NULL AS BIGINT) AS hi_k"
        for y in range(1996, 2002)
    ]
    rows += [
        f"SELECT 'okey_d{d}', 'key', CAST(NULL AS TIMESTAMP), "
        f"CAST(NULL AS TIMESTAMP), "
        f"kmin + ((kmax - kmin + 1) * {d}) // 10, "
        f"kmin + ((kmax - kmin + 1) * {d + 1}) // 10 FROM bounds"
        for d in (0, 5)
    ]
    return " UNION ALL ".join(rows)


def _zm_layout_sql(layout: str, order: str) -> str:
    return f"""
        SELECT '{layout}' AS layout, (rn - 1) // {_ZM_ZONE} AS zone,
               min(l_shipdate) AS zmin_ts, max(l_shipdate) AS zmax_ts,
               min(l_orderkey) AS zmin_k, max(l_orderkey) AS zmax_k,
               count(*) AS zn
        FROM (SELECT l_shipdate, l_orderkey,
                     row_number() OVER (ORDER BY {order}) AS rn
              FROM lineitem)
        GROUP BY 2"""


@register(
    "zonemap_skipping_census",
    oracle=f"""
    WITH bounds AS (
        SELECT min(l_orderkey) AS kmin, max(l_orderkey) AS kmax FROM lineitem
    ), preds AS (
        {_zm_preds_sql()}
    ), zones AS (
        {_zm_layout_sql("insertion", "l_orderkey, l_linenumber")}
        UNION ALL
        {_zm_layout_sql("shipdate", "l_shipdate, l_orderkey, l_linenumber")}
    ), ev AS (
        SELECT layout, pred, zn,
               CASE WHEN kind = 'ts'
                    THEN (zmax_ts < lo_ts OR zmin_ts >= hi_ts)
                    ELSE (zmax_k < lo_k OR zmin_k >= hi_k)
               END AS skipped
        FROM zones CROSS JOIN preds
    ), m AS (
        SELECT pred,
               CAST(sum(CASE WHEN kind = 'ts'
                    THEN CASE WHEN l_shipdate >= lo_ts
                              AND l_shipdate < hi_ts THEN 1 ELSE 0 END
                    ELSE CASE WHEN l_orderkey >= lo_k
                              AND l_orderkey < hi_k THEN 1 ELSE 0 END
               END) AS BIGINT) AS rows_match
        FROM lineitem CROSS JOIN preds GROUP BY pred
    )
    SELECT layout, pred, count(*) AS n_zones,
           CAST(sum(CASE WHEN skipped THEN 1 ELSE 0 END) AS BIGINT)
               AS n_skipped,
           CAST(sum(CASE WHEN skipped THEN 0 ELSE zn END) AS BIGINT)
               AS rows_scanned,
           m.rows_match,
           CAST((10000 * sum(CASE WHEN skipped THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS skip_bp
    FROM ev JOIN m USING (pred)
    GROUP BY layout, pred, m.rows_match
    """,
)
def zonemap_skipping_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZONE-MAP DATA SKIPPING audit — the mechanism that makes 100 TB
    scans affordable: per-zone (row-group / granule) min/max stats
    let a predicate skip whole zones without reading them (parquet
    row-group stats, Delta file stats, ClickHouse granules all work
    this way). The census simulates zones of 4096 consecutive
    rows under TWO physical layouts — insertion order
    (l_orderkey, l_linenumber) and shipdate-sorted — and evaluates 8
    predicates (six shipdate years, two orderkey deciles) against
    each zone's [min, max] envelope. The payoff it demonstrates is
    the layout trade every table owner makes: the shipdate-sorted
    layout skips ~every zone for date predicates but nearly none
    for key predicates, and insertion order the reverse — exactly
    the audit run before choosing a sort/OPTIMIZE key (the Z-order
    twin ``zorder_cell_census`` is the both-dimensions compromise).
    rows_scanned vs rows_match exposes the false-positive I/O a
    wrong layout forces.

    Global row numbers come from the standard DISTRIBUTED two-pass
    recipe, not a single-partition sort: repartitionByRange on the
    layout key (range partitions are contiguous in key order),
    per-partition counts -> cumulative offsets (a ≤16-row driver
    collect), then within-partition row_number + offset. One
    materialization serves both passes. Everything downstream of
    the zone stats is a ~15-row-per-layout envelope table — the
    predicate evaluation costs nothing at any scale.

    Reference basis: extension tier — storage-layout family, beside
    ``zorder_cell_census`` (SURVEY.md §2 extensions)."""
    from datetime import datetime

    (li,) = _t(spark, sf_dir, "lineitem")
    kmin, kmax = li.agg(
        F.min("l_orderkey"), F.max("l_orderkey")
    ).first()
    preds = []  # (pred, kind, lo_ts, hi_ts, lo_k, hi_k)
    for y in range(1996, 2002):
        preds.append(
            (f"ship_{y}", "ts", datetime(y, 1, 1), datetime(y + 1, 1, 1),
             None, None)
        )
    for d in (0, 5):
        preds.append(
            (f"okey_d{d}", "key", None, None,
             kmin + ((kmax - kmin + 1) * d) // 10,
             kmin + ((kmax - kmin + 1) * (d + 1)) // 10)
        )
    pred_df = spark.createDataFrame(
        preds,
        "pred string, kind string, lo_ts timestamp, hi_ts timestamp, "
        "lo_k long, hi_k long",
    )

    def zone_stats(layout: str, sort_cols: list[str]) -> DataFrame:
        from mapreduce511_spark.operators.order import global_row_number

        numbered = global_row_number(
            li.select("l_shipdate", "l_orderkey", "l_linenumber"), sort_cols
        )
        return (
            numbered.select(
                "l_shipdate",
                "l_orderkey",
                F.expr(f"(rn - 1) DIV {_ZM_ZONE}").alias("zone"),
            )
            .groupBy("zone")
            .agg(
                F.min("l_shipdate").alias("zmin_ts"),
                F.max("l_shipdate").alias("zmax_ts"),
                F.min("l_orderkey").alias("zmin_k"),
                F.max("l_orderkey").alias("zmax_k"),
                F.count("*").alias("zn"),
            )
            .withColumn("layout", F.lit(layout))
        )

    zones = zone_stats("insertion", ["l_orderkey", "l_linenumber"]).unionByName(
        zone_stats("shipdate", ["l_shipdate", "l_orderkey", "l_linenumber"])
    )
    skipped = F.when(
        F.col("kind") == "ts",
        (F.col("zmax_ts") < F.col("lo_ts"))
        | (F.col("zmin_ts") >= F.col("hi_ts")),
    ).otherwise(
        (F.col("zmax_k") < F.col("lo_k")) | (F.col("zmin_k") >= F.col("hi_k"))
    )
    ev = zones.crossJoin(F.broadcast(pred_df)).select(
        "layout", "pred", "zn", skipped.alias("skipped")
    )
    match_conds = [
        F.sum(
            F.when(
                (F.col("l_shipdate") >= F.lit(p[2]))
                & (F.col("l_shipdate") < F.lit(p[3])),
                1,
            ).otherwise(0)
            if p[1] == "ts"
            else F.when(
                (F.col("l_orderkey") >= F.lit(p[4]))
                & (F.col("l_orderkey") < F.lit(p[5])),
                1,
            ).otherwise(0)
        ).alias(p[0])
        for p in preds
    ]
    one_pass = li.agg(*match_conds)
    stack = ", ".join(f"'{p[0]}', {p[0]}" for p in preds)
    m = one_pass.select(
        F.expr(f"stack({len(preds)}, {stack}) AS (pred, rows_match)")
    )
    return (
        ev.groupBy("layout", "pred")
        .agg(
            F.count("*").alias("n_zones"),
            F.sum(F.when(F.col("skipped"), 1).otherwise(0))
            .cast("long")
            .alias("n_skipped"),
            F.sum(F.when(F.col("skipped"), 0).otherwise(F.col("zn")))
            .cast("long")
            .alias("rows_scanned"),
        )
        .join(F.broadcast(m), "pred")
        .select(
            "layout",
            "pred",
            "n_zones",
            "n_skipped",
            "rows_scanned",
            F.col("rows_match").cast("long").alias("rows_match"),
            F.expr("(10000 * n_skipped) DIV n_zones").alias("skip_bp"),
        )
    )


# ---------------------------------------------------------------------------
# Hilbert-curve layout audit (the locality upgrade over Z-order)
# ---------------------------------------------------------------------------


def _hilbert_sql() -> str:
    """Unrolled 4-level Hilbert xy→d transform (16x16 grid) as chained
    CTE fragments — the SAME rotate/reflect recurrence the Spark side
    runs, so the oracle re-derives the curve, it doesn't look it up."""
    prev = "h0"
    out = []
    for s in (8, 4, 2, 1):
        nxt = f"h{16 // s}"
        out.append(f"""
    {nxt} AS (
        SELECT o_custkey, o_totalprice,
               CASE WHEN ry = 0 THEN CASE WHEN rx = 1
                    THEN {s - 1} - y ELSE y END ELSE x END AS x,
               CASE WHEN ry = 0 THEN CASE WHEN rx = 1
                    THEN {s - 1} - x ELSE x END ELSE y END AS y,
               d + {s * s} * xor(3 * rx, ry) AS d
        FROM (SELECT *,
                     CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END AS rx,
                     CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END AS ry
              FROM {prev})
    )""")
        prev = nxt
    return ",".join(out), prev


_HILBERT_CTES, _HILBERT_LAST = _hilbert_sql()


@register(
    "hilbert_cell_census",
    oracle=f"""
    WITH rng AS (
        SELECT min(o_custkey) AS klo, max(o_custkey) AS khi,
               min(o_totalprice) AS plo, max(o_totalprice) AS phi
        FROM orders
    ),
    h0 AS (
        SELECT o_custkey, o_totalprice,
               least(15, CAST(floor((o_custkey - klo) * 16.0
                                    / (khi - klo + 1)) AS BIGINT)) AS x,
               least(15, CAST(floor((o_totalprice - plo) * 16.0
                                    / (phi - plo)) AS BIGINT)) AS y,
               CAST(0 AS BIGINT) AS d
        FROM orders CROSS JOIN rng
    ),{_HILBERT_CTES}
    SELECT d AS hcell,
           count(*) AS n_orders,
           count(DISTINCT o_custkey) AS n_custkeys,
           CAST(max(o_custkey) - min(o_custkey) AS BIGINT) AS custkey_span,
           round(max(o_totalprice) - min(o_totalprice), 4) AS price_span
    FROM {_HILBERT_LAST} GROUP BY d
    """,
)
def hilbert_cell_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HILBERT-curve cell assignment over the same 16x16
    (o_custkey x o_totalprice) grid as ``zorder_cell_census`` — the
    locality upgrade: consecutive Hilbert positions are ALWAYS
    edge-adjacent cells (unit Manhattan steps), where the Morton
    curve jumps across the key space at every power-of-two boundary
    (cell 15→16 teleports from (7,1) to (0,2) at 16x16; the Hilbert
    walk never tears). Range-partitioning files by hcell therefore
    gives tighter per-file min/max envelopes on BOTH dimensions than
    zcell — directly measurable here as smaller custkey_span /
    price_span per equally-occupied cell, the statistic a layout
    owner compares before choosing the curve (Databricks liquid
    clustering moved Z-order → Hilbert for exactly this).

    The xy→d transform is the standard rotate/reflect recurrence
    (one level per grid bit, unrolled 4x), pure integer CASE/XOR
    arithmetic inside whole-stage codegen — the oracle runs the SAME
    recurrence as chained CTEs, so both engines re-derive the curve
    independently. Quantization bounds come from a 1-row min/max
    broadcast, as in the Z-order twin.

    Reference basis: extension tier — storage-layout family, beside
    ``zorder_cell_census`` / ``zonemap_skipping_census`` (SURVEY.md
    §2 extensions)."""
    orders = _t(spark, sf_dir, "orders")[0]
    rng = orders.agg(
        F.min("o_custkey").alias("klo"),
        F.max("o_custkey").alias("khi"),
        F.min("o_totalprice").alias("plo"),
        F.max("o_totalprice").alias("phi"),
    )
    cells = orders.crossJoin(F.broadcast(rng)).select(
        "o_custkey",
        "o_totalprice",
        F.least(
            F.lit(15),
            F.floor(
                (F.col("o_custkey") - F.col("klo"))
                * 16.0
                / (F.col("khi") - F.col("klo") + 1)
            ),
        ).alias("x"),
        F.least(
            F.lit(15),
            F.floor(
                (F.col("o_totalprice") - F.col("plo"))
                * 16.0
                / (F.col("phi") - F.col("plo"))
            ),
        ).alias("y"),
    )
    x, y, d = F.col("x"), F.col("y"), F.lit(0).cast("long")
    for s in (8, 4, 2, 1):
        rx = F.when(x.bitwiseAND(s) > 0, 1).otherwise(0)
        ry = F.when(y.bitwiseAND(s) > 0, 1).otherwise(0)
        d = d + s * s * (3 * rx).bitwiseXOR(ry)
        nx = F.when(ry == 0, F.when(rx == 1, F.lit(s - 1) - y).otherwise(y)).otherwise(x)
        ny = F.when(ry == 0, F.when(rx == 1, F.lit(s - 1) - x).otherwise(x)).otherwise(y)
        x, y = nx, ny
    return (
        cells.select("o_custkey", "o_totalprice", d.alias("hcell"))
        .groupBy("hcell")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_custkeys"),
            (F.max("o_custkey") - F.min("o_custkey"))
            .cast("long")
            .alias("custkey_span"),
            F.round(
                F.max("o_totalprice") - F.min("o_totalprice"), 4
            ).alias("price_span"),
        )
    )


_HITS_ITER = """
    a{i}r AS (
        SELECT l_partkey, sum(h) AS a
        FROM op JOIN h{j} USING (l_orderkey) GROUP BY 1
    ),
    a{i} AS (
        SELECT l_partkey, a / (SELECT sum(a) FROM a{i}r) AS a FROM a{i}r
    ),
    h{i}r AS (
        SELECT l_orderkey, sum(a) AS h
        FROM op JOIN a{i} USING (l_partkey) GROUP BY 1
    ),
    h{i} AS (
        SELECT l_orderkey, h / (SELECT sum(h) FROM h{i}r) AS h FROM h{i}r
    )"""


@register(
    "copurchase_hits",
    oracle=f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    h0 AS (SELECT DISTINCT l_orderkey, 1.0 AS h FROM op),
    {_HITS_ITER.format(i=1, j=0)},
    {_HITS_ITER.format(i=2, j=1)},
    np AS (SELECT count(*) AS np FROM a2)
    SELECT l_partkey AS part_id,
           round(a * np.np, 4) + 0.0 AS auth_ratio
    FROM a2 CROSS JOIN np
    ORDER BY auth_ratio DESC, part_id
    LIMIT 20
    """,
)
def copurchase_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hub/authority scores (Kleinberg 1999) over the bipartite
    order-part purchase graph: orders are hubs, parts authorities;
    TWO full mutual-recursion rounds (authority <- sum of adjacent
    hub scores, hub <- sum of adjacent authority scores, each
    L1-normalized), unrolled into one deterministic DataFrame plan
    under the exact DuckDB oracle (same chained CTEs). Structurally
    distinct from ``copurchase_pagerank``: HITS is the bipartite
    mutual recursion with explicit per-step normalization, PageRank
    the stochastic-matrix fixpoint — the two classical link-analysis
    families side by side on the same co-purchase data.

    Scale shape: the bipartite edge relation (distinct order-part
    pairs) materializes ONCE via localCheckpoint; each half-step is
    one equi-join on a vertex key plus one partial-aggregated
    shuffle-sum — the Pregel lowering. Score vectors are two-column
    frames keyed by order/part id and are NEVER broadcast (both
    dimensions grow with SF); only the 1-row normalization totals
    ride broadcasts. L1 (sum) normalization rather than the
    textbook L2 keeps every intermediate a plain SUM — restated
    exactly in SQL with no sqrt, and the final ranking is invariant
    to which norm is used. Reported as authority * |parts| (ratio
    to uniform) ROUNDED to 4, and ordered by the ROUNDED column so
    the top-20 cut is deterministic across engines.

    Reference basis: extension tier — graph family beside
    ``copurchase_pagerank`` (SURVEY.md §2 extensions); reference has
    no graph surface (`/root/reference/analyze`)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    op = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=True)
    )
    h = op.select("l_orderkey").distinct().withColumn("h", F.lit(1.0))
    a = None
    for _ in range(2):
        ar = op.join(h, "l_orderkey").groupBy("l_partkey").agg(
            F.sum("h").alias("a")
        )
        asum = ar.agg(F.sum("a").alias("s"))
        a = ar.crossJoin(F.broadcast(asum)).select(
            "l_partkey", (F.col("a") / F.col("s")).alias("a")
        )
        hr = op.join(a, "l_partkey").groupBy("l_orderkey").agg(
            F.sum("a").alias("h")
        )
        hsum = hr.agg(F.sum("h").alias("s"))
        h = hr.crossJoin(F.broadcast(hsum)).select(
            "l_orderkey", (F.col("h") / F.col("s")).alias("h")
        )
    np_ = a.agg(F.count("*").alias("np"))
    return (
        a.crossJoin(F.broadcast(np_))
        .select(
            F.col("l_partkey").alias("part_id"),
            norm0(F.round(F.col("a") * F.col("np"), 4)).alias("auth_ratio"),
        )
        .orderBy(F.desc("auth_ratio"), "part_id")
        .limit(20)
    )


@register(
    "k_anonymity_census",
    oracle="""
    WITH qi AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
               count(*) AS k,
               count(DISTINCT c_acctbal) AS l
        FROM customer
        GROUP BY 1, 2, 3
    ), banded AS (
        SELECT CASE WHEN k = 1 THEN 'k=1 (unique)'
                    WHEN k < 5 THEN 'k=2-4'
                    WHEN k < 10 THEN 'k=5-9'
                    ELSE 'k>=10' END AS band,
               k, l
        FROM qi
    )
    SELECT band,
           count(*) AS n_classes,
           CAST(sum(k) AS BIGINT) AS n_rows,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k,
           CAST(min(l) AS BIGINT) AS min_l
    FROM banded
    GROUP BY band
    ORDER BY band
    """,
)
def k_anonymity_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) over the customer table's
    quasi-identifiers (nation, market segment, account-balance
    thousand-band): the size distribution of QI equivalence classes,
    banded by re-identification risk — k=1 rows are uniquely
    re-identifiable from the quasi-identifiers alone, k<5 is the
    conventional release threshold. Each band also reports its
    worst-case l-DIVERSITY (Machanavajjhala 2007; r11, VERDICT r10
    item 8): min over classes of count(DISTINCT c_acctbal) — a class
    can be k-anonymous yet expose the sensitive value outright when
    every member shares it (the homogeneity attack); min_l = 1 flags
    exactly that. The governance counterpart of ``pii_screen_census``
    (which finds direct identifiers; this measures indirect
    linkability and attribute disclosure).

    Scale shape: one map-side-combinable groupBy on the QI tuple,
    then a 4-band rollup — two hash shuffles, the second over at
    most |QI-classes| rows, no joins, no windows. Pure integer
    arithmetic end to end. At 100 TB the QI aggregation is the same
    shape as any distinct-count census; generalization-lattice
    search (which k-anonymization proper adds) composes as repeated
    runs with coarser bands.

    Reference basis: extension tier — data-governance family beside
    ``pii_screen_census`` (SURVEY.md §2 extensions); no analog in
    `/root/reference/analyze`."""
    (cust,) = _t(spark, sf_dir, "customer")
    qi = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
    ).agg(
        F.count("*").alias("k"),
        F.countDistinct("c_acctbal").alias("l"),
    )
    banded = qi.select(
        F.when(F.col("k") == 1, "k=1 (unique)")
        .when(F.col("k") < 5, "k=2-4")
        .when(F.col("k") < 10, "k=5-9")
        .otherwise("k>=10")
        .alias("band"),
        "k",
        "l",
    )
    return (
        banded.groupBy("band")
        .agg(
            F.count("*").alias("n_classes"),
            F.sum("k").alias("n_rows"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.min("l").alias("min_l"),
        )
        .orderBy("band")
    )


@register(
    "t_closeness_census",
    oracle="""
    WITH base AS (
        SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment,
               CAST(floor(c.c_acctbal / 1000.0) AS BIGINT) AS bal_band,
               least(count(o.o_orderkey), 9) AS sb
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_nationkey, c.c_mktsegment,
                 CAST(floor(c.c_acctbal / 1000.0) AS BIGINT)
    ), g AS (
        SELECT sb, count(*) AS gi FROM base GROUP BY sb
    ), tots AS (
        SELECT CAST(count(*) AS BIGINT) AS nn,
               (SELECT count(*) FROM g) AS nb
        FROM base
    ), cls AS (
        SELECT c_nationkey, c_mktsegment, bal_band, count(*) AS ni
        FROM base GROUP BY 1, 2, 3
    ), cc AS (
        SELECT c_nationkey, c_mktsegment, bal_band, sb, count(*) AS ci
        FROM base GROUP BY 1, 2, 3, 4
    ), dense AS (
        SELECT cls.c_nationkey, cls.c_mktsegment, cls.bal_band,
               cls.ni, g.sb, g.gi, coalesce(cc.ci, 0) AS ci
        FROM cls CROSS JOIN g
        LEFT JOIN cc
          ON cc.c_nationkey = cls.c_nationkey
         AND cc.c_mktsegment = cls.c_mktsegment
         AND cc.bal_band = cls.bal_band
         AND cc.sb = g.sb
    ), cum AS (
        SELECT c_nationkey, c_mktsegment, bal_band, ni,
               sum(ci * tots.nn - gi * ni) OVER (
                   PARTITION BY c_nationkey, c_mktsegment, bal_band
                   ORDER BY sb
               ) AS cj,
               tots.nn AS nn, tots.nb AS nb
        FROM dense CROSS JOIN tots
    ), emd AS (
        SELECT c_nationkey, c_mktsegment, bal_band, ni,
               CASE WHEN max(nb) > 1
                    THEN CAST(sum(abs(cj)) AS DOUBLE)
                         / (ni * max(nn) * (max(nb) - 1))
                    ELSE 0.0 END AS t
        FROM cum GROUP BY c_nationkey, c_mktsegment, bal_band, ni
    ), banded AS (
        SELECT CASE WHEN ni = 1 THEN 'k=1 (unique)'
                    WHEN ni < 5 THEN 'k=2-4'
                    WHEN ni < 10 THEN 'k=5-9'
                    ELSE 'k>=10' END AS band,
               ni, t
        FROM emd
    )
    SELECT band,
           count(*) AS n_classes,
           CAST(sum(ni) AS BIGINT) AS n_rows,
           round(max(t), 4) + 0.0 AS max_t,
           round(avg(t), 4) + 0.0 AS avg_t
    FROM banded
    GROUP BY band
    ORDER BY band
    """,
)
def t_closeness_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the
    third rung of the privacy-audit ladder after ``k_anonymity_census``
    (class sizes) and its l-diversity column (distinct sensitive
    values): per QI equivalence class, the Earth Mover's Distance
    between the class's SENSITIVE-attribute distribution and the
    global one, reported as max/avg per risk band. The sensitive
    attribute is purchasing behavior — each customer's order count
    capped into ordered bands 0..9 off a customer⋈orders rollup — so
    the QI (demographics) and the sensitive dimension are genuinely
    different tables. l-diversity misses skew (a class can hold many
    distinct but near-identical sensitive values); EMD catches it.

    Numeric discipline: for ordered bands, EMD = Σ_j |C_j| /
    (n_i · N · (B-1)) with C_j = Σ_{{i<=j}} (c_i·N − g_i·n_i) — the
    cumulative term is INTEGER-EXACT (counts cross-multiplied before
    any division), so each class's t is one double division on both
    engines; only the band-level avg sees float summation order,
    absorbed by round-4 + the signed-zero normalization. The B=1
    degenerate case takes an exact 0.0 branch stated identically in
    both engines.

    Scale shape: ONE customer⋈orders aggregation reduced straight to
    the class-band count table — the smallest complete sufficient
    statistic, |classes| x B rows — which is eagerly checkpointed so
    the class sizes, global histogram and totals all roll up from it
    without re-executing the join. Everything downstream is
    |classes| x B rows: the dense spine is a broadcast-sized cross
    join against the B<=10-row global histogram, and the cumulative
    sum is a window over B rows per class, never over customers.
    Same 100 TB posture as any distinct-count census.

    Reference basis: extension tier — data-governance family beside
    ``k_anonymity_census`` / ``pii_screen_census`` (SURVEY.md §2
    extensions); no analog in /root/reference/analyze."""
    from pyspark.sql import Window

    cust, orders = _t(spark, sf_dir, "customer", "orders")
    base = (
        cust.join(
            orders, orders.o_custkey == cust.c_custkey, "left"
        )
        .groupBy(
            "c_custkey",
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000.0)
            .cast("long")
            .alias("bal_band"),
        )
        .agg(F.least(F.count("o_orderkey"), F.lit(9)).alias("sb"))
    )
    # the class-band count table is the SMALLEST complete sufficient
    # statistic (|classes| x B rows) — every other aggregate (class
    # sizes, global histogram, totals) is a rollup of it, so the
    # eager checkpoint HERE runs the customer-orders join exactly
    # once and materializes kilobytes (r11 review: checkpointing the
    # |customers|-sized base cost 5x the whole query at fixture
    # scale; the naive un-checkpointed composition re-executed the
    # join three times)
    cc = (
        base.groupBy("c_nationkey", "c_mktsegment", "bal_band", "sb")
        .agg(F.count("*").alias("ci"))
        .localCheckpoint(eager=True)
    )
    cls = cc.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.sum("ci").alias("ni")
    )
    g = cc.groupBy("sb").agg(F.sum("ci").alias("gi"))
    tots = cc.agg(
        F.sum("ci").alias("nn"), F.countDistinct("sb").alias("nb")
    )
    dense = (
        cls.crossJoin(F.broadcast(g))
        .join(cc, ["c_nationkey", "c_mktsegment", "bal_band", "sb"], "left")
        .withColumn("ci", F.coalesce(F.col("ci"), F.lit(0)))
    )
    w = (
        Window.partitionBy("c_nationkey", "c_mktsegment", "bal_band")
        .orderBy("sb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = dense.crossJoin(F.broadcast(tots)).withColumn(
        "cj",
        F.sum(
            F.col("ci") * F.col("nn") - F.col("gi") * F.col("ni")
        ).over(w),
    )
    emd = cum.groupBy("c_nationkey", "c_mktsegment", "bal_band", "ni").agg(
        F.when(
            F.max("nb") > 1,
            F.sum(F.abs(F.col("cj"))).cast("double")
            / (F.col("ni") * F.max("nn") * (F.max("nb") - 1)),
        )
        .otherwise(F.lit(0.0))
        .alias("t")
    )
    banded = emd.select(
        F.when(F.col("ni") == 1, "k=1 (unique)")
        .when(F.col("ni") < 5, "k=2-4")
        .when(F.col("ni") < 10, "k=5-9")
        .otherwise("k>=10")
        .alias("band"),
        "ni",
        "t",
    )
    return (
        banded.groupBy("band")
        .agg(
            F.count("*").alias("n_classes"),
            F.sum("ni").alias("n_rows"),
            norm0(F.round(F.max("t"), 4)).alias("max_t"),
            norm0(F.round(F.avg("t"), 4)).alias("avg_t"),
        )
        .orderBy("band")
    )


@register(
    "dp_noisy_count_release",
    oracle="""
    WITH grp AS (
        SELECT c_nationkey, count(*) AS n FROM customer GROUP BY c_nationkey
    ), seeded AS (
        SELECT c_nationkey, n,
               (CAST('0x' || substr(md5(CAST(c_nationkey AS VARCHAR)), 1, 15)
                     AS BIGINT) % 16777216 + 0.5) / 16777216.0 AS u
        FROM grp
    ), noised AS (
        SELECT c_nationkey, n,
               -2.0 * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)) AS noise
        FROM seeded
    )
    SELECT c_nationkey,
           CAST(n AS BIGINT) AS true_count,
           round(n + noise, 4) + 0.0 AS noisy_count,
           round(abs(noise), 4) + 0.0 AS noise_abs,
           0.5 AS epsilon
    FROM noised
    ORDER BY c_nationkey
    """,
)
def dp_noisy_count_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (Dwork et al. 2006) — the
    fourth rung of the privacy-audit ladder after k-anonymity,
    l-diversity and t-closeness: per-nation customer counts released
    through the Laplace mechanism at epsilon = 0.5 (sensitivity 1 for
    a count), with the true count and realized noise beside the
    release so the census doubles as a utility audit (how much
    accuracy the epsilon buys at this group size).

    The Laplace draw is the standard inverse-CDF transform
    noise = -(1/eps) * sign(u - 1/2) * ln(1 - 2|u - 1/2|) over a
    uniform u — here md5-DERIVED per group (the repo's deterministic
    sampling idiom, ``hash60``) so the release is reproducible and
    the whole mechanism sits under the exact oracle. A production
    release swaps the hash for a CSPRNG draw — the mechanism,
    sensitivity accounting and utility columns are unchanged; what
    this census verifies is the TRANSFORM, exactly. Numeric
    discipline: u is a dyadic rational (exact on both engines), the
    only cross-engine float is one ln() per group, absorbed by
    round-4 + the signed-zero normalization.

    Scale shape: one map-side-combinable count shuffle, then O(groups)
    rows of scalar arithmetic — the cheapest census shape there is.

    Reference basis: extension tier — data-governance family closing
    the ``k_anonymity_census`` / ``t_closeness_census`` arc
    (SURVEY.md §2 extensions); no analog in /root/reference/analyze."""
    from mapreduce511_spark.operators.dedup import hash60

    (cust,) = _t(spark, sf_dir, "customer")
    grp = cust.groupBy("c_nationkey").agg(F.count("*").alias("n"))
    u = (
        hash60(F.col("c_nationkey").cast("string")) % 16777216 + 0.5
    ) / 16777216.0
    noise = (
        F.lit(-2.0)
        * F.signum(u - 0.5)
        * F.log(1 - 2 * F.abs(u - 0.5))
    )
    return grp.select(
        "c_nationkey",
        F.col("n").cast("long").alias("true_count"),
        norm0(F.round(F.col("n") + noise, 4)).alias("noisy_count"),
        norm0(F.round(F.abs(noise), 4)).alias("noise_abs"),
        F.lit(0.5).alias("epsilon"),
    ).orderBy("c_nationkey")


@register(
    "copurchase_assortativity",
    oracle="""
    WITH ppo AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    ue AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM ppo a JOIN ppo b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS (
        SELECT u AS s, v AS t FROM ue
        UNION ALL
        SELECT v AS s, u AS t FROM ue
    ),
    deg AS (SELECT s, count(*) AS d FROM edges GROUP BY s),
    pairs AS (
        SELECT ds.d AS j, dt.d AS k
        FROM edges e
        JOIN deg ds ON ds.s = e.s
        JOIN deg dt ON dt.s = e.t
    ),
    sums AS (
        SELECT count(*) AS m,
               sum(j * k) AS sjk,
               sum(j + k) AS sj,
               sum(j * j + k * k) AS sj2
        FROM pairs
    )
    SELECT CAST(m / 2 AS BIGINT) AS n_edges,
           CAST(sjk AS BIGINT) AS sum_jk,
           round((1.0 * m * sjk - 0.25 * sj * sj)
                 / (0.5 * m * sj2 - 0.25 * sj * sj), 4) + 0.0
               AS assortativity
    FROM sums
    """,
)
def copurchase_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the part co-purchase
    graph: the Pearson correlation of endpoint degrees over all
    edges — positive means hub parts co-purchase with other hubs
    (assortative mixing), negative the hub-and-spoke pattern typical
    of product graphs. One scalar summarizing whether hot parts
    cluster, which decides salting strategy for downstream graph
    joins before any of them run.

    Scale shape: the Newman formula over directed edge copies —
    r = (M^-1 Σjk - [M^-1 Σ(j+k)/2]^2) / (M^-1 Σ(j^2+k^2)/2 - [...]^2)
    — needs only FOUR sums over (edge, endpoint-degree) pairs: two
    vertex-keyed degree joins onto the edge relation (the wedge-join
    shape every graph query here shares), then one combinable
    4-accumulator reduce. Every accumulator is an exact integer (the
    (j+k)/2 halves are cleared symbolically: the formula is
    restated over 2x sums so no fraction ever materializes); the one
    double division happens on the final row, rounded to 4.

    Reference basis: extension tier — graph family beside
    ``copurchase_pagerank`` / ``copurchase_hits`` (SURVEY.md §2
    extensions); reference has no graph surface."""
    (li,) = _t(spark, sf_dir, "lineitem")
    ue = _copurchase_edges_ck(spark, sf_dir, li)
    # the directed edge relation feeds THREE consumers (deg, the j
    # join, the k join): materialize the lineitem self-join once,
    # per the helper's contract (same move as pagerank/hits)
    edges = (
        ue.select(F.col("u").alias("s"), F.col("v").alias("t"))
        .unionAll(
            ue.select(F.col("v").alias("s"), F.col("u").alias("t"))
        )
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy("s").agg(F.count("*").alias("d"))
    es = edges.join(deg, "s").select(
        "t", F.col("d").alias("j")
    )
    pairs = es.join(
        deg.select(F.col("s").alias("t"), F.col("d").alias("k")), "t"
    )
    sums = pairs.agg(
        F.count("*").alias("m"),
        F.sum(F.col("j") * F.col("k")).alias("sjk"),
        F.sum(F.col("j") + F.col("k")).alias("sj"),
        F.sum(F.col("j") * F.col("j") + F.col("k") * F.col("k")).alias(
            "sj2"
        ),
    )
    num = (
        F.lit(1.0) * F.col("m") * F.col("sjk")
        - 0.25 * F.col("sj") * F.col("sj")
    )
    den = (
        0.5 * F.col("m") * F.col("sj2")
        - 0.25 * F.col("sj") * F.col("sj")
    )
    return sums.select(
        (F.col("m") / 2).cast("long").alias("n_edges"),
        F.col("sjk").alias("sum_jk"),
        norm0(F.round(num / den, 4)).alias("assortativity"),
    )


@register(
    "mutual_information_census",
    oracle="""
    WITH cells AS (
        SELECT o_orderpriority AS px, o_orderstatus AS sy,
               count(*) AS c
        FROM orders GROUP BY px, sy
    ), rx AS (SELECT px, CAST(sum(c) AS BIGINT) AS rx FROM cells GROUP BY px),
    cy AS (SELECT sy, CAST(sum(c) AS BIGINT) AS cy FROM cells GROUP BY sy),
    tot AS (
        SELECT CAST(sum(c) AS BIGINT) AS n,
               count(DISTINCT px) AS nr,
               count(DISTINCT sy) AS nc
        FROM cells
    ), terms AS (
        SELECT t.n, t.nr, t.nc, cl.c,
               (cl.c * 1.0 / t.n)
                   * ln(cl.c * CAST(t.n AS DOUBLE) / (r.rx * CAST(y.cy AS DOUBLE)))
                   AS mi_term,
               (cl.c - r.rx * CAST(y.cy AS DOUBLE) / t.n)
                   * (cl.c - r.rx * CAST(y.cy AS DOUBLE) / t.n)
                   / (r.rx * CAST(y.cy AS DOUBLE) / t.n) AS chi_term
        FROM cells cl
        JOIN rx r USING (px)
        JOIN cy y USING (sy)
        CROSS JOIN tot t
    )
    SELECT max(n) AS n_orders,
           count(*) AS n_cells,
           round(sum(mi_term), 6) + 0.0 AS mi_nats,
           round(sqrt(sum(chi_term)
                      / (max(n) * (least(max(nr), max(nc)) - 1.0))),
                 6) + 0.0 AS cramers_v
    FROM terms
    """,
)
def mutual_information_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-association census between order priority and
    order status: mutual information in nats plus Cramér's V off the
    same contingency table — the screening statistic for "are these
    two labels independent?" before building stratified samples or
    mixture weights on their cross (near-zero MI says the cross adds
    nothing over the margins).

    The contingency table, both margins, and the grand total are
    exact integer counts; MI = sum (c/n)*ln(c*n/(rx*cy)) and
    chi-square assemble in one mirrored float expression over the
    alphabet-sized cell set (|priorities| x |statuses| terms — the
    round-to-6 absorbs summation-order ulps, the entropy-census
    precedent).  Cramér's V = sqrt(chi2/(n*(min(r,c)-1))).  Margins
    ride broadcasts (label alphabets); nothing scales past the first
    count aggregation.

    Reference basis: extension tier — statistical-testing family
    beside ``chi2_distinctive_terms`` (SURVEY.md §2 extensions)."""
    orders = load_table(spark, sf_dir, "orders")
    cells = orders.groupBy(
        F.col("o_orderpriority").alias("px"),
        F.col("o_orderstatus").alias("sy"),
    ).agg(F.count("*").alias("c"))
    rx = cells.groupBy("px").agg(F.sum("c").alias("rx"))
    cy = cells.groupBy("sy").agg(F.sum("c").alias("cy"))
    tot = cells.agg(
        F.sum("c").alias("n"),
        F.count_distinct("px").alias("nr"),
        F.count_distinct("sy").alias("nc"),
    )
    joined = (
        cells.join(F.broadcast(rx), "px")
        .join(F.broadcast(cy), "sy")
        .crossJoin(F.broadcast(tot))
    )
    c = F.col("c").cast("double")
    n = F.col("n").cast("double")
    e = F.col("rx") * F.col("cy").cast("double") / n
    mi_term = (c / n) * F.log(c * n / (F.col("rx") * F.col("cy").cast("double")))
    chi_term = (c - e) * (c - e) / e
    agg = joined.agg(
        F.max("n").alias("n_orders"),
        F.count("*").alias("n_cells"),
        F.sum(mi_term).alias("smi"),
        F.sum(chi_term).alias("schi"),
        F.max("nr").alias("nr"),
        F.max("nc").alias("nc"),
    )
    v = F.sqrt(
        F.col("schi")
        / (
            F.col("n_orders")
            * (F.least(F.col("nr"), F.col("nc")) - F.lit(1.0))
        )
    )
    return agg.select(
        "n_orders",
        "n_cells",
        norm0(F.round("smi", 6)).alias("mi_nats"),
        norm0(F.round(v, 6)).alias("cramers_v"),
    )
