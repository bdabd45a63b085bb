"""TPC-H-shape analytics over the driver tables (round 3).

The reference's enrichment joins and summary aggregates (SURVEY §2.4/§2.5)
generalize to the classic decision-support shapes; each query here is the
standard TPC-H pattern re-keyed to the columns the driver tables actually
carry, with the physical plan called out: which side broadcasts, where the
one shuffle lands, what the top-k compiles to. Revenue sums round on both
engines so cross-engine float summation order can't flip a hash; q3, q7
and q10 round at the exact-decimal precision of price x discount (4dp),
because at 2dp an exact ``…50`` tie lands on either side depending on
summation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load_table
from . import register

_Q3_DATE = "1998-06-01"


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           o_orderdate
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '{_Q3_DATE} 00:00:00'
      AND l_shipdate > TIMESTAMP '{_Q3_DATE} 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 (shipping priority): segment-filtered customers join "
    "orders join lineitem with date pushdown on both fact scans, revenue "
    "aggregate, top-10. The segment filter prunes customers ~5x before "
    "the join (predicate reaches the scan); orderBy+limit compiles to "
    "TakeOrderedAndProject — per-partition top-k then a 10-row merge, "
    "never a global sort.",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    cut = F.lit(_Q3_DATE).cast(
        load_table(spark, sf_dir, "orders").schema["o_orderdate"].dataType.simpleString()
    )
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cut)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cut)
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "q4_late_shipments",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape (order-priority checking): orders with at least "
    "one lineitem shipped more than 60 days after the order date, "
    "counted per priority. The EXISTS compiles to a LEFT SEMI join on "
    "the order key — each order emits at most once no matter how many "
    "late lines it has — and the year predicate is pushed into the "
    "orders scan before the join.",
)
def q4_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    ts_type = orders.schema["o_orderdate"].dataType.simpleString()
    orders = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast(ts_type))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast(ts_type))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
    WITH lim AS (
      SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_lim
      FROM lineitem GROUP BY l_partkey
    )
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN lim ON lim.l_partkey = lineitem.l_partkey
    WHERE p_brand = 'Brand#23' AND l_quantity < qty_lim
    """,
    doc="TPC-H Q17 (small-quantity-order revenue): lineitems below 20% "
    "of their part's average quantity, for one brand. The correlated "
    "subquery is decorrelated into a per-part aggregate (one row per "
    "part, map-side combinable) that joins back on the part key — AQE "
    "broadcasts it when it fits, else both sides are already hashed on "
    "the same key so the shuffle is reused; the brand filter prunes "
    "parts before the join.",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#23"
    ).select("p_partkey")
    # only the filtered brand's limits are ever consulted, so the brand
    # filter is applied below the per-part average — cuts the limit
    # aggregate's shuffle by the brand selectivity (~25x)
    lim = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_partkey")
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_lim"))
        .withColumnRenamed("l_partkey", "lim_partkey")
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(lim, F.col("lim_partkey") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_lim"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "q8_market_share",
    oracle="""
    WITH rev AS (
      SELECT CAST(year(o_orderdate) AS INT) AS yr,
             round(sum(CASE WHEN n_name = 'NATION_3'
                            THEN l_extendedprice * (1 - l_discount)
                            ELSE 0 END), 2) AS nation_rev,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      GROUP BY 1
    )
    SELECT yr, nation_rev, total_rev,
           round(nation_rev / total_rev, 6) AS share
    FROM rev
    """,
    doc="TPC-H Q8 shape (national market share): one nation's share of "
    "revenue per order year. Supplier and nation broadcast (they are "
    "dims); lineitem-orders is the only real shuffle; the share divides "
    "the two ALREADY-ROUNDED sums so the ratio is deterministic "
    "cross-engine.",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    agg = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("yr"))
        .agg(
            F.round(
                F.sum(F.when(F.col("n_name") == "NATION_3", rev).otherwise(0.0)),
                2,
            ).alias("nation_rev"),
            F.round(F.sum(rev), 2).alias("total_rev"),
        )
    )
    return agg.select(
        "yr",
        "nation_rev",
        "total_rev",
        F.round(F.col("nation_rev") / F.col("total_rev"), 6).alias("share"),
    )


@register(
    "balance_histogram",
    oracle="""
    SELECT n_name,
           CAST(floor(c_acctbal / 500) AS INT) AS bal_bucket,
           count(*) AS n_customers,
           round(sum(c_acctbal), 2) AS bucket_balance
    FROM customer JOIN nation ON n_nationkey = c_nationkey
    GROUP BY n_name, bal_bucket
    """,
    doc="Fixed-width balance histogram per nation — the scale-safe "
    "alternative to ntile bucketing: bucket = floor(value/width) is a "
    "narrow map (no global sort, no single-partition window), then one "
    "hash aggregate; nation broadcasts.",
)
def balance_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        cust.join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy(
            "n_name",
            F.floor(F.col("c_acctbal") / 500).cast("int").alias("bal_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("bucket_balance"),
        )
    )


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.05
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 (forecasting revenue change): THE pushdown probe — "
    "three range predicates and a two-column projection against the "
    "widest fact, one partial-aggregated sum, no join, no shuffle "
    "beyond the single-row gather. Every predicate reaches the parquet "
    "scan (row-group min/max prune before any page decodes) and the "
    "ReadSchema carries exactly four columns.",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ts_type = li.schema["l_shipdate"].dataType.simpleString()
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast(ts_type))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast(ts_type))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.05)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 (returned-item reporting): one quarter of orders, "
    "lineitems returned, revenue lost per customer, top 20. The date "
    "range prunes orders AT THE SCAN and the returnflag prunes "
    "lineitem; nation broadcasts; the top-20 compiles to "
    "TakeOrderedAndProject so the full customer ranking is never "
    "materialized or globally sorted.",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders")
    ts_type = orders.schema["o_orderdate"].dataType.simpleString()
    orders = orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast(ts_type))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast(ts_type))
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Round 4: the remaining TPC-H shapes, re-keyed to the driver star schema
# (no partsupp / commit-receipt dates / shipmode / phone columns exist, so
# each query states its re-keying; the plan shapes — decorrelated min,
# scalar subquery broadcast, semi/anti joins, disjunctive pushdown — are
# the TPC-H ones).
# ---------------------------------------------------------------------------


@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             round(avg(l_extendedprice / l_quantity), 2) AS supply_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    eligible AS (
      SELECT c.l_partkey, c.supply_cost, s_name, s_acctbal, n_name
      FROM cost c
      JOIN part ON p_partkey = c.l_partkey
      JOIN supplier ON s_suppkey = c.l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      JOIN region ON r_regionkey = n_regionkey
      WHERE r_name = 'EUROPE'
        AND p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'
    ),
    best AS (
      SELECT l_partkey, min(supply_cost) AS min_cost
      FROM eligible GROUP BY l_partkey
    )
    SELECT s_acctbal, s_name, n_name, e.l_partkey AS p_partkey, e.supply_cost
    FROM eligible e
    JOIN best b ON e.l_partkey = b.l_partkey AND e.supply_cost = b.min_cost
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 10
    """,
    doc="TPC-H Q2 shape (minimum-cost supplier), re-keyed: the missing "
    "partsupp relation is derived from lineitem — supply cost is the "
    "2dp-rounded average unit price each supplier actually charged for "
    "the part. The correlated MIN subquery is decorrelated into a "
    "per-part aggregate joined back on (part, cost); part/supplier/"
    "nation/region all broadcast, so the only real shuffle is the "
    "(part, supplier) cost aggregate, and the part filter prunes before "
    "the min is ever computed. Top-10 compiles to TakeOrderedAndProject.",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_size") >= 10) & (F.col("p_size") <= 20)
            & (F.col("p_type") == "LARGE")
        )
        .select("p_partkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    dims = supp.join(
        F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey")
    ).join(F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey"))
    # the part filter commutes with the per-(part, supplier) aggregate
    # (it keys on part attributes only), so it is applied BELOW the
    # aggregation — Catalyst cannot push a join-filter through a groupBy
    # on its own, and at scale this cuts the cost-aggregate shuffle by
    # the part selectivity (~20x here)
    cost = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.round(
                F.avg(F.col("l_extendedprice") / F.col("l_quantity")), 2
            ).alias("supply_cost")
        )
    )
    eligible = cost.join(
        F.broadcast(dims), F.col("s_suppkey") == F.col("l_suppkey")
    )
    # the correlated MIN is a window over the part key, not a self-join:
    # eligible feeds one pass (the aggregate-then-rejoin form replays the
    # lineitem scan + cost aggregate on both sides).  Groups are bounded
    # by suppliers-per-part, so the partitioned window is skew-safe.
    per_part = Window.partitionBy("l_partkey")
    return (
        eligible.withColumn("min_cost", F.min("supply_cost").over(per_part))
        .filter(F.col("supply_cost") == F.col("min_cost"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            "supply_cost",
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(10)
    )


@register(
    "q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year, round(sum(volume), 4) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
          OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 (volume shipping): bilateral trade between two nations "
    "per ship year. Both nation lookups broadcast (aliased dims), the "
    "two-year range is pushed into the lineitem scan, and the "
    "disjunctive nation-pair predicate rides the broadcast joins — no "
    "shuffle carries a row from any other nation pair.",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ts_type = li.schema["l_shipdate"].dataType.simpleString()
    li = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast(ts_type))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast(ts_type))
    ).select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_12") & (F.col("cust_nation") == "NATION_10")
    ) | ((F.col("supp_nation") == "NATION_10") & (F.col("cust_nation") == "NATION_12"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q9_product_type_profit",
    oracle="""
    SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
    FROM (
      SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount)
               - 0.6 * p_retailprice * l_quantity AS amount
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN part ON p_partkey = l_partkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE p_name LIKE '%widget%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    doc="TPC-H Q9 shape (product-type profit), re-keyed: the missing "
    "ps_supplycost is proxied as 60% of the part's retail price, and "
    "the name filter selects the 'widget' product family. Part and "
    "supplier/nation broadcast after the LIKE prunes parts at the scan; "
    "lineitem-orders is the one real shuffle; profit per supplier "
    "nation per order year.",
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.6) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(amount), 2).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "q11_important_stock",
    oracle="""
    WITH val AS (
      SELECT l_partkey,
             CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(18,4))), 2) AS DOUBLE) AS part_value
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name = 'NATION_12'
      GROUP BY l_partkey
    )
    SELECT l_partkey, part_value
    FROM val
    WHERE part_value > (SELECT sum(part_value) * 0.001 FROM val)
    ORDER BY part_value DESC, l_partkey
    """,
    doc="TPC-H Q11 shape (important stock), re-keyed: per-part value is "
    "the revenue moved by one nation's suppliers (no partsupp), kept "
    "when it exceeds 0.1% of that nation's total — the HAVING-over-"
    "global-total shape. The total is a one-row aggregate of the "
    "ALREADY-COMPUTED per-part values broadcast back over them "
    "(the value aggregate is computed once and reused, not re-derived), "
    "so the scalar threshold costs one extra tiny stage, not a second "
    "pass over lineitem.",
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_12"
    ).select("n_nationkey")
    val = (
        li.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("l_partkey")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("part_value")
        )
    )
    total = val.agg((F.sum("part_value") * 0.001).alias("threshold"))
    return (
        val.join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), "l_partkey")
    )


@register(
    "q12_late_priority_counts",
    oracle="""
    SELECT ship_class,
           count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS high_line_count,
           count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS low_line_count
    FROM (
      SELECT o_orderpriority,
             CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                  THEN 'LATE' ELSE 'ONTIME' END AS ship_class
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) classed
    GROUP BY ship_class
    ORDER BY ship_class
    """,
    doc="TPC-H Q12 shape (shipping modes and order priority), re-keyed: "
    "no l_shipmode column exists, so lines classify by lateness "
    "(shipped >60 days after ordering) and the classic conditional "
    "count pair — urgent/high vs rest — lands per class. One join, one "
    "two-row aggregate; the year predicate prunes the lineitem scan.",
)
def q12_late_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ts_type = li.schema["l_shipdate"].dataType.simpleString()
    li = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast(ts_type))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast(ts_type))
    ).select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn(
            "ship_class",
            F.when(
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
                "LATE",
            ).otherwise("ONTIME"),
        )
        .groupBy("ship_class")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


@register(
    "q13_customer_distribution",
    oracle="""
    WITH c_orders AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                      AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13 (customer distribution): how many customers placed "
    "how many orders, counting only non-urgent orders (the comment "
    "LIKE exclusion re-keyed to a priority class). The LEFT join keeps "
    "zero-order customers with c_count=0 (count of a NULL key is 0); "
    "two cascaded aggregates, the second over at most a few dozen "
    "distinct counts — the shuffle shrinks by orders of magnitude at "
    "each step.",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_orderkey", "o_custkey")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q14_promo_revenue",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    """,
    doc="TPC-H Q14 (promotion effect): percentage of one month's "
    "revenue from PROMO-type parts. Part broadcasts; the month "
    "predicate prunes the fact scan to ~1/36 of rows before the join; "
    "one single-row aggregate, ratio of the two sums rounded at 4dp "
    "(relative float error ~1e-15 cannot reach the rounding boundary).",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ts_type = li.schema["l_shipdate"].dataType.simpleString()
    li = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast(ts_type))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast(ts_type))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_pct")
        )
    )


@register(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q15 (top supplier): the quarter's revenue per supplier, "
    "keeping the one(s) that hit the maximum — the scalar-MAX-subquery "
    "shape. The revenue view is computed ONCE and reused for both the "
    "max and the final filter (no second lineitem pass); the one-row "
    "max broadcasts back over the per-supplier rows. Per-row products "
    "are cast to exact DECIMAL before summing so the equality-vs-max "
    "compare cannot be perturbed by float summation order.",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ts_type = li.schema["l_shipdate"].dataType.simpleString()
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast(ts_type))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast(ts_type))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("total_revenue")
        )
    )
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q16_part_supplier_counts",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 shape (parts/supplier relationship), re-keyed: the "
    "part-supplier pairs come from lineitem, the excluded-supplier "
    "subquery (complaints in TPC-H) keys on negative account balance. "
    "The exclusion compiles to a broadcast LEFT ANTI join (tiny "
    "supplier side), part broadcasts after brand/type/size prune at "
    "the scan, and COUNT(DISTINCT) expands to a two-phase aggregate — "
    "partial distinct per partition, then merge — no row explosion.",
)
def q16_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad_supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(
            F.broadcast(bad_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "q18_large_volume_customers",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           round(sum(l_quantity), 2) AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > 300
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 100
    """,
    doc="TPC-H Q18 (large-volume customers): orders whose total "
    "quantity tops 300 units, with their customers. The HAVING "
    "subquery's per-order aggregate IS the output's total_qty, so it is "
    "computed once — one lineitem scan, one shuffle on the order key — "
    "and the >300 survivors (a tiny fraction of orders) join straight "
    "to orders/customer instead of semi-joining then re-aggregating the "
    "fact table; top-100 compiles to TakeOrderedAndProject.",
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 300)
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round(F.col("qty"), 2).alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


@register(
    "q19_discounted_revenue",
    oracle="""
    SELECT CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 (discounted revenue): the classic disjunctive "
    "predicate — three (brand, size, quantity) branches OR-ed together. "
    "The join stays a plain equi-join on the part key with the "
    "disjunction applied after the broadcast; Catalyst additionally "
    "extracts the common quantity envelope (1..30) as a pushable "
    "conjunct so the fact scan prunes before the join.",
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    qty = F.col("l_quantity")
    branch = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & qty.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & qty.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & qty.between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .filter(branch)
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "q20_part_promotion",
    oracle="""
    SELECT s_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_12'
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_type = 'PROMO'
          AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_suppkey, l_partkey
        HAVING sum(l_quantity) > 40
      )
    ORDER BY s_name
    """,
    doc="TPC-H Q20 shape (potential part promotion), re-keyed: "
    "suppliers of one nation who moved more than 40 units of some "
    "PROMO part in a year (the partsupp availability check proxied by "
    "shipped volume). The inner query aggregates on (supplier, part) "
    "then projects the supplier key; the IN compiles to LEFT SEMI with "
    "the aggregated side broadcast — the 100-row supplier dim never "
    "shuffles.",
)
def q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ts_type = li.schema["l_shipdate"].dataType.simpleString()
    li = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast(ts_type))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast(ts_type))
    ).select("l_suppkey", "l_partkey", "l_quantity")
    promo = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    movers = (
        li.join(F.broadcast(promo), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 40)
        .select("l_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_12"
    ).select("n_nationkey")
    return (
        supp.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(movers, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


@register(
    "q21_late_sole_suppliers",
    oracle="""
    WITH f_orders AS (
      SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'
    ),
    lates AS (
      SELECT DISTINCT l_orderkey, l_suppkey
      FROM lineitem JOIN f_orders ON l_orderkey = o_orderkey
      WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    ),
    alls AS (
      SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_all
      FROM lineitem JOIN f_orders ON l_orderkey = o_orderkey
      GROUP BY l_orderkey
    ),
    latec AS (
      SELECT l_orderkey, count(*) AS n_late FROM lates GROUP BY l_orderkey
    )
    SELECT s_name, count(*) AS numwait
    FROM lates
    JOIN alls USING (l_orderkey)
    JOIN latec USING (l_orderkey)
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE n_all > 1 AND n_late = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    doc="TPC-H Q21 (suppliers who kept orders waiting), re-keyed: "
    "lateness is shipping >60 days after the order date (no commit/"
    "receipt dates exist). The EXISTS/NOT-EXISTS pair is decorrelated "
    "into ONE pass over lineitem: per-(order, supplier) late flags "
    "(first shuffle, distinct-supplier grain), then per-order counts "
    "n_all / n_late plus the sole late supplier's key in the SAME "
    "aggregate (second shuffle) — an order blames supplier S when S is "
    "its only late supplier and other suppliers exist. The fact table "
    "is scanned and joined exactly once (the naive EXISTS/NOT-EXISTS "
    "form replays the lineitem-orders join three times); supplier "
    "names broadcast onto a per-order-sized table.",
)
def q21_late_sole_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    per_supp = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                (
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
                ).cast("int")
            ).alias("late")
        )
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum("late").alias("n_late"),
        F.max(F.when(F.col("late") == 1, F.col("l_suppkey"))).alias("late_supp"),
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_order.filter((F.col("n_all") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("late_supp"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@register(
    "q22_idle_rich_customers",
    oracle="""
    SELECT c_nationkey, count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT round(avg(c_acctbal), 2) FROM customer
                       WHERE c_acctbal > 0)
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      )
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
    doc="TPC-H Q22 shape (global sales opportunity), re-keyed: "
    "above-average-balance customers with no RECENT orders (every "
    "customer has some order in this data; the phone-prefix filter has "
    "no column). The scalar average (rounded to 2dp so the threshold "
    "is engine-exact) broadcasts over the customer scan; the NOT "
    "EXISTS compiles to LEFT ANTI against date-pruned orders hashed on "
    "the customer key.",
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.round(F.avg("c_acctbal"), 2).alias("avg_bal")
    )
    orders = load_table(spark, sf_dir, "orders")
    ts_type = orders.schema["o_orderdate"].dataType.simpleString()
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast(ts_type)
    ).select("o_custkey")
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )
