"""Relational core of the suite (SURVEY.md §2.2-2.4, §2.6-2.7).

Each query re-expresses a reference operator shape on the synthetic star
schema. Reference citations are to /root/reference/.

Scale notes apply to every query here: fact tables (orders, lineitem,
events) are never broadcast; aggregation happens *before* joining tiny
dimensions wherever semantics allow (partial map-side agg shrinks the
shuffle); dimensions (region, nation) are explicitly broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from seng550_a3_etl_spark.catalog import load_tables
from seng550_a3_etl_spark.suite.registry import query

# --------------------------------------------------------------------------
# Flagship: zero-preserving grouped counts over LEFT joins.
# Reference: accidents-per-district — LEFT spatial join + COUNT(ti.*)
# (queries.py:69-77, viz.py:91-95); the COUNT of a right-side column (not
# COUNT(*)) preserves count=0 for unmatched dimension rows (SURVEY §2.4 A1).
# --------------------------------------------------------------------------


@query(
    "nation_order_counts",
    oracle="""
    SELECT n.n_name,
           COUNT(o.o_orderkey) AS order_count,
           COUNT(DISTINCT c.c_custkey) AS customer_count
    FROM nation n
    LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY n.n_name
    """,
)
def nation_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders + customers per nation, nations with zero preserved.

    Scale plan: instead of LEFT-joining the tiny preserved side against two
    fact tables (which would force the big tables through the join before
    any reduction), pre-aggregate each fact to per-nation partials — the
    shuffle then carries ≤25 rows per fact — and LEFT-join the aggregates
    onto the broadcast-sized dimension, coalescing absent groups to 0.
    """
    t = load_tables(spark, sf_dir)
    cust = t.customer.select("c_custkey", "c_nationkey")
    cust_per_nation = cust.groupBy("c_nationkey").agg(
        F.count_distinct("c_custkey").alias("customer_count")
    )
    orders_per_nation = (
        t.orders.select("o_custkey", "o_orderkey")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"), "inner")
        .groupBy("c_nationkey")
        .agg(F.count("o_orderkey").alias("order_count"))
    )
    return (
        t.nation.select("n_nationkey", "n_name")
        .join(
            cust_per_nation,
            F.col("n_nationkey") == cust_per_nation.c_nationkey,
            "left",
        )
        .drop("c_nationkey")
        .join(
            orders_per_nation,
            F.col("n_nationkey") == orders_per_nation.c_nationkey,
            "left",
        )
        .select(
            "n_name",
            F.coalesce("order_count", F.lit(0)).alias("order_count"),
            F.coalesce("customer_count", F.lit(0)).alias("customer_count"),
        )
    )


# --------------------------------------------------------------------------
# Grouped aggregation sweep (A1-A9 analogs) — TPC-H Q1 shape.
# --------------------------------------------------------------------------


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(AVG(l_quantity), 6) AS avg_qty,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure scan→filter→hash-agg; the filter and the 6-column projection
    both push into the Parquet scan (PushedFilters / ReadSchema), and the
    agg is partial+final with only |groups| rows shuffled."""
    t = load_tables(spark, sf_dir)
    return (
        t.lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "daily_event_stats",
    oracle="""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           ROUND(SUM(value), 4) AS total_value
    FROM events
    GROUP BY 1
    """,
)
def daily_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day event rollup — the reference's accidents-per-day with
    carried weather attributes (A2, queries.py:81-91) keyed on a cast
    date (F5/F9, queries.py:88). Dates are emitted as ISO strings so the
    oracle comparison is representation-stable."""
    t = load_tables(spark, sf_dir)
    return (
        t.events.groupBy(
            F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("event_date")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


@query(
    "scalar_stats",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           ROUND(MIN(l_extendedprice), 2) AS min_price,
           ROUND(MAX(l_extendedprice), 2) AS max_price,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(CAST(MEDIAN(l_extendedprice) AS DOUBLE), 4) AS median_price
    FROM lineitem
    """,
)
def scalar_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar count/min/max/mean/median (A5-A9; viz.py:141-142,228-229,
    313-316). Median is exact here; percentile_approx is the 100 TB path
    (single-pass sketch, no global sort)."""
    t = load_tables(spark, sf_dir)
    return t.lineitem.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.median("l_extendedprice"), 4).alias("median_price"),
    )


_APPROX_ACCURACY = 10000
_HLL_RSD = 0.05  # approx_count_distinct default relative standard deviation


def approx_scalar_sketch(lineitem: DataFrame) -> DataFrame:
    """The pure single-pass sketch aggregate — A8's 100 TB path.

    ``percentile_approx`` (Greenwald-Khanna summary, rank error ≤
    n/accuracy, O(accuracy) state per partition — partial aggregates
    merge map-side, so one scan and one O(sketch) final merge replace
    funneling every value through a single exact aggregation buffer) and
    ``approx_count_distinct`` (HLL++, O(KB) state vs a full distinct
    shuffle). tests/test_physical.py pins this plan to one scan + one
    exchange; tests/test_new_ops.py pins the rank-error bound.
    """
    return lineitem.agg(
        F.percentile_approx(
            "l_extendedprice",
            F.array(F.lit(0.5), F.lit(0.95)),
            _APPROX_ACCURACY,
        ).alias("qs"),
        F.approx_count_distinct("l_partkey", _HLL_RSD).alias("apx_distinct"),
    )


@query(
    "scalar_stats_approx",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(1 AS BIGINT) AS median_rank_ok,
           CAST(1 AS BIGINT) AS p95_rank_ok,
           CAST(1 AS BIGINT) AS distinct_rsd_ok
    FROM lineitem
    """,
)
def scalar_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8's scale path, made driver-checkable: instead of emitting the
    engine-specific sketch estimates (GK summary / HLL++ values differ
    across engines, so DuckDB can't oracle them), verify the sketch's
    own error contract IN-QUERY and emit deterministic booleans.

    The 1-row sketch result is broadcast back over the table; one more
    aggregate counts rows strictly below / at-or-below each returned
    quantile value, and the GK guarantee — the returned value's rank
    lies within n/accuracy of the target rank — becomes a 1/0 flag. The
    HLL++ estimate is checked against the exact distinct count at 3×
    the configured relative standard deviation. All flags are
    deterministic for a fixed dataset, so ``SELECT 1...`` oracles them.
    `scalar_stats` keeps the exact median as the value-level baseline;
    ``approx_scalar_sketch`` above is the plan a cluster actually runs.
    """
    t = load_tables(spark, sf_dir)
    price = F.col("l_extendedprice")
    med, p95 = F.col("qs")[0], F.col("qs")[1]
    counted = (
        t.lineitem.crossJoin(F.broadcast(approx_scalar_sketch(t.lineitem)))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(price < med, 1)).alias("med_below"),
            F.count(F.when(price <= med, 1)).alias("med_at_or_below"),
            F.count(F.when(price < p95, 1)).alias("p95_below"),
            F.count(F.when(price <= p95, 1)).alias("p95_at_or_below"),
            F.count_distinct("l_partkey").alias("exact_distinct"),
            F.first("apx_distinct").alias("apx_distinct"),
        )
    )
    n = F.col("n_rows")
    # GK guarantees rank error ≤ n/accuracy, but value→rank conversion
    # (ties, rank-index convention) carries an inherent ±1-rank
    # discretization, so the bound needs a one-rank floor — without it
    # any n < accuracy makes the tolerance sub-rank (n=6000 → 0.6) and
    # an exactly-correct answer can fail the check.
    tol = F.greatest(F.lit(1.0), n / F.lit(float(_APPROX_ACCURACY)))

    def rank_ok(below: str, at_or_below: str, q: float):
        target = F.lit(q) * n
        return (
            (F.col(below) <= target + tol)
            & (F.col(at_or_below) >= target - tol)
        ).cast("long")

    return counted.select(
        n,
        rank_ok("med_below", "med_at_or_below", 0.5).alias("median_rank_ok"),
        rank_ok("p95_below", "p95_at_or_below", 0.95).alias("p95_rank_ok"),
        (
            F.abs(F.col("apx_distinct") - F.col("exact_distinct"))
            <= F.lit(3.0 * _HLL_RSD) * F.col("exact_distinct")
        ).cast("long").alias("distinct_rsd_ok"),
    )


# --------------------------------------------------------------------------
# Filters / projections (P1-P10).
# --------------------------------------------------------------------------


@query(
    "filter_suite",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag,
           ROUND(l_extendedprice, 2) AS price
    FROM lineitem
    WHERE l_shipdate BETWEEN TIMESTAMP '1994-01-01' AND TIMESTAMP '1996-12-31'
      AND l_returnflag IN ('A', 'R')
      AND l_quantity > 30
      AND l_discount IS NOT NULL
    """,
)
def filter_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive predicate composition: null-rejecting + BETWEEN + IN +
    comparison (P3-P8; queries.py:149, viz.py:200-219). All four predicates
    push down into the Parquet scan as one conjunction."""
    t = load_tables(spark, sf_dir)
    return (
        t.lineitem.filter(
            F.col("l_shipdate").between(
                F.lit("1994-01-01").cast("timestamp"),
                F.lit("1996-12-31").cast("timestamp"),
            )
            & F.col("l_returnflag").isin("A", "R")
            & (F.col("l_quantity") > 30)
            & F.col("l_discount").isNotNull()
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            F.round("l_extendedprice", 2).alias("price"),
        )
    )


@query(
    "distinct_domain",
    oracle="""
    SELECT DISTINCT c_mktsegment
    FROM customer
    WHERE c_mktsegment IS NOT NULL
    ORDER BY c_mktsegment
    """,
)
def distinct_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted distinct scalar domain for a filter widget (P10/O4,
    viz.py:152). distinct() is a partial-agg shuffle of unique values only."""
    t = load_tables(spark, sf_dir)
    c = F.col("c_mktsegment")
    return (
        t.customer.select(c).where(c.isNotNull()).distinct().orderBy(c)
    )


# --------------------------------------------------------------------------
# Joins (J3-J5 + the join types the reference doesn't use but a complete
# engine must expose: inner / semi / anti — SURVEY §2.3 closing note).
# --------------------------------------------------------------------------


@query(
    "customer_order_join",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           ROUND(o.o_totalprice, 2) AS total_price
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE o.o_orderstatus = 'F'
    """,
)
def customer_order_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join with a pushed-down filter on the fact side. At scale
    this is a shuffle hash / sort-merge join on c_custkey; the status filter
    reaches the orders scan first."""
    t = load_tables(spark, sf_dir)
    return (
        t.orders.filter(F.col("o_orderstatus") == "F")
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"), "inner")
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
        )
    )


@query(
    "date_key_join",
    oracle="""
    WITH daily_ship AS (
      SELECT CAST(l_shipdate AS DATE) AS ship_date,
             ROUND(SUM(l_quantity), 2) AS day_ship_qty
      FROM lineitem GROUP BY CAST(l_shipdate AS DATE)
    )
    SELECT o.o_orderkey,
           strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
           COALESCE(d.day_ship_qty, 0.0) AS day_ship_qty
    FROM orders o
    LEFT JOIN daily_ship d ON d.ship_date = CAST(o.o_orderdate AS DATE)
    """,
)
def date_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal LEFT equi-join on a cast date key — the reference's
    accident⟕weather join (J3, queries.py:60-61: `w.date = ti.start_dt::date`),
    null-filled when no match (P9, viz.py:238).

    Scale plan: the right side is pre-aggregated to one row per day, so
    Catalyst broadcast-joins it; the preserved fact side never shuffles.
    """
    t = load_tables(spark, sf_dir)
    daily_ship = (
        t.lineitem.groupBy(F.col("l_shipdate").cast("date").alias("ship_date"))
        .agg(F.round(F.sum("l_quantity"), 2).alias("day_ship_qty"))
    )
    return (
        t.orders.select(
            "o_orderkey", F.col("o_orderdate").cast("date").alias("order_date")
        )
        .join(
            F.broadcast(daily_ship),
            F.col("order_date") == F.col("ship_date"),
            "left",
        )
        .select(
            "o_orderkey",
            F.date_format("order_date", "yyyy-MM-dd").alias("order_date"),
            F.coalesce("day_ship_qty", F.lit(0.0)).alias("day_ship_qty"),
        )
    )


@query(
    "customers_with_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (existence probe, P11-shaped as a join). Shuffles only
    distinct keys of the right side; no row multiplication."""
    t = load_tables(spark, sf_dir)
    return t.customer.join(
        t.orders, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join — the complement probe."""
    t = load_tables(spark, sf_dir)
    return t.customer.join(
        t.orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "region_revenue",
    oracle="""
    SELECT r.r_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(*) AS n_lineitems
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY r.r_name
    """,
)
def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way join chain ending in a grouped agg (the reference's 3-way
    matview join shape, etl.py:259-276, scaled up one level).

    Scale plan: the two fact-fact joins (lineitem⋈orders on orderkey,
    then ⋈customer on custkey) are shuffle joins on their keys; region and
    nation are broadcast. Revenue is aggregated per nationkey *before*
    the broadcast dims attach, so the final join carries ≤|nations| rows.
    """
    t = load_tables(spark, sf_dir)
    rev_per_nation = (
        t.lineitem.select(
            "l_orderkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        )
        .join(t.orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t.customer.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(F.sum("rev").alias("rev"), F.count(F.lit(1)).alias("n_lineitems"))
    )
    dims = F.broadcast(
        t.nation.join(t.region, F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "r_name")
    )
    return (
        rev_per_nation.join(dims, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("r_name")
        .agg(
            F.round(F.sum("rev"), 2).alias("revenue"),
            F.sum("n_lineitems").alias("n_lineitems"),
        )
    )


# --------------------------------------------------------------------------
# Sorts / top-k / windows (O1-O4, W1 shape).
# --------------------------------------------------------------------------


@query(
    "top_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS total_price
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1-per-group — the reference's DISTINCT ON / ORDER BY...LIMIT 1
    pattern (W1/O2/O3, queries.py:133,150,188-189) as a row_number window.
    Deterministic tiebreak on o_orderkey. One shuffle on the partition key."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        t.orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
        )
    )


@query(
    "running_customer_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS running_revenue,
           RANK() OVER (
             PARTITION BY o_custkey ORDER BY o_totalprice DESC
           ) AS price_rank
    FROM orders
    """,
)
def running_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate + rank windows (beyond-reference window surface;
    SURVEY §2.6 notes the engine exposes these as natural extensions)."""
    t = load_tables(spark, sf_dir)
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_rank = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    return t.orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w_run), 2).alias("running_revenue"),
        F.rank().over(w_rank).alias("price_rank"),
    )


# --------------------------------------------------------------------------
# Grouping sets / set operations (SURVEY §2.4/§2.6 "free in Spark" surface).
# --------------------------------------------------------------------------


@query(
    "order_status_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def order_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (subtotals + grand total) — one pass, grouping
    sets expanded by Catalyst, still partial+final aggregated."""
    t = load_tables(spark, sf_dir)
    return t.orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@query(
    "segment_setops",
    oracle="""
    SELECT 'building_with_orders' AS tag, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT DISTINCT o_custkey AS c_custkey FROM orders
    )
    UNION ALL
    SELECT 'machinery_no_orders' AS tag, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
      EXCEPT
      SELECT DISTINCT o_custkey AS c_custkey FROM orders
    )
    """,
)
def segment_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL / INTERSECT / EXCEPT — absent from the reference (its
    closest analog is pandas mask composition, viz.py:200-219) but part of
    a complete engine surface."""
    t = load_tables(spark, sf_dir)
    order_keys = t.orders.select(F.col("o_custkey").alias("c_custkey")).distinct()
    building = t.customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey"
    )
    machinery = t.customer.filter(F.col("c_mktsegment") == "MACHINERY").select(
        "c_custkey"
    )
    return (
        building.intersect(order_keys)
        .select(F.lit("building_with_orders").alias("tag"), "c_custkey")
        .unionAll(
            machinery.exceptAll(order_keys)
            .select(F.lit("machinery_no_orders").alias("tag"), "c_custkey")
        )
    )


# --------------------------------------------------------------------------
# JSON scalar functions (F8; events.props per SURVEY §2.7 closing note).
# --------------------------------------------------------------------------


@query(
    "json_extract_events",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
    """,
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from a string column — the inverse of the
    reference's json.dumps flattening (F8, etl.py:148-155)."""
    t = load_tables(spark, sf_dir)
    k = F.get_json_object("props", "$.k")
    return (
        t.events.select("event_id", k.cast("bigint").alias("k_val"))
        .filter(k.isNotNull())
    )


@query(
    "status_priority_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def status_priority_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube (every grouping-set combination) — completes the
    rollup/cube pair SURVEY §2.4 lists as the engine's free extension
    over the reference's plain GROUP BY."""
    t = load_tables(spark, sf_dir)
    return t.orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@query(
    "distinct_users_per_type",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate, written skew-safe: COUNT(DISTINCT user) over a
    hot grouping key shuffles every row of that key to one reducer; the
    two-phase form — distinct on (key, user) first (shuffle spread over
    the full pair domain), then count per key — is the salting pattern
    for distinct aggregation. Results identical to the naive form; only
    the shuffle key changes. n_events rides along via a separate plain
    aggregate (one extra shuffle of pre-combined partials)."""
    t = load_tables(spark, sf_dir)
    pairs = t.events.select("event_type", "user_id").distinct()
    users = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    events = t.events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return users.join(events, "event_type")


@query(
    "salted_segment_revenue",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def salted_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-spread join: the fact side's key is salted across 8 reducer
    slices and the dim side replicated per salt (operators/skew.py), so
    one hot customer key can no longer pin a single reducer — the manual
    counterpart of AQE skew-join for hash-join/pre-partitioned cases.
    The join result is provably the plain join, so the oracle is the
    unsalted SQL."""
    from seng550_a3_etl_spark.operators.skew import salted_join

    t = load_tables(spark, sf_dir)
    joined = salted_join(
        t.orders.select("o_custkey", "o_totalprice"),
        t.customer.select("c_custkey", "c_mktsegment"),
        ["o_custkey"],
        ["c_custkey"],
        n_salt=8,
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@query(
    "order_priority_pivot",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_partial
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def order_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): order counts per priority, one column per
    status — the dashboard cross-tab shape the reference builds
    client-side in pandas (viz.py:234-238 analog).

    Scale: the pivot values are passed EXPLICITLY — without them Spark
    runs an extra distinct-collection job over the full table to
    discover columns. With fixed values this is one partial+final hash
    agg (|groups|×|values| cells shuffled), same cost as the groupBy.
    """
    t = load_tables(spark, sf_dir)
    out = (
        t.orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
    )
    return out.select(
        "o_orderpriority",
        F.coalesce("O", F.lit(0)).alias("n_open"),
        F.coalesce("F", F.lit(0)).alias("n_filled"),
        F.coalesce("P", F.lit(0)).alias("n_partial"),
    )


@query(
    "price_tier_orders",
    oracle="""
    WITH tiers(tier, lo, hi) AS (VALUES
      ('budget', 0.0, 75000.0),
      ('mid', 75000.0, 200000.0),
      ('premium', 200000.0, 1000000000.0))
    SELECT t.tier,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS tier_revenue
    FROM orders o
    JOIN tiers t ON o.o_totalprice >= t.lo AND o.o_totalprice < t.hi
    GROUP BY t.tier
    """,
)
def price_tier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: bucket each order into a price tier by a
    non-equi [lo, hi) predicate — the banding join the reference's
    dead-code lateral join gestures at (queries.py:176-190), on a
    numeric axis.

    Scale: the tier table is tiny and broadcast, so this is a
    BroadcastNestedLoopJoin — each fact row tests |tiers| intervals
    with zero shuffle of the fact side. With a large band table the
    plan would switch to bucketing facts by a computed band key first
    (equi-join on the key); for a handful of tiers the direct theta
    join is strictly cheaper.
    """
    t = load_tables(spark, sf_dir)
    tiers = spark.createDataFrame(
        [
            ("budget", 0.0, 75_000.0),
            ("mid", 75_000.0, 200_000.0),
            ("premium", 200_000.0, 1_000_000_000.0),
        ],
        "tier string, lo double, hi double",
    )
    joined = t.orders.join(
        F.broadcast(tiers),
        (F.col("o_totalprice") >= F.col("lo"))
        & (F.col("o_totalprice") < F.col("hi")),
    )
    return joined.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("tier_revenue"),
    )


@query(
    "status_priority_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def status_priority_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form under cube/rollup —
    SURVEY §2.4's grouping-set family completed) with the grouping_id
    disambiguator for NULL-vs-grouped-out. Catalyst expands the sets
    into one Expand + a single partial+final hash aggregate — one
    shuffle for all three groupings, not one per set."""
    t = load_tables(spark, sf_dir)
    return (
        t.orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@query(
    "lineitem_profile",
    oracle="""
    WITH s AS (
      SELECT
        SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS nn_q,
        COUNT(DISTINCT l_quantity) AS nd_q,
        CAST(MIN(l_quantity) AS VARCHAR) AS mn_q,
        CAST(MAX(l_quantity) AS VARCHAR) AS mx_q,
        SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS nn_r,
        COUNT(DISTINCT l_returnflag) AS nd_r,
        MIN(l_returnflag) AS mn_r, MAX(l_returnflag) AS mx_r,
        SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS nn_s,
        COUNT(DISTINCT l_shipdate) AS nd_s,
        strftime(CAST(MIN(l_shipdate) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS mn_s,
        strftime(CAST(MAX(l_shipdate) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS mx_s
      FROM lineitem)
    SELECT 'l_quantity' AS column_name, CAST(nn_q AS BIGINT) AS n_nulls,
           CAST(nd_q AS BIGINT) AS n_distinct, mn_q AS min_s, mx_q AS max_s
    FROM s
    UNION ALL
    SELECT 'l_returnflag', CAST(nn_r AS BIGINT), CAST(nd_r AS BIGINT), mn_r, mx_r
    FROM s
    UNION ALL
    SELECT 'l_shipdate', CAST(nn_s AS BIGINT), CAST(nd_s AS BIGINT), mn_s, mx_s
    FROM s
    """,
)
def lineitem_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile (nulls / distincts / min / max per column) — the
    ANALYZE-style data-quality scan run on every new data drop. One
    pruned-scan aggregate per column, unioned: on a columnar store that
    reads the same bytes as a fused single scan while avoiding the
    multi-count-distinct Expand (see operators/profile.py). The oracle
    recomputes each statistic independently."""
    from seng550_a3_etl_spark.operators.profile import profile_columns

    t = load_tables(spark, sf_dir)
    return profile_columns(
        t.lineitem, ["l_quantity", "l_returnflag", "l_shipdate"]
    )


@query(
    "incremental_nation_revenue",
    oracle="""
    SELECT c_nationkey,
           ROUND(SUM(o_totalprice), 2) AS revenue,
           COUNT(*) AS n_orders,
           CAST(MIN(o_orderkey) AS BIGINT) AS first_order,
           CAST(MAX(o_orderkey) AS BIGINT) AS last_order
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
)
def incremental_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the per-nation rollup is
    computed as two independent slice aggregates (orders split by a
    hash of the key — standing in for 'history' and 'today's
    partition') folded with plans.gold.merge_aggregates. The oracle is
    the plain full aggregate, so the algebraic merge is verified to be
    exactly recompute-equivalent — the property that lets a 100 TB gold
    rollup update at the cost of the new slice only."""
    from seng550_a3_etl_spark.functions.hashing import hash64
    from seng550_a3_etl_spark.plans.gold import merge_aggregates

    t = load_tables(spark, sf_dir)
    joined = t.orders.join(
        F.broadcast(t.customer.select("c_custkey", "c_nationkey")),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select("c_nationkey", "o_totalprice", "o_orderkey")
    is_new = hash64(F.col("o_orderkey").cast("string")) % 4 == 0

    def slice_agg(df: DataFrame) -> DataFrame:
        return df.groupBy("c_nationkey").agg(
            F.sum("o_totalprice").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_orderkey").alias("first_order"),
            F.max("o_orderkey").alias("last_order"),
        )

    merged = merge_aggregates(
        slice_agg(joined.filter(~is_new)),
        slice_agg(joined.filter(is_new)),
        keys=["c_nationkey"],
        sum_cols=["revenue"],
        count_cols=["n_orders"],
        min_cols=["first_order"],
        max_cols=["last_order"],
    )
    return merged.select(
        "c_nationkey",
        F.round("revenue", 2).alias("revenue"),
        "n_orders",
        "first_order",
        "last_order",
    )


_SQL_CORRELATED = """
    SELECT o_orderkey, o_custkey,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
    FROM {orders} o
    WHERE CAST(ROUND(o_totalprice * 100) AS BIGINT) > (
      SELECT 1.5 * AVG(CAST(ROUND(o2.o_totalprice * 100) AS BIGINT))
      FROM {orders} o2 WHERE o2.o_custkey = o.o_custkey
    )
"""


@query(
    "sql_correlated_orders",
    oracle=_SQL_CORRELATED.format(orders="orders"),
)
def sql_correlated_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface parity check (X95): the IDENTICAL ANSI SQL text runs
    through ``spark.sql`` on a registered view and through the DuckDB
    oracle — proving the engine's second query API (SQL, not just the
    DataFrame DSL) end-to-end, and exercising a rewrite the DataFrame
    suite hand-builds (X44): a correlated scalar subquery ("orders
    priced >1.5x their customer's average") that CATALYST must
    decorrelate into an aggregate + join on its own. Cents-exact
    threshold: the inner AVG is an exact integer sum divided once, so
    the comparison is deterministic cross-engine.

    Scale: after decorrelation the plan is one per-customer aggregate
    shuffled on the join key plus one equi-join back to the fact —
    same shape as the hand-decorrelated X44; no per-row subquery
    execution survives (plan-checked: no CartesianProduct, one
    aggregate + one join)."""
    t = load_tables(spark, sf_dir)
    t.orders.createOrReplaceTempView("orders_v")
    return spark.sql(_SQL_CORRELATED.format(orders="orders_v"))


_Q3_SEGMENT = "BUILDING"
_Q3_CUTOFF = "1998-06-01"


@query(
    "shipping_priority_topn",
    oracle=f"""
    SELECT l.l_orderkey AS orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority AS orderpriority,
           CAST(SUM(CAST(ROUND(
             l.l_extendedprice * (1 - l.l_discount) * 100
           ) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = '{_Q3_SEGMENT}'
      AND o.o_orderdate < TIMESTAMP '{_Q3_CUTOFF}'
      AND l.l_shipdate > TIMESTAMP '{_Q3_CUTOFF}'
    GROUP BY 1, 2, 3
    ORDER BY revenue_cents DESC, orderdate, orderkey
    LIMIT 10
    """,
)
def shipping_priority_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (X187): the 10 highest-revenue orders from one
    market segment that were booked before the cutoff but have line
    items still shipping after it — the classic 3-way
    filter→join→agg→top-N every warehouse benchmarks. Revenue is
    summed in INTEGER CENTS (per-row round of extprice·(1−discount),
    the X137/benford recipe), so the ranking and the hash are
    bit-exact cross-engine; the top-10 order is fully tie-broken
    (revenue DESC, orderdate, orderkey).

    Scale: the segment-filtered customer side broadcasts into orders,
    the date predicates push to both scans (only surviving orders meet
    lineitem in the one keyed shuffle), the rollup map-side-combines on
    the order key, and the top-10 is a TakeOrdered — no global sort
    materializes."""
    t = load_tables(spark, sf_dir)
    cust = t.customer.filter(
        F.col("c_mktsegment") == _Q3_SEGMENT
    ).select("c_custkey")
    orders = t.orders.filter(
        F.col("o_orderdate") < F.lit(_Q3_CUTOFF).cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = t.lineitem.filter(
        F.col("l_shipdate") > F.lit(_Q3_CUTOFF).cast("timestamp")
    ).select(
        "l_orderkey",
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        ).cast("long").alias("cents"),
    )
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum("cents").cast("long").alias("revenue_cents"))
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_orderpriority").alias("orderpriority"),
            "revenue_cents",
        )
        .orderBy(
            F.desc("revenue_cents"), "orderdate", "orderkey"
        )
        .limit(10)
    )
