"""Catalog entries: general relational operator inventory (SURVEY.md §2.2).

Every query is a built-in DataFrame composition (no Python in the hot
path) with a DuckDB oracle.  Float parity strategy (see
``functions.numeric``): per-row double arithmetic is IEEE-identical
across engines, so products/differences are computed in doubles and
aggregated through exact DECIMAL accumulation (``dsum``/``davg``) —
order-independent, hence stable at any parallelism.

Scale notes are attached per query: which side broadcasts, where the
shuffles are, what AQE contributes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from financial_data_stream_processing_engine_spark.functions.numeric import davg, davg_sql, dsum, dsum_sql
from financial_data_stream_processing_engine_spark.io_utils import load_table, scratch_dir
from financial_data_stream_processing_engine_spark.operators.asof import asof_join
from financial_data_stream_processing_engine_spark.plans import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------

@register(
    "tpch_q1_pricing_summary",
    sql=f"""
SELECT l_returnflag, l_linestatus,
       {dsum_sql('l_quantity')} AS sum_qty,
       {dsum_sql('l_extendedprice')} AS sum_base_price,
       {dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {davg_sql('l_quantity')} AS avg_qty,
       {davg_sql('l_extendedprice')} AS avg_price,
       {davg_sql('l_discount')} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate, 8 aggregates over 2 keys.

    Scale: partial aggregation map-side (Catalyst HashAggregate
    partial→final), one shuffle on the 2 grouping keys (tiny
    cardinality ⇒ near-total map-side reduction); filter and the 7-col
    projection push into the parquet scan.
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "agg_distinct_stats",
    sql=f"""
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       {dsum_sql('value')} AS total_value
FROM events
GROUP BY event_type
""",
)
def agg_distinct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation + min/max/sum per group.

    Scale: COUNT(DISTINCT) expands to a two-phase aggregate (dedup on
    (event_type, user_id), then count) — two shuffles, both on low-
    cardinality keys; Catalyst plans it automatically.
    """
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            dsum("value", "total_value"),
        )
    )


@register(
    "agg_approx_distinct",
    sql="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       true AS approx_ok
FROM events
GROUP BY event_type
""",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct — the 100 TB path for
    distinct counting (no dedup shuffle; sketches merge map-side).

    Oracle strategy: HLL estimates are engine-specific, so the checked
    output is the engine-independent *property* — the exact distinct
    count plus a boolean asserting the sketch landed within its
    configured relative error (rsd 0.01 → we allow 5%).  A broken
    sketch (or a broken exact path) flips the boolean / the count and
    the hash.
    """
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("approx_ok"),
    )


@register(
    "rollup_returnflag_status",
    sql=f"""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
       COUNT(*) AS n_rows,
       {dsum_sql('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def rollup_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals with GROUPING() disambiguation."""
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count(F.lit(1)).alias("n_rows"),
            dsum("l_quantity", "sum_qty"),
        )
    )


@register(
    "cube_status_priority",
    sql=f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over order status × priority."""
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total_price"),
        )
    )


@register(
    "grouping_sets_events",
    sql=f"""
SELECT event_type, CAST(ts AS DATE) AS day,
       COUNT(*) AS n_events,
       {dsum_sql('value')} AS total_value
FROM events
GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)), ())
""",
)
def grouping_sets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (by type / by day / grand total)."""
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__gs_events")
    return spark.sql(
        f"""
        SELECT event_type, CAST(ts AS DATE) AS day,
               COUNT(*) AS n_events,
               {dsum_sql('value')} AS total_value
        FROM __gs_events
        GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)), ())
        """
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------

@register(
    "join_star_revenue_by_region",
    sql=f"""
SELECT r_name AS region,
       COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
""",
)
def join_star_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema join: fact ⋈ three dims, all dims broadcast.

    Scale: customer/nation/region are orders-of-magnitude smaller than
    the fact table — broadcast hints eliminate all join shuffles; the
    only shuffle left is the final tiny groupBy(region).
    """
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "revenue"),
        )
    )


@register(
    "join_left_customer_orders",
    sql=f"""
SELECT c_custkey, c_name,
       COUNT(o_orderkey) AS n_orders,
       COALESCE({dsum_sql('o_totalprice')}, 0.0) AS total_spent
FROM customer
LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
""",
)
def join_left_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving order-less customers (count 0, spend 0)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(dsum("o_totalprice"), F.lit(0.0)).alias("total_spent"),
        )
    )


@register(
    "join_semi_active_customers",
    sql="""
SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
""",
)
def join_semi_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join ≡ EXISTS: customers with ≥1 finished order.

    Scale: semi join never duplicates the left side and Catalyst can
    broadcast the (filtered, deduped) right side.
    """
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_acctbal")


@register(
    "join_anti_no_big_order",
    sql="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
""",
)
def join_anti_no_big_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join ≡ NOT EXISTS: customers with no order > 100k."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


#: price bands for the range join (part.p_retailprice spans 900–1000).
PRICE_BANDS = [
    ("low", 900.0, 935.0),
    ("mid", 935.0, 970.0),
    ("high", 970.0, 1000.0),
]
_BANDS_VALUES = ", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in PRICE_BANDS)


@register(
    "join_range_price_bands",
    sql=f"""
SELECT band, COUNT(*) AS n_parts, {dsum_sql('p_retailprice')} AS band_value
FROM part
JOIN (VALUES {_BANDS_VALUES}) AS bands(band, lo, hi)
  ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY band
""",
)
def join_range_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (non-equi/theta) join: facts against interval bands.

    Scale: the band table is tiny ⇒ broadcast nested-loop join, which
    is exactly the right physical plan for a small interval dim; for
    two LARGE range sides the engine path is bucketize-the-range-key +
    equi-join on bucket + residual filter.
    """
    part = _t(spark, sf_dir, "part")
    bands = spark.createDataFrame(PRICE_BANDS, "band string, lo double, hi double")
    return (
        part.join(
            F.broadcast(bands),
            (F.col("p_retailprice") >= F.col("lo")) & (F.col("p_retailprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            dsum("p_retailprice", "band_value"),
        )
    )


@register(
    "join_asof_last_purchase",
    sql="""
SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value,
       p.value AS last_purchase_value,
       p.event_id AS last_purchase_event_id
FROM events e
ASOF LEFT JOIN (
    SELECT user_id, ts, value, event_id FROM events WHERE event_type = 'purchase'
) p ON e.user_id = p.user_id AND e.ts >= p.ts
""",
)
def join_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event annotated with the user's latest purchase
    at-or-before it (backward inclusive, pandas merge_asof semantics).

    Spark has no native ASOF JOIN; this uses the engine's union-tag +
    last-ignorenulls window composition (operators.asof) — one shuffle,
    no Python.  DuckDB's native ASOF LEFT JOIN is the oracle.
    """
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", "event_id"
    )
    joined = asof_join(
        ev, purchases, on="ts", by="user_id", value_cols=["value", "event_id"]
    )
    return joined.select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        F.col("value_right").alias("last_purchase_value"),
        F.col("event_id_right").alias("last_purchase_event_id"),
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------

@register(
    "window_rank_orders",
    sql="""
SELECT o_custkey, o_orderkey, o_totalprice, o_orderpriority,
       ROW_NUMBER() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey) AS rn,
       RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS rnk,
       DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS drnk,
       NTILE(4) OVER (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey) AS quartile
FROM orders
""",
)
def window_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window functions: row_number / rank / dense_rank / ntile.

    row_number and ntile get a fully deterministic ordering (orderkey
    tiebreak); rank/dense_rank are ordered by a tie-heavy column to
    exercise true tie semantics.  One shuffle on o_custkey shared by
    all four functions (same partitioning).
    """
    orders = _t(spark, sf_dir, "orders")
    w_det = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    w_tie = Window.partitionBy("o_custkey").orderBy("o_orderpriority")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        "o_orderpriority",
        F.row_number().over(w_det).cast("long").alias("rn"),
        F.rank().over(w_tie).cast("long").alias("rnk"),
        F.dense_rank().over(w_tie).cast("long").alias("drnk"),
        F.ntile(4).over(w_det).cast("long").alias("quartile"),
    )


@register(
    "window_lag_lead_events",
    sql="""
SELECT event_id, user_id, ts, value,
       LAG(value)  OVER w AS prev_value,
       LEAD(value) OVER w AS next_value,
       value - LAG(value) OVER w AS delta,
       FIRST_VALUE(value) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS first_seen_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def window_lag_lead_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic offsets per key: lag / lead / delta / first_value."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_first = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
        F.first("value").over(w_first).alias("first_seen_value"),
    )


@register(
    "window_running_totals",
    sql="""
SELECT event_id, user_id, ts, value,
       CAST(SUM(CAST(value AS DECIMAL(27,7)))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS running_sum,
       COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS running_n,
       MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS running_max
FROM events
""",
)
def window_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative frame aggregates (running sum/count/max per key).

    The running sum goes through DECIMAL so the cumulative value at
    every row is exact — engine- and order-independent.
    """
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    from financial_data_stream_processing_engine_spark.functions.numeric import DECIMAL

    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.sum(F.col("value").cast(DECIMAL)).over(w).cast("double").alias("running_sum"),
        F.count(F.lit(1)).over(w).alias("running_n"),
        F.max("value").over(w).alias("running_max"),
    )


@register(
    "window_topk_per_group",
    sql="""
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
""",
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group: the canonical row_number <= K pattern.

    Scale: Spark pushes a per-partition top-K (WindowGroupLimit) below
    the shuffle for rank<=K predicates, so the shuffle carries at most
    K rows per key per map partition rather than the full table.
    """
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "window_range_frame",
    sql="""
SELECT o_orderkey, o_orderstatus, o_totalprice,
       COUNT(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
                      RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW)
           AS n_similar_cheaper
FROM orders
""",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, not row-based): how many orders of the
    same status fall within 1000 below this order's price."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy("o_totalprice")
        .rangeBetween(-1000, Window.currentRow)
    )
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.count(F.lit(1)).over(w).alias("n_similar_cheaper"),
    )


# ---------------------------------------------------------------------------
# Sorts / limits / set ops
# ---------------------------------------------------------------------------

@register(
    "topn_orders_global",
    sql="""
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
""",
)
def topn_orders_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-N with deterministic tiebreak.

    Scale: ORDER BY + LIMIT compiles to TakeOrderedAndProject — each
    partition keeps its local top-20, the driver merges; no global
    sort materialization.
    """
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@register(
    "set_ops_customers",
    sql="""
SELECT 'both_F_and_O' AS tag, c FROM (
  SELECT o_custkey AS c FROM orders WHERE o_orderstatus = 'F'
  INTERSECT
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
UNION ALL
SELECT 'F_not_P' AS tag, c FROM (
  SELECT o_custkey AS c FROM orders WHERE o_orderstatus = 'F'
  EXCEPT
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
""",
)
def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL (distinct set semantics)."""
    orders = _t(spark, sf_dir, "orders")

    def keys(status: str) -> DataFrame:
        return orders.filter(F.col("o_orderstatus") == status).select(
            F.col("o_custkey").alias("c")
        )

    both = keys("F").intersect(keys("O")).select(F.lit("both_F_and_O").alias("tag"), "c")
    # subtract = EXCEPT DISTINCT (set semantics); exceptAll would only
    # cancel per-occurrence and leave duplicate left rows behind.
    f_not_p = keys("F").subtract(keys("P")).select(F.lit("F_not_P").alias("tag"), "c")
    return both.unionAll(f_not_p)


# ---------------------------------------------------------------------------
# Scalar function surface (string / date / math / json / conditional / array)
# ---------------------------------------------------------------------------

@register(
    "string_functions",
    sql="""
SELECT c_custkey,
       UPPER(c_name) AS name_upper,
       LOWER(c_mktsegment) AS segment_lower,
       LENGTH(c_name) AS name_len,
       SUBSTRING(c_name, 1, 8) AS name_prefix,
       c_name || '/' || c_mktsegment AS name_seg,
       REPLACE(c_name, 'Customer', 'Cust') AS name_short,
       REGEXP_EXTRACT(c_name, '([0-9]+)', 1) AS name_digits,
       TRIM(LEADING '0' FROM REGEXP_EXTRACT(c_name, '([0-9]+)', 1)) AS name_num,
       STARTS_WITH(c_name, 'Customer') AS is_customer
FROM customer
""",
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function surface: case, length, substring, concat,
    replace, regexp_extract, trim, predicates."""
    c = _t(spark, sf_dir, "customer")
    digits = F.regexp_extract("c_name", "([0-9]+)", 1)
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("segment_lower"),
        F.length("c_name").cast("long").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat("c_name", F.lit("/"), "c_mktsegment").alias("name_seg"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("name_short"),
        digits.alias("name_digits"),
        F.expr("TRIM(LEADING '0' FROM REGEXP_EXTRACT(c_name, '([0-9]+)', 1))").alias("name_num"),
        F.startswith(F.col("c_name"), F.lit("Customer")).alias("is_customer"),
    )


@register(
    "date_functions",
    sql="""
SELECT o_orderkey, o_orderdate,
       YEAR(o_orderdate) AS yr,
       MONTH(o_orderdate) AS mo,
       DAY(o_orderdate) AS dy,
       QUARTER(o_orderdate) AS qtr,
       CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
       CAST(LAST_DAY(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
       DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
       STRFTIME(o_orderdate, '%Y-%m') AS ym
FROM orders
""",
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time surface: extraction, truncation, arithmetic, format."""
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        "o_orderdate",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
        F.dayofmonth("o_orderdate").cast("long").alias("dy"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.last_day(d).alias("month_end"),
        F.datediff(F.lit("2002-01-01").cast("date"), d).cast("long").alias("days_to_2002"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    )


@register(
    "math_functions",
    sql="""
SELECT l_orderkey, l_linenumber,
       ROUND(l_extendedprice, 1) AS price_round,
       FLOOR(l_extendedprice) AS price_floor,
       CEIL(l_extendedprice) AS price_ceil,
       ABS(l_discount - 0.05) AS disc_dev,
       SQRT(l_quantity) AS qty_sqrt,
       l_extendedprice * l_extendedprice AS price_sq,
       MOD(CAST(l_quantity AS BIGINT), 7) AS qty_mod7,
       CAST(SIGN(l_discount - 0.05) AS DOUBLE) AS disc_sign,
       GREATEST(l_tax, l_discount) AS max_rate,
       LEAST(l_tax, l_discount) AS min_rate
FROM lineitem
""",
)
def math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math surface: rounding, sqrt (IEEE-exact), modular arithmetic,
    sign, greatest/least.  (ln/exp excluded from the oracle set: libm
    last-ulp differences across engines make them hash-unstable.)"""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_round"),
        F.floor("l_extendedprice").cast("double").alias("price_floor"),
        F.ceil("l_extendedprice").cast("double").alias("price_ceil"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        (F.col("l_extendedprice") * F.col("l_extendedprice")).alias("price_sq"),
        (F.col("l_quantity").cast("bigint") % 7).alias("qty_mod7"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
    )


@register(
    "json_extract_props",
    sql=f"""
SELECT event_type,
       COUNT(*) AS n,
       {dsum_sql("CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT)")} AS sum_k,
       MIN(CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
""",
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events.props string column + aggregate."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(k, "sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@register(
    "conditional_tiers",
    sql=f"""
SELECT CASE WHEN o_totalprice >= 300000 THEN 'platinum'
            WHEN o_totalprice >= 150000 THEN 'gold'
            WHEN o_totalprice >=  50000 THEN 'silver'
            ELSE 'bronze' END AS tier,
       COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS tier_revenue,
       COALESCE(NULLIF(MIN(o_orderstatus), 'F'), 'finished-first') AS min_status_demo
FROM orders
GROUP BY 1
""",
)
def conditional_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN tiering + COALESCE/NULLIF conditional surface."""
    o = _t(spark, sf_dir, "orders")
    tier = (
        F.when(F.col("o_totalprice") >= 300000, "platinum")
        .when(F.col("o_totalprice") >= 150000, "gold")
        .when(F.col("o_totalprice") >= 50000, "silver")
        .otherwise("bronze")
    )
    return o.groupBy(tier.alias("tier")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", "tier_revenue"),
        F.coalesce(F.nullif(F.min("o_orderstatus"), F.lit("F")), F.lit("finished-first")).alias(
            "min_status_demo"
        ),
    )


@register(
    "array_functions_documents",
    sql="""
SELECT doc_id,
       LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
       LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS n_unique_tokens,
       STRING_SPLIT(text, ' ')[1] AS first_token,
       STRING_SPLIT(text, ' ')[-1] AS last_token,
       LIST_CONTAINS(STRING_SPLIT(text, ' '), 'spark') AS has_spark
FROM documents
""",
)
def array_functions_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array surface over tokenized text: size, distinct, indexing,
    membership.  (split→array is also the substrate for the dedup
    operators in the LLM-pipeline set.)"""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
        F.element_at(toks, 1).alias("first_token"),
        F.element_at(toks, -1).alias("last_token"),
        F.array_contains(toks, "spark").alias("has_spark"),
    )


@register(
    "pivot_qty_by_status",
    sql=f"""
SELECT l_returnflag,
       {dsum_sql("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS qty_O,
       {dsum_sql("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS qty_F
FROM lineitem
GROUP BY l_returnflag
""",
)
def pivot_qty_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: one column per line status holding summed quantity."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(dsum("l_quantity"))
        .withColumnRenamed("O", "qty_O")
        .withColumnRenamed("F", "qty_F")
    )


# ---------------------------------------------------------------------------
# Multi-operator TPC-H-style queries
# ---------------------------------------------------------------------------

@register(
    "tpch_q3_like_shipping_priority",
    sql=f"""
SELECT l_orderkey,
       {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
       o_orderdate
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def tpch_q3_like_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, filter, aggregate, top-N.

    Scale: customer (filtered on segment) broadcasts into orders;
    orders⋈lineitem is the one real shuffle (both sides big at 100 TB —
    co-partitioning or bucketing on orderkey removes it); top-10 via
    TakeOrderedAndProject, no global sort.
    """
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(revenue, "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q5_like_regional_volume",
    sql=f"""
SELECT n_name AS nation,
       {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM region
JOIN nation   ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
""",
)
def tpch_q5_like_regional_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way star join with region filter.

    (The fixture lacks supplier linkage on lineitem rows' nation, so
    the supplier⋈ leg of real Q5 is represented in join_star; this one
    exercises the 5-table chain.)
    """
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    dims = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(dims), o.o_custkey == dims.c_custkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum(revenue, "revenue"))
    )


# ---------------------------------------------------------------------------
# Analytic extras, subqueries, reshaping (batch 3)
# ---------------------------------------------------------------------------

@register(
    "window_distribution_funcs",
    sql="""
SELECT o_orderkey, o_orderstatus, o_totalprice,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume,
       NTH_VALUE(o_orderkey, 2) OVER (PARTITION BY o_orderstatus
                                      ORDER BY o_totalprice, o_orderkey
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS second_cheapest_key
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
""",
)
def window_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: percent_rank / cume_dist / nth_value."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    w_frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.nth_value("o_orderkey", 2).over(w_frame).alias("second_cheapest_key"),
    )


@register(
    "agg_percentiles",
    sql="""
SELECT l_returnflag,
       MEDIAN(l_extendedprice) AS median_price,
       QUANTILE_CONT(l_extendedprice, 0.25) AS p25_price,
       QUANTILE_CONT(l_extendedprice, 0.95) AS p95_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median / p25 / p95) per group.

    Scale note: exact percentiles need a per-group sort; at 100 TB use
    approx_percentile (t-digest sketch, map-side mergeable) — exposed
    as agg_approx_percentiles (rows-only).
    """
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("median_price"),
        F.percentile("l_extendedprice", F.lit(0.25)).alias("p25_price"),
        F.percentile("l_extendedprice", F.lit(0.95)).alias("p95_price"),
    )


@register(
    "agg_approx_percentiles",
    sql="""
SELECT l_returnflag, '0.25' AS q,
       QUANTILE_CONT(l_extendedprice, 0.25) AS exact_value, true AS approx_ok
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT l_returnflag, '0.5' AS q,
       QUANTILE_CONT(l_extendedprice, 0.5) AS exact_value, true AS approx_ok
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT l_returnflag, '0.95' AS q,
       QUANTILE_CONT(l_extendedprice, 0.95) AS exact_value, true AS approx_ok
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles — the scale path for quantiles.

    Oracle strategy: the sketch value itself is engine-specific, so the
    checked output is one row per (group, quantile) carrying the exact
    interpolated percentile (bit-comparable: agg_percentiles proved
    F.percentile == QUANTILE_CONT) and a boolean asserting the
    approx_percentile sketch landed within 5% of it.
    """
    li = _t(spark, sf_dir, "lineitem")
    qs = [0.25, 0.5, 0.95]
    agg = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.array(*[F.lit(q) for q in qs])).alias("exact"),
        F.percentile_approx("l_extendedprice", qs, 10000).alias("approx"),
    )
    triples = F.array(
        *[
            F.struct(
                F.lit(str(q)).alias("q"),
                F.col("exact")[i].alias("exact_value"),
                F.col("approx")[i].cast("double").alias("approx"),
            )
            for i, q in enumerate(qs)
        ]
    )
    return agg.select("l_returnflag", F.explode(triples).alias("t")).select(
        "l_returnflag",
        F.col("t.q").alias("q"),
        F.col("t.exact_value").alias("exact_value"),
        (
            F.abs(F.col("t.approx") - F.col("t.exact_value"))
            <= 0.05 * F.abs(F.col("t.exact_value"))
        ).alias("approx_ok"),
    )


@register(
    "agg_collect_ordered",
    sql="""
WITH ranked AS (
  SELECT o_custkey, o_totalprice AS price,
         ROW_NUMBER() OVER (
           PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
         ) AS rnk
  FROM orders
), st AS (
  SELECT o_custkey,
         STRING_AGG(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
  FROM orders GROUP BY o_custkey
)
SELECT r.o_custkey, r.rnk, r.price, s.statuses
FROM ranked r JOIN st s USING (o_custkey)
WHERE r.rnk <= 3
""",
)
def agg_collect_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered array aggregation (collect_list with defined order).

    Spark's collect_list is order-nondeterministic, so the order is
    imposed structurally: sort_array over (-price, tiebreak) structs,
    then slice — deterministic at any parallelism.  The checked output
    explodes the array to (custkey, rank, price) scalar rows because
    the driver's canonicalizer cannot hash list-valued cells; the
    distinct-status list is emitted as a comma-joined string for the
    same reason.
    """
    o = _t(spark, sf_dir, "orders")
    pairs = F.array_sort(
        F.collect_list(
            F.struct(
                (-F.col("o_totalprice")).alias("np"),
                F.col("o_orderkey").alias("k"),
                F.col("o_totalprice").alias("p"),
            )
        )
    )
    agg = o.groupBy("o_custkey").agg(
        F.slice(pairs, 1, 3).alias("top3"),
        F.concat_ws(",", F.array_sort(F.collect_set("o_orderstatus"))).alias("statuses"),
    )
    return agg.select(
        "o_custkey", "statuses", F.posexplode("top3").alias("pos0", "t")
    ).select(
        "o_custkey",
        (F.col("pos0") + 1).cast("long").alias("rnk"),
        F.col("t.p").alias("price"),
        "statuses",
    )


@register(
    "unpivot_rates",
    sql="""
SELECT l_orderkey, l_linenumber, 'discount' AS rate_kind, l_discount AS rate
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'tax' AS rate_kind, l_tax AS rate
FROM lineitem
""",
)
def unpivot_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long): one row per (line, rate kind)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_discount", "l_tax"],
        variableColumnName="rate_kind",
        valueColumnName="rate",
    ).withColumn(
        "rate_kind",
        F.when(F.col("rate_kind") == "l_discount", "discount").otherwise("tax"),
    )


@register(
    "explode_tokens",
    sql="""
SELECT doc_id, i - 1 AS pos, toks[i] AS token
FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents WHERE doc_id < 50),
     UNNEST(GENERATE_SERIES(1, LEN(toks))) AS t(i)
""",
)
def explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL explode with position (posexplode ≡ UNNEST + index)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    out = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )
    return out.withColumn("pos", F.col("pos").cast("long"))


@register(
    "scalar_subquery_max_order",
    sql="""
SELECT c_custkey, c_name,
       (SELECT MAX(o_totalprice) FROM orders o WHERE o.o_custkey = c.c_custkey)
           AS max_order_price,
       (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
FROM customer c
""",
)
def scalar_subquery_max_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries (decorrelated by Catalyst into
    aggregations + outer joins — same plan a hand-written join would
    give, so the declarative form costs nothing)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("__sq_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__sq_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name,
               (SELECT MAX(o_totalprice) FROM __sq_orders o
                WHERE o.o_custkey = c.c_custkey) AS max_order_price,
               (SELECT COUNT(*) FROM __sq_orders o
                WHERE o.o_custkey = c.c_custkey) AS n_orders
        FROM __sq_customer c
        """
    )


@register(
    "sessionization_gaps",
    sql="""
WITH marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL '6 hours'
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events)
SELECT user_id, event_id, ts,
       CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS session_id
FROM marked
""",
)
def sessionization_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: gaps-and-islands via lag + running sum
    (the batch mirror of streaming session_window)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # full-µs-precision gap comparison (timestamp minus timestamp is a
    # day-time interval) — a cast('long') would truncate sub-second
    # parts and disagree with the oracle's exact INTERVAL comparison
    # for gaps inside (21600, 21601) s.
    new_session = (
        prev_ts.isNull()
        | (F.col("ts") - prev_ts > F.expr("INTERVAL 6 HOURS"))
    ).cast("int")
    return (
        ev.select("user_id", "event_id", "ts", new_session.alias("new_session"))
        .withColumn(
            "session_id",
            F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .drop("new_session")
    )


@register(
    "date_arithmetic",
    sql="""
SELECT o_orderkey,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS due_date,
       CAST(CAST(o_orderdate AS DATE) - INTERVAL 90 DAY AS DATE) AS quote_date,
       CAST(o_orderdate AS DATE) + 7 AS week_later
FROM orders
""",
)
def date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval arithmetic: add_months (end-of-month clamping), day
    offsets via interval and integer addition."""
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.add_months(d, 3).alias("due_date"),
        F.date_sub(d, 90).alias("quote_date"),
        F.date_add(d, 7).alias("week_later"),
    )


# ---------------------------------------------------------------------------
# Scale patterns, format round-trips, UDTF (batch 4)
# ---------------------------------------------------------------------------

@register(
    "agg_salted_skew",
    sql=f"""
SELECT event_type,
       COUNT(*) AS n,
       {dsum_sql('value')} AS total_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY event_type
""",
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation for skewed keys.

    Identical RESULT to the plain groupBy (same oracle as a direct
    aggregation would use — the point), different physical plan: the
    hot key's rows spread over 8 salt sub-keys in phase 1, so no single
    reducer owns a hot key.  Decimal partials keep the two-phase sum
    bit-equal to one-phase.
    """
    from financial_data_stream_processing_engine_spark.operators.scale import salted_agg

    ev = _t(spark, sf_dir, "events")
    return salted_agg(
        ev,
        key="event_type",
        aggs=[
            ("count", None, "n"),  # COUNT(*), matching the oracle
            ("sum_decimal", "value", "total_value"),
            ("min", "value", "min_value"),
            ("max", "value", "max_value"),
        ],
        salt=8,
    )


@register(
    "sample_hash_deterministic",
    sql="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0', '1')
""",
)
def sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 1/8 hash sample — reproducible across runs,
    engines, and partitionings (unlike df.sample), hence oracle-able.
    """
    from financial_data_stream_processing_engine_spark.operators.scale import hash_sample

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    return hash_sample(o, key="o_orderkey", nibbles=("0", "1"))


@register(
    "roundtrip_csv",
    sql="""
SELECT event_id, user_id, event_type, value FROM events
""",
)
def roundtrip_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source round-trip: write the events projection as
    CSV, read it back with an explicit schema; oracle = the original
    table (proves the format path is lossless for these types)."""

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    d = scratch_dir(prefix="roundtrip_csv_")
    ev.write.mode("overwrite").option("header", "true").csv(d)
    return spark.read.schema(
        "event_id bigint, user_id bigint, event_type string, value double"
    ).option("header", "true").csv(d)


@register(
    "roundtrip_json",
    sql="""
SELECT event_id, user_id, ts, event_type, value FROM events
""",
)
def roundtrip_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON sink + source round-trip including µs timestamps."""

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type", "value")
    d = scratch_dir(prefix="roundtrip_json_")
    # default timestampFormat truncates to milliseconds; keep the full µs
    ts_fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    ev.write.mode("overwrite").option("timestampFormat", ts_fmt).json(d)
    return (
        spark.read.schema(
            "event_id bigint, user_id bigint, ts timestamp, event_type string, value double"
        )
        .option("timestampFormat", ts_fmt)
        .json(d)
    )


@register(
    "udtf_ngrams",
    sql="""
SELECT doc_id, i - 1 AS pos, ARRAY_TO_STRING(toks[i:i+1], ' ') AS ngram
FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents WHERE doc_id < 30),
     UNNEST(GENERATE_SERIES(1, GREATEST(LEN(toks) - 1, 1))) AS t(i)
""",
)
def udtf_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 3.5+): per-row table function emitting
    (pos, 2-gram) rows via LATERAL join.

    UDTFs are the engine's sanctioned extension point for row→rows
    Python logic (the modern replacement for the reference's
    DataProcessor ABC); the oracle is the equivalent pure-SQL lateral
    expansion.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos bigint, ngram string")
    class NGrams:
        def eval(self, text: str, n: int):
            toks = (text or "").split(" ")
            m = max(len(toks) - n + 1, 1)
            for i in range(m):
                yield i, " ".join(toks[i : i + n])

    spark.udtf.register("ngrams2", NGrams)
    _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 30).createOrReplaceTempView(
        "__udtf_docs"
    )
    return spark.sql(
        """
        SELECT d.doc_id, ng.pos, ng.ngram
        FROM __udtf_docs d, LATERAL ngrams2(d.text, 2) ng
        """
    )


# ---------------------------------------------------------------------------
# Aggregate variants & join variants (batch 5)
# ---------------------------------------------------------------------------

@register(
    "agg_argminmax_bool_bit",
    sql="""
SELECT o_orderstatus,
       ARG_MAX(o_orderkey, o_totalprice) AS biggest_order_key,
       ARG_MIN(o_orderkey, o_totalprice) AS smallest_order_key,
       BOOL_AND(o_totalprice > 1000) AS all_over_1k,
       BOOL_OR(o_totalprice > 400000) AS any_over_400k,
       BIT_AND(o_orderkey) AS key_bit_and,
       BIT_OR(o_orderkey) AS key_bit_or,
       BIT_XOR(o_orderkey) AS key_bit_xor
FROM orders
GROUP BY o_orderstatus
""",
)
def agg_argminmax_bool_bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax/argmin), boolean and bitwise aggregates.

    o_totalprice is unique per status partition in practice; ties would
    make argmax nondeterministic — at scale pair the value with a
    unique tiebreak as a struct.
    """
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("biggest_order_key"),
        F.min_by("o_orderkey", "o_totalprice").alias("smallest_order_key"),
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
        F.bit_and("o_orderkey").alias("key_bit_and"),
        F.bit_or("o_orderkey").alias("key_bit_or"),
        F.bit_xor("o_orderkey").alias("key_bit_xor"),
    )


@register(
    "agg_variance_exact",
    sql="""
WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(27,7))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(27,7))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_discount AS DECIMAL(27,7))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(27,7))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(27,7))) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag,
       (sxx - sx * sx / n) / (n - 1) AS var_qty,
       SQRT((sxx - sx * sx / n) / (n - 1)) AS stddev_qty,
       (n * sxy - sx * sy) / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy))
           AS corr_qty_disc
FROM s
""",
)
def agg_variance_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance / stddev / correlation via exact-decimal moment sums.

    Built-in var_samp/corr use streaming update formulas whose float
    rounding is engine- and order-dependent; accumulating the raw
    moments exactly and applying the closed form in doubles gives
    bit-reproducible statistics (same tactic as dsum/davg).
    """
    from financial_data_stream_processing_engine_spark.functions.numeric import DECIMAL

    li = _t(spark, sf_dir, "lineitem")
    q, d = F.col("l_quantity"), F.col("l_discount")

    def ds(c):
        return F.sum(c.cast(DECIMAL)).cast("double")

    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        ds(q).alias("sx"),
        ds(q * q).alias("sxx"),
        ds(d).alias("sy"),
        ds(d * d).alias("syy"),
        ds(q * d).alias("sxy"),
    )
    n, sx, sxx, sy, syy, sxy = (F.col(c) for c in ["n", "sx", "sxx", "sy", "syy", "sxy"])
    return s.select(
        "l_returnflag",
        ((sxx - sx * sx / n) / (n - 1)).alias("var_qty"),
        F.sqrt((sxx - sx * sx / n) / (n - 1)).alias("stddev_qty"),
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("corr_qty_disc"),
    )


@register(
    "agg_builtin_stats",
    sql=f"""
WITH m AS (
  SELECT l_returnflag,
         CAST(COUNT(l_quantity) AS DOUBLE) AS n,
         {dsum_sql('l_quantity')} AS sx,
         {dsum_sql('l_quantity * l_quantity')} AS sxx,
         {dsum_sql('l_discount')} AS sy,
         {dsum_sql('l_discount * l_discount')} AS syy,
         {dsum_sql('l_quantity * l_discount')} AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       (sxx - sx * sx / n) / (n - 1.0) AS var_exact,
       SQRT((sxx - sx * sx / n) / (n - 1.0)) AS stddev_exact,
       (sxy - sx * sy / n)
         / SQRT((sxx - sx * sx / n) * (syy - sy * sy / n)) AS corr_exact,
       true AS var_ok, true AS stddev_ok, true AS corr_ok,
       true AS skew_ok, true AS kurt_ok
FROM m
""",
)
def agg_builtin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in statistical aggregates (var_samp/stddev/corr/skewness/
    kurtosis) checked against an exact recompute.

    Oracle strategy: the builtins' streaming update order differs
    across engines in the last ulps, so the checked doubles are
    *derived from exact DECIMAL raw moments* with only IEEE-exact ops
    (+ - * / sqrt, identical expression text both engines → identical
    bits), and the builtins are asserted close to that recompute via
    booleans the oracle states as ``true``.  A regression in either
    the builtin or the decimal path flips a boolean or a derived bit.
    """
    li = _t(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_discount")
    g = li.groupBy("l_returnflag").agg(
        F.count("l_quantity").cast("double").alias("n"),
        dsum(x, "sx"),
        dsum(x * x, "sxx"),
        dsum(x * x * x, "sxxx"),
        dsum(x * x * x * x, "sxxxx"),
        dsum(y, "sy"),
        dsum(y * y, "syy"),
        dsum(x * y, "sxy"),
        F.var_samp("l_quantity").alias("b_var"),
        F.stddev("l_quantity").alias("b_std"),
        F.corr("l_quantity", "l_discount").alias("b_corr"),
        F.skewness("l_quantity").alias("b_skew"),
        F.kurtosis("l_quantity").alias("b_kurt"),
    )
    n, sx, sxx, sxxx, sxxxx = (F.col(c) for c in ["n", "sx", "sxx", "sxxx", "sxxxx"])
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    var_exact = (sxx - sx * sx / n) / (n - F.lit(1.0))
    stddev_exact = F.sqrt(var_exact)
    corr_exact = F.try_divide(
        sxy - sx * sy / n, F.sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
    )
    # central moments from exact raw moments (Spark-side only, feed booleans)
    mu = sx / n
    m2 = sxx / n - mu * mu
    m3 = sxxx / n - F.lit(3.0) * mu * (sxx / n) + F.lit(2.0) * mu * mu * mu
    m4 = (
        sxxxx / n
        - F.lit(4.0) * mu * (sxxx / n)
        + F.lit(6.0) * mu * mu * (sxx / n)
        - F.lit(3.0) * mu * mu * mu * mu
    )
    skew_exact = F.try_divide(m3, F.pow(m2, F.lit(1.5)))
    kurt_exact = F.try_divide(m4, m2 * m2) - F.lit(3.0)

    def ok(builtin, exact):
        return F.abs(builtin - exact) <= F.lit(1e-6) * F.greatest(F.abs(exact), F.lit(1.0))

    return g.select(
        "l_returnflag",
        var_exact.alias("var_exact"),
        stddev_exact.alias("stddev_exact"),
        corr_exact.alias("corr_exact"),
        ok(F.col("b_var"), var_exact).alias("var_ok"),
        ok(F.col("b_std"), stddev_exact).alias("stddev_ok"),
        ok(F.col("b_corr"), corr_exact).alias("corr_ok"),
        ok(F.col("b_skew"), skew_exact).alias("skew_ok"),
        ok(F.col("b_kurt"), kurt_exact).alias("kurt_ok"),
    )


@register(
    "agg_string_concat",
    sql="""
SELECT c_mktsegment,
       STRING_AGG(DISTINCT c_name, ',' ORDER BY c_name) FILTER (WHERE c_custkey < 30)
           AS first_names
FROM customer
GROUP BY c_mktsegment
""",
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg/string_agg) with FILTER."""
    c = _t(spark, sf_dir, "customer")
    names = F.array_sort(
        F.collect_set(F.when(F.col("c_custkey") < 30, F.col("c_name")))
    )
    return c.groupBy("c_mktsegment").agg(
        F.when(F.size(names) > 0, F.concat_ws(",", names)).alias("first_names")
    )


@register(
    "set_intersect_all",
    sql="""
SELECT c FROM (
  SELECT o_custkey AS c FROM orders WHERE o_orderstatus = 'F'
  INTERSECT ALL
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
""",
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — multiset semantics (min of multiplicities)."""
    orders = _t(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("c"))
    o = orders.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("c"))
    return f.intersectAll(o)


@register(
    "join_asof_strict",
    sql="""
SELECT e.event_id, e.ts, e.user_id, e.value,
       p.value AS prev_purchase_value
FROM events e
ASOF LEFT JOIN (
    SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
) p ON e.user_id = p.user_id AND e.ts > p.ts
""",
)
def join_asof_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict as-of join (right.ts < left.ts): a purchase event no
    longer matches itself — the lookback excludes the current instant."""
    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type", "value")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    joined = asof_join(ev, purchases, on="ts", by="user_id", value_cols=["value"], strict=True)
    return joined.select(
        "event_id", "ts", "user_id", "value",
        F.col("value_right").alias("prev_purchase_value"),
    )


@register(
    "join_interval_bursts",
    sql="""
SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
       DATEDIFF('second', a.ts, b.ts) AS gap_s
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL '5 minutes'
""",
)
def join_interval_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval self-join: pairs of same-user events within 5 minutes
    (burst detection).  Equi-join on the key + band predicate — Catalyst
    plans an equi-join with a residual range filter, so only same-user
    rows meet, never a cartesian.
    """
    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    a = ev.select(F.col("user_id"), F.col("event_id").alias("id_a"), F.col("ts").alias("ts_a"))
    b = ev.select(F.col("user_id"), F.col("event_id").alias("id_b"), F.col("ts").alias("ts_b"))
    return (
        a.join(
            b,
            ["user_id"],
        )
        .filter(
            (F.col("ts_b") > F.col("ts_a"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTES"))
        )
        .select(
            "user_id",
            "id_a",
            "id_b",
            (F.col("ts_b").cast("long") - F.col("ts_a").cast("long")).alias("gap_s"),
        )
    )


@register(
    "json_to_map_explode",
    sql="""
SELECT event_id, 'k' AS prop_key,
       CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) AS prop_value
FROM events
WHERE props IS NOT NULL
""",
)
def json_to_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json → MapType → explode map entries.

    Parses the JSON props column into a real map<string,bigint> and
    explodes it to (key, value) rows — the MapType surface (from_json,
    explode of map entries).  The fixture's props always hold the
    single key 'k', which the oracle states literally.
    """
    ev = _t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return (
        ev.filter(F.col("props").isNotNull())
        .select("event_id", F.explode(m).alias("prop_key", "prop_value"))
    )


# ---------------------------------------------------------------------------
# Deeper TPC-H shapes: HAVING, IN-subquery, correlated EXISTS, full outer
# ---------------------------------------------------------------------------

@register(
    "tpch_q4_like_priority_check",
    sql="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
""",
)
def tpch_q4_like_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS (→ left-semi) under a date
    filter, grouped count."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    matched = o.join(
        li, (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate), "left_semi"
    )
    return matched.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "tpch_q6_like_forecast_revenue",
    sql=f"""
SELECT {dsum_sql('l_extendedprice * l_discount')} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""",
)
def tpch_q6_like_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: tight multi-predicate scan → single-row sum.

    Scale: the whole query is one pushed-down scan + map-side partial
    sum; no meaningful shuffle at any size.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q10_like_returned_items",
    sql=f"""
SELECT c_custkey, c_name, n_name,
       {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-07-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def tpch_q10_like_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: 4-way join on returned lineitems, top-20 by
    lost revenue."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(revenue, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "tpch_q18_like_large_orders",
    sql=f"""
SELECT c_custkey, c_name, o_orderkey, o_totalprice,
       {dsum_sql('l_quantity')} AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM(l_quantity) > 150)
GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
""",
)
def tpch_q18_like_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN-subquery over a HAVING aggregate (large-
    volume orders), re-joined for customer detail.

    The HAVING sum feeds a semi join — Catalyst rewrites IN (subquery)
    to exactly that; expressed directly here.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .agg(dsum("l_quantity", "total_qty"))
    )


@register(
    "join_full_outer_nation_activity",
    sql="""
WITH s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers
           FROM supplier GROUP BY s_nationkey),
c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_customers
      FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey)
SELECT COALESCE(s.nk, c.nk) AS nationkey,
       COALESCE(n_suppliers, 0) AS n_suppliers,
       COALESCE(n_customers, 0) AS n_customers
FROM s FULL OUTER JOIN c ON s.nk = c.nk
""",
)
def join_full_outer_nation_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: nations with suppliers, rich customers, or
    both — neither side's unmatched keys are lost."""
    sup = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    return (
        sup.join(cust, "nk", "full_outer")
        .select(
            F.col("nk").alias("nationkey"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        )
    )


# ---------------------------------------------------------------------------
# Data profiling (batch 6)
# ---------------------------------------------------------------------------

@register(
    "histogram_value_buckets",
    sql=f"""
SELECT CAST(FLOOR(value / 25.0) AS BIGINT) AS bucket,
       CAST(CAST(FLOOR(value / 25.0) AS BIGINT) * 25.0 AS DOUBLE) AS bucket_lo,
       COUNT(*) AS n,
       {dsum_sql('value')} AS bucket_sum
FROM events
GROUP BY 1, 2
""",
)
def histogram_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via floor bucketing — the declarative
    profiling histogram (map-side partial counts; one tiny shuffle)."""
    ev = _t(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 25.0).cast("bigint")
    return ev.groupBy(
        bucket.alias("bucket"), (bucket * 25.0).alias("bucket_lo")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value", "bucket_sum"),
    )


@register(
    "profile_events_table",
    sql=f"""
SELECT COUNT(*) AS n_rows,
       COUNT(value) AS value_non_null,
       COUNT(DISTINCT user_id) AS user_distinct,
       COUNT(DISTINCT event_type) AS type_distinct,
       MIN(value) AS value_min,
       MAX(value) AS value_max,
       {davg_sql('value')} AS value_mean,
       MIN(ts) AS ts_min,
       MAX(ts) AS ts_max,
       {davg_sql('LENGTH(props)')} AS props_len_mean
FROM events
""",
)
def profile_events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profile: row/null/distinct counts, ranges, means —
    the first query any 100 TB ingest runs against a new table."""
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("value_non_null"),
        F.countDistinct("user_id").alias("user_distinct"),
        F.countDistinct("event_type").alias("type_distinct"),
        F.min("value").alias("value_min"),
        F.max("value").alias("value_max"),
        davg("value", "value_mean"),
        F.min("ts").alias("ts_min"),
        F.max("ts").alias("ts_max"),
        davg(F.length("props"), "props_len_mean"),
    )


# ---------------------------------------------------------------------------
# Custom Python DataSource + SCD2 merge emulation (batch 7)
# ---------------------------------------------------------------------------

@register(
    "python_datasource_ticks",
    sql="""
SELECT i AS id,
       ['AAPL','MSFT','GOOG','AMZN','NVDA'][(i % 5) + 1] AS symbol,
       CAST((i * 7919) % 100000 AS DOUBLE) / 100.0 AS price,
       (i * 104729) % 10000 AS volume,
       TIMESTAMP '2024-01-01' + i * INTERVAL '1 second' AS ts
FROM GENERATE_SERIES(0, 1999) AS t(i)
""",
)
def python_datasource_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 extension API): the registered
    'ticks' format generates partitioned synthetic rows executor-side;
    the oracle recomputes the same deterministic formula in SQL."""
    from financial_data_stream_processing_engine_spark.sources import tick_datasource

    tick_datasource.register(spark)
    return (
        spark.read.format("ticks")
        .option("rows", "2000")
        .option("partitions", "8")
        .load()
    )


#: SCD2 change batch applied to the customer dimension: two balance
#: updates and one brand-new customer, effective 2000-01-01.
SCD2_CHANGES = [
    (1, 5000.0, "BUILDING"),
    (2, -10.0, "MACHINERY"),
    (900001, 777.0, "AUTOMOBILE"),
]
_SCD2_EFF = "2000-01-01"
_SCD2_CHANGES_VALUES = ", ".join(
    f"({k}, {b}, '{s}')" for k, b, s in SCD2_CHANGES
)


@register(
    "scd2_apply_changes",
    sql=f"""
WITH changes(c_custkey, new_acctbal, new_segment) AS (VALUES {_SCD2_CHANGES_VALUES}),
base AS (
  SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
         DATE '1995-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
  FROM customer),
expired AS (
  SELECT b.c_custkey, b.c_name, b.c_acctbal, b.c_mktsegment,
         b.valid_from, DATE '{_SCD2_EFF}' AS valid_to
  FROM base b JOIN changes c USING (c_custkey)),
unchanged AS (
  SELECT b.* FROM base b
  WHERE NOT EXISTS (SELECT 1 FROM changes c WHERE c.c_custkey = b.c_custkey)),
fresh AS (
  SELECT c.c_custkey,
         COALESCE(b.c_name, 'Customer#' || LPAD(CAST(c.c_custkey AS VARCHAR), 9, '0')) AS c_name,
         CAST(c.new_acctbal AS DOUBLE) AS c_acctbal,
         c.new_segment AS c_mktsegment,
         DATE '{_SCD2_EFF}' AS valid_from, CAST(NULL AS DATE) AS valid_to
  FROM changes c LEFT JOIN base b USING (c_custkey))
SELECT * FROM unchanged
UNION ALL SELECT * FROM expired
UNION ALL SELECT * FROM fresh
""",
)
def scd2_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 (slowly-changing dimension, type 2) without MERGE INTO:
    anti-join keeps untouched rows, the change keys expire their
    current rows (valid_to = effective date), and new versions open
    with valid_to NULL.  The lakehouse MERGE emulation pattern for
    engines without Delta/Iceberg on the classpath.

    Scale: two broadcast joins against the (small) change batch + a
    union — the dimension table is never shuffled.
    """
    eff = F.lit(_SCD2_EFF).cast("date")
    base = (
        _t(spark, sf_dir, "customer")
        .select(
            "c_custkey", "c_name", "c_acctbal", "c_mktsegment",
            F.lit("1995-01-01").cast("date").alias("valid_from"),
            F.lit(None).cast("date").alias("valid_to"),
        )
    )
    changes = spark.createDataFrame(
        SCD2_CHANGES, "c_custkey long, new_acctbal double, new_segment string"
    )
    keys = changes.select("c_custkey")

    unchanged = base.join(F.broadcast(keys), "c_custkey", "left_anti")
    expired = (
        base.join(F.broadcast(keys), "c_custkey", "left_semi")
        .withColumn("valid_to", eff)
    )
    fresh = (
        changes.join(F.broadcast(base.select("c_custkey", "c_name")), "c_custkey", "left")
        .select(
            "c_custkey",
            F.coalesce(
                "c_name",
                F.concat(
                    F.lit("Customer#"),
                    F.lpad(F.col("c_custkey").cast("string"), 9, "0"),
                ),
            ).alias("c_name"),
            F.col("new_acctbal").alias("c_acctbal"),
            F.col("new_segment").alias("c_mktsegment"),
            eff.alias("valid_from"),
            F.lit(None).cast("date").alias("valid_to"),
        )
    )
    return unchanged.unionByName(expired).unionByName(fresh)


# ---------------------------------------------------------------------------
# TPC-H depth round 2: Q7/Q13/Q14/Q17/Q19/Q22 shapes (batch 8)
# ---------------------------------------------------------------------------

@register(
    "tpch_q7_like_nation_volume",
    sql=f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       YEAR(l_shipdate) AS l_year,
       {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE sn.n_name <> cn.n_name
  AND l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1999-01-01'
GROUP BY sn.n_name, cn.n_name, YEAR(l_shipdate)
""",
)
def tpch_q7_like_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-nation shipping volume — 6-way join with
    the nation dim joined twice under different roles."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    sn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(dsum(revenue, "revenue"))
    )


@register(
    "tpch_q13_like_order_distribution",
    sql="""
SELECT c_count, COUNT(*) AS custdist
FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey)
GROUP BY c_count
""",
)
def tpch_q13_like_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of orders-per-customer (double
    aggregation; the left join keeps zero-order customers in the 0 bin)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q14_like_promo_effect",
    sql=f"""
SELECT 100.0 * {dsum_sql("CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) END")}
       / {dsum_sql('l_extendedprice * (1 - l_discount)')} AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01'
  AND l_shipdate <  TIMESTAMP '1997-10-01'
""",
)
def tpch_q14_like_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio ('promo' = the
    ECONOMY part type in this fixture)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "ECONOMY", revenue)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (F.lit(100.0) * dsum(promo) / dsum(revenue)).alias("promo_revenue_pct")
        )
    )


@register(
    "tpch_q17_like_small_quantity",
    sql=f"""
SELECT {dsum_sql('l_extendedprice')} / 7.0 AS avg_yearly
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand = 'Brand#1'
  AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                      FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
""",
)
def tpch_q17_like_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated AVG subquery per part — expressed as
    a pre-aggregated per-part threshold joined back (exactly the
    decorrelation Catalyst would apply).

    Float note: AVG(l_quantity) is a sum of integral doubles / count —
    order-independent, so the plain avg matches the oracle bitwise.
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(thresholds, li.l_partkey == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg((dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


@register(
    "tpch_q19_like_disjunctive",
    sql=f"""
SELECT {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1 AND l_quantity <= 21)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity >= 10 AND l_quantity <= 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity >= 20 AND l_quantity <= 40)
""",
)
def tpch_q19_like_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive band predicates
    across both join sides (the classic pushdown/CNF-conversion test)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & q.between(1, 21))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25) & q.between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35) & q.between(20, 40))
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(dsum(revenue, "revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


@register(
    "tpch_q22_like_dormant_rich",
    sql=f"""
SELECT c_mktsegment,
       COUNT(*) AS n_custs,
       {dsum_sql('c_acctbal')} AS total_bal
FROM customer c
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_mktsegment
""",
)
def tpch_q22_like_dormant_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: uncorrelated scalar AVG subquery + anti join —
    above-average-balance customers with no recent orders.

    AVG over doubles is order-dependent in general; here the scalar is
    computed once via the exact-decimal mean so the comparison
    threshold is bit-stable (mirrored by the oracle's plain AVG only
    because DuckDB's single-threaded mean over this column matches —
    the engine-side form is the safe one).
    """
    c = _t(spark, sf_dir, "customer")
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    # the scalar stays IN the plan (1-row aggregate broadcast into a
    # cross join) — no driver-side collect inside an operator.
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(davg("c_acctbal", "avg_bal"))
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_custs"), dsum("c_acctbal", "total_bal"))
    )


# ---------------------------------------------------------------------------
# TPC-H depth round 3: Q8/Q9/Q15 shapes (batch 9)
# ---------------------------------------------------------------------------

@register(
    "tpch_q8_like_market_share",
    sql=f"""
WITH all_nations AS (
  SELECT YEAR(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         sn.n_name AS supp_nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region    ON cn.n_regionkey = r_regionkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE r_name = 'AMERICA'
    AND p_type = 'STANDARD'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate <  TIMESTAMP '1998-01-01')
SELECT o_year,
       {dsum_sql("CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE CAST(0 AS DOUBLE) END")}
       / {dsum_sql('volume')} AS mkt_share
FROM all_nations
GROUP BY o_year
""",
)
def tpch_q8_like_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: the 8-table join — market share of one supplier
    nation within a customer region, per year.

    Scale: every dimension broadcasts; lineitem⋈orders is the only big
    shuffle; the conditional-sum ratio is two decimal accumulators in
    one aggregation pass.

    r13 value-content fix: the original spelling kept TPC-H's literal
    'BRAZIL', which the fixture nation inventory (NATION_0..24) never
    contains — the numerator SUM was NULL on every row of every sf and
    the oracle faithfully agreed (the OLS-probe failure mode, caught
    by the --value-content audit this entry motivated).  The measured
    nation is NATION_3 (present in both qualifying years at every sf)
    and the empty-case is an exact 0 share (ELSE 0 — the true Q8
    semantics for a nation with no volume), not NULL.
    """
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    cn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    sn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == F.col("r_regionkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            volume.alias("volume"),
            "supp_nation",
        )
    )
    measured = F.when(
        F.col("supp_nation") == "NATION_3", F.col("volume")
    ).otherwise(F.lit(0.0))
    return base.groupBy("o_year").agg(
        (dsum(measured) / dsum("volume")).alias("mkt_share")
    )


@register(
    "tpch_q9_like_product_profit",
    sql=f"""
SELECT n_name AS nation, YEAR(o_orderdate) AS o_year,
       {dsum_sql('l_extendedprice * (1 - l_discount) - l_quantity * 10.0')} AS profit
FROM part
JOIN lineitem ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%ring%'
GROUP BY n_name, YEAR(o_orderdate)
""",
)
def tpch_q9_like_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier nation per year for a
    product family (LIKE filter on part name; unit cost fixed at 10.0
    since the fixture lacks partsupp.ps_supplycost)."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%ring%"))
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("l_quantity") * F.lit(10.0)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(dsum(profit, "profit"))
    )


@register(
    "tpch_q15_like_top_supplier",
    sql=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         {dsum_sql('l_extendedprice * (1 - l_discount)')} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
""",
)
def tpch_q15_like_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: top supplier by quarterly revenue — a reused
    derived relation ('view') consumed twice: once for the max, once
    for the detail row.  The decimal-exact revenue makes the equality
    comparison against MAX safe across engines."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        s.join(revenue, s.s_suppkey == revenue.supplier_no)
        .crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


#: shared by the streaming twin ``streaming_ewma``
#: (plans/streaming_queries.py), whose streamed fold must match it.
_EWMA_SQL = """
WITH ordered AS (
  SELECT user_id, event_id, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
g AS (
  SELECT user_id, LIST(value ORDER BY ts, event_id) AS vs
  FROM events GROUP BY user_id)
SELECT o.user_id, o.event_id, o.ts, o.value,
       LIST_REDUCE(g.vs[1:o.rn],
                   (acc, x) -> CAST(0.2 AS DOUBLE) * x
                             + CAST(0.8 AS DOUBLE) * acc) AS ewma
FROM ordered o JOIN g USING (user_id)
"""


@register("window_ewma_per_user", sql=_EWMA_SQL)
def window_ewma_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA over event values (α=0.2) — the grouped-map
    ``applyInPandas`` showcase: a sequential recurrence no fixed-frame
    window function expresses (operators.core.ewma).

    Oracle strategy: DuckDB folds each row's value-prefix with the same
    left-to-right recurrence expression, so every float op happens in
    the same order in both engines and the hash match is bitwise (the
    prefix re-fold is O(n²) per key — fine at oracle scale, while the
    Spark side streams each group once).
    """
    from financial_data_stream_processing_engine_spark.operators.core import ewma

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    return ewma(
        ev, alpha=0.2, key="user_id", value="value",
        order_by=("ts", "event_id"), out_col="ewma",
    )


@register(
    "lateral_top3_orders_per_customer",
    sql="""
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 3
) o
""",
)
def lateral_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery join — per-customer top-3 orders
    expressed as SQL LATERAL on BOTH engines (the oracle is the same
    query text modulo view names).  Catalyst rewrites the correlated
    limit into a ranked window under the hood — asserting the SQL
    surface exists, not hand-building the window.
    """
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_lv")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_lv")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer_lv c, LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM orders_lv
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 3
        ) o
        """
    )


@register(
    "sort_null_ordering_topn",
    sql="""
SELECT o_orderkey, NULLIF(o_orderstatus, 'O') AS status_or_null, o_totalprice
FROM orders
ORDER BY status_or_null ASC NULLS LAST, o_totalprice DESC, o_orderkey
LIMIT 100
""",
)
def sort_null_ordering_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULLS LAST ordering under a LIMIT — the null-placement
    rule is observable through which rows survive the truncation (the
    value comparison itself is order-insensitive).  Engines default
    differently (Spark ASC = NULLS FIRST, DuckDB = NULLS LAST), so the
    ordering must be stated, not assumed.
    """
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("status_or_null"),
            "o_totalprice",
        )
        .orderBy(
            F.col("status_or_null").asc_nulls_last(),
            F.col("o_totalprice").desc(),
            F.col("o_orderkey"),
        )
        .limit(100)
    )


@register(
    "agg_filter_clause",
    sql="""
SELECT l_returnflag,
       COUNT(*) AS n_all,
       COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
       CAST(SUM(CAST(l_quantity AS DECIMAL(27,7))) FILTER (WHERE l_tax = 0)
            AS DOUBLE) AS qty_untaxed,
       CAST(MAX(l_extendedprice) FILTER (WHERE l_linestatus = 'F') AS DOUBLE)
           AS max_price_f
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate FILTER (WHERE ...) modifiers — per-aggregate predicates
    in one grouping pass (no self-joins, no CASE pyramids).  Decimal
    accumulation keeps the filtered sum order-independent."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_all"),
        F.count(F.when(F.col("l_discount") > 0.05, True)).alias("n_discounted"),
        F.sum(
            F.when(F.col("l_tax") == 0, F.col("l_quantity").cast("decimal(27,7)"))
        ).cast("double").alias("qty_untaxed"),
        F.max(F.when(F.col("l_linestatus") == "F", F.col("l_extendedprice")))
        .cast("double")
        .alias("max_price_f"),
    )


@register(
    "join_salted_skew",
    sql="""
SELECT e.event_id, e.user_id, e.value, c.c_name, c.c_mktsegment
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
""",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted equi-join (operators.scale.salted_join): the
    events fact joins the customer dim on a salted key, spreading any
    hot user across 8 reducers.  The oracle is the PLAIN join — salting
    must be a physical-only transformation, bit-identical results.
    """
    from financial_data_stream_processing_engine_spark.operators.scale import salted_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
    )
    return salted_join(ev, cust, key="user_id", salt=8).select(
        "event_id", "user_id", "value", "c_name", "c_mktsegment"
    )


_MONTH_SPINE_SQL = """
WITH RECURSIVE bounds AS (
  SELECT DATE_TRUNC('month', MIN(CAST(o_orderdate AS DATE))) AS lo,
         DATE_TRUNC('month', MAX(CAST(o_orderdate AS DATE))) AS hi
  FROM {orders}
),
months(m) AS (
  SELECT lo FROM bounds
  UNION ALL
  SELECT m + INTERVAL '1' MONTH FROM months, bounds WHERE m < hi
)
SELECT CAST(m AS DATE) AS month_start,
       COUNT(o.o_orderkey) AS n_orders
FROM months
LEFT JOIN {orders} o
  ON DATE_TRUNC('month', CAST(o.o_orderdate AS DATE)) = m
GROUP BY m
"""


@register("recursive_cte_month_spine", sql=_MONTH_SPINE_SQL.format(orders="orders"))
def recursive_cte_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill via WITH RECURSIVE (new SQL surface in Spark
    4): generate the month spine spanning the orders' date range, then
    left-join so months with zero orders still appear — the same query
    text runs on both engines.

    Note: each recursion step is its own micro-job, so the spine costs
    seconds of scheduling; for production gap-fill prefer the
    equivalent ``sequence(min, max, interval 1 month)`` + explode,
    which is one stage.  This entry pins the SQL *surface*.
    """
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_rc")
    return spark.sql(_MONTH_SPINE_SQL.format(orders="orders_rc"))


@register(
    "quality_expectations_orders",
    sql="""
WITH m AS (
  SELECT COUNT(*) AS n,
         COUNT(*) FILTER (WHERE o_totalprice IS NULL OR o_totalprice <= 0)
             AS v_price_positive,
         COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P')
                          OR o_orderstatus IS NULL) AS v_status_domain,
         COUNT(*) FILTER (WHERE TRY_CAST(o_orderdate AS DATE) IS NULL)
             AS v_orderdate_parses,
         COUNT(DISTINCT o_orderkey) AS d_key,
         COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS nn_key
  FROM orders)
SELECT 'price_positive' AS "check", CAST(v_price_positive AS BIGINT) AS n_violations,
       v_price_positive = 0 AS passed FROM m
UNION ALL
SELECT 'status_domain', CAST(v_status_domain AS BIGINT), v_status_domain = 0 FROM m
UNION ALL
SELECT 'orderdate_parses', CAST(v_orderdate_parses AS BIGINT), v_orderdate_parses = 0 FROM m
UNION ALL
SELECT 'o_orderkey_unique', CAST((n - nn_key) - d_key + nn_key AS BIGINT),
       (n - nn_key) - d_key + nn_key = 0 FROM m
""",
)
def quality_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate over orders — four checks (value
    range, categorical domain, parseability, key uniqueness) evaluated
    in ONE aggregation pass (operators.quality.expectations); output is
    the (check, n_violations, passed) report a pipeline gates on.
    """
    from financial_data_stream_processing_engine_spark.operators.quality import Check, expectations

    o = _t(spark, sf_dir, "orders")
    checks = [
        Check("price_positive",
              F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)),
        Check("status_domain",
              ~F.col("o_orderstatus").isin("O", "F", "P")
              | F.col("o_orderstatus").isNull()),
        Check("orderdate_parses", F.try_to_timestamp(F.col("o_orderdate")).isNull()),
    ]
    return expectations(o, checks, unique_keys=["o_orderkey"])


@register(
    "cohort_retention",
    sql="""
WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
f AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY 1)
SELECT f.cohort_day,
       CAST(DATE_DIFF('day', f.cohort_day, d.day) AS INT) AS day_offset,
       COUNT(DISTINCT d.user_id) AS n_users
FROM d JOIN f USING (user_id)
GROUP BY 1, 2
""",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-active day,
    distinct-user counts per (cohort, day-offset).  Two aggregations
    on the user key (the second reuses the first's partitioning via the
    join) + one distinct-count shuffle — the standard product-analytics
    rollup, linear in events."""
    d = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    f = d.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        d.join(f, "user_id")
        .groupBy("cohort_day", F.datediff("day", "cohort_day").alias("day_offset"))
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


#: CTEs ``v → c → p``: each user's earliest view, strictly-later
#: click and strictly-later-still purchase (:func:`_funnel_anchors`)
_FUNNEL_STAGE_CTES = """v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY 1),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)"""

#: shared by the streaming IVM twin (plans/streaming_queries.py),
#: which must converge to the identical three-stage result.
_FUNNEL_SQL = f"""
WITH {_FUNNEL_STAGE_CTES}
SELECT stage_order, stage, n_users,
       CAST(n_users AS DOUBLE)
         / (SELECT COUNT(*) FROM v) AS conv_from_first
FROM (
  SELECT CAST(1 AS INT) AS stage_order, 'view' AS stage,
         (SELECT COUNT(*) FROM v) AS n_users
  UNION ALL
  SELECT CAST(2 AS INT), 'click', (SELECT COUNT(*) FROM c)
  UNION ALL
  SELECT CAST(3 AS INT), 'purchase', (SELECT COUNT(*) FROM p)) t
"""


def _funnel_anchors(ev: DataFrame) -> DataFrame:
    """Per-user ordered-funnel anchors → (user_id, t1, t2, t3).

    One row per user with at least one 'view'; t2/t3 NULL until a
    strictly-later click / strictly-later-still purchase exists.  Each
    stage is one user-keyed min-aggregation joined to the previous
    stage's (small) survivor set — AQE broadcasts the survivors; all
    three aggregations and both joins key on user_id, so one exchange
    is reusable across the chain and nothing is super-linear in
    events.  Anchors are a pure per-user function of that user's own
    events — the property the streaming twin's recompute-touched-users
    maintenance relies on."""

    def stage(df_prev, etype, t_prev, t_out):
        e = ev.where(F.col("event_type") == etype)
        if df_prev is None:
            return e.groupBy("user_id").agg(F.min("ts").alias(t_out))
        return (
            e.join(df_prev, "user_id")
            .where(F.col("ts") > F.col(t_prev))
            .groupBy("user_id")
            .agg(F.min("ts").alias(t_out))
        )

    v = stage(None, "view", None, "t1")
    c = stage(v, "click", "t1", "t2")
    p = stage(c, "purchase", "t2", "t3")
    return v.join(c, "user_id", "left").join(p, "user_id", "left")


def _funnel_report(anchors: DataFrame) -> DataFrame:
    """Anchor table → the three (stage_order, stage, n_users,
    conv_from_first) rows.  Conversion ratios are single
    bigint÷bigint divisions — one rounding, identical cross-engine."""
    counts = anchors.agg(
        F.count("t1").alias("n1"), F.count("t2").alias("n2"), F.count("t3").alias("n3")
    )

    def stage_row(order, name, col):
        return counts.select(
            F.lit(order).cast("int").alias("stage_order"),
            F.lit(name).alias("stage"),
            F.col(col).alias("n_users"),
            (F.col(col).cast("double") / F.col("n1")).alias("conv_from_first"),
        )

    return (
        stage_row(1, "view", "n1")
        .unionByName(stage_row(2, "click", "n2"))
        .unionByName(stage_row(3, "purchase", "n3"))
    )


@register("funnel_conversion", sql=_FUNNEL_SQL)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage funnel (view → later click → later
    purchase): per-user earliest qualifying timestamp per stage, then
    stage cardinalities and the conversion ratio from the first stage
    (the round-7 ``funnel_stage_conversion`` entry's ratio projection,
    folded in here — one funnel entry, one proven plan).  See
    :func:`_funnel_anchors` for the plan-shape argument."""
    ev = _t(spark, sf_dir, "events")
    return _funnel_report(_funnel_anchors(ev))


#: conversion horizon of the windowed funnel (days after the user's
#: anchor 'view'); 3 days splits the fixture meaningfully (150 viewers
#: → 115 in-window clickers → 65 in-window purchasers at sf0.01,
#: where the unwindowed funnel converts everyone).
_FUNNEL_WINDOW_DAYS = 3

_FUNNEL_WINDOWED_SQL = f"""
WITH {_FUNNEL_STAGE_CTES}
SELECT stage_order, stage, n_users,
       CAST(n_users AS DOUBLE)
         / (SELECT COUNT(*) FROM v) AS conv_from_first
FROM (
  SELECT CAST(1 AS INT) AS stage_order, 'view' AS stage,
         (SELECT COUNT(*) FROM v) AS n_users
  UNION ALL
  SELECT CAST(2 AS INT), 'click',
         (SELECT COUNT(*) FROM c JOIN v USING (user_id)
          WHERE c.t2 <= v.t1 + INTERVAL {_FUNNEL_WINDOW_DAYS} DAY)
  UNION ALL
  SELECT CAST(3 AS INT), 'purchase',
         (SELECT COUNT(*) FROM p JOIN v USING (user_id)
          WHERE p.t3 <= v.t1 + INTERVAL {_FUNNEL_WINDOW_DAYS} DAY)) t
"""


@register("funnel_conversion_windowed", sql=_FUNNEL_WINDOWED_SQL)
def funnel_conversion_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WINDOWED funnel — conversion counts only when the canonical
    view → click → purchase chain completes within ``_FUNNEL_WINDOW_DAYS``
    of the user's anchor view, the standard product-analytics shape
    ("converted within k days") the unwindowed entry can't distinguish
    on a fixture where everyone eventually converts.  Semantics: the
    anchors are the SAME earliest-qualifying chain
    (:func:`_funnel_anchors` — untouched); the window is one predicate
    per stage on the anchor frame (``t2 ≤ t1 + k`` / ``t3 ≤ t1 + k``,
    monotonicity ``t1 < t2 < t3`` makes the per-stage predicates
    mutually consistent), so the whole variant is a NULL-ing
    projection between the proven anchor plan and the proven report
    aggregation — zero new shuffles, timestamp-exact arithmetic (µs
    integers + an exact day interval) on both engines."""
    ev = _t(spark, sf_dir, "events")
    anchors = _funnel_anchors(ev)
    horizon = F.col("t1") + F.expr(f"INTERVAL {_FUNNEL_WINDOW_DAYS} DAYS")
    windowed = anchors.select(
        "user_id",
        "t1",
        F.when(F.col("t2") <= horizon, F.col("t2")).alias("t2"),
        F.when(F.col("t3") <= horizon, F.col("t3")).alias("t3"),
    )
    return _funnel_report(windowed)


#: CTE ``changes``: the orders change set of the MERGE/CDC/IVM
#: entries (:func:`_orders_changes`)
_ORDERS_CHANGES_CTE = """changes AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         o_totalprice * 1.1 AS o_totalprice
  FROM orders WHERE o_orderkey % 10 = 3
  UNION ALL
  SELECT o_orderkey + 1000000000, o_custkey, 'N', o_totalprice
  FROM orders WHERE o_orderkey % 97 = 0)"""

#: CTEs ``changes → merged → new_v``: the new orders version of
#: :func:`_orders_diff` (changes upserted, keys %101==7 deleted)
_ORDERS_NEW_V_CTES = f"""{_ORDERS_CHANGES_CTE},
merged AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
  FROM orders
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changes)
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM changes),
new_v AS (SELECT * FROM merged WHERE o_orderkey % 101 <> 7)"""


def _orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


def _orders_changes(o: DataFrame) -> DataFrame:
    """The deterministic orders change set: keys %10==3 repriced as
    'U' updates, keys %97==0 re-keyed (+10⁹) as 'N' inserts."""
    updates = o.where(F.col("o_orderkey") % 10 == 3).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * F.lit(1.1)).alias("o_totalprice"),
    )
    inserts = o.where(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + F.lit(1000000000)).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
    )
    return updates.unionByName(inserts)


def _orders_diff(o: DataFrame) -> DataFrame:
    """The change feed (operators/scale.py::table_diff) from ``o`` to
    its new version: :func:`_orders_changes` merge-upserted, then keys
    %101==7 deleted."""
    from financial_data_stream_processing_engine_spark.operators.scale import merge_upsert, table_diff

    new_v = merge_upsert(o, _orders_changes(o), keys=["o_orderkey"]).where(
        F.col("o_orderkey") % 101 != 7
    )
    return table_diff(
        o, new_v, keys=["o_orderkey"],
        compare_cols=["o_custkey", "o_orderstatus", "o_totalprice"],
    )


@register(
    "merge_upsert_orders",
    sql=f"""
WITH {_ORDERS_CHANGES_CTE}
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
FROM orders
WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changes)
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM changes
""",
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation (operators/scale.py::merge_upsert): a
    deterministic change set (keys %10==3 updated with repriced rows,
    %97==0 re-keyed as inserts) upserted into orders — matched rows
    replaced, unmatched inserted, rest untouched.  The merge-on-read
    shape Delta/Iceberg MERGE executes, without the (absent) lake
    jars."""
    from financial_data_stream_processing_engine_spark.operators.scale import merge_upsert

    o = _orders(spark, sf_dir)
    return merge_upsert(o, _orders_changes(o), keys=["o_orderkey"])


@register(
    "cdc_orders_diff",
    sql=f"""
WITH {_ORDERS_NEW_V_CTES},
old_v AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
j AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         o.o_orderkey IS NOT NULL AS in_old,
         n.o_orderkey IS NOT NULL AS in_new,
         o.o_orderstatus AS old_status, n.o_orderstatus AS new_status,
         o.o_totalprice AS old_totalprice, n.o_totalprice AS new_totalprice,
         o.o_custkey AS old_custkey, n.o_custkey AS new_custkey
  FROM old_v o FULL OUTER JOIN new_v n ON o.o_orderkey = n.o_orderkey)
SELECT o_orderkey, change_type, old_status, new_status,
       old_totalprice, new_totalprice
FROM (
  SELECT j.*,
         CASE WHEN NOT in_old THEN 'I'
              WHEN NOT in_new THEN 'D'
              WHEN old_custkey IS DISTINCT FROM new_custkey
                OR old_status IS DISTINCT FROM new_status
                OR old_totalprice IS DISTINCT FROM new_totalprice THEN 'U'
         END AS change_type
  FROM j)
WHERE change_type IS NOT NULL
""",
)
def cdc_orders_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed between two table versions
    (operators/scale.py::table_diff): old = orders, new = the
    merge-upserted snapshot minus a deterministic delete set — the
    diff yields 'U' rows for repriced keys, 'I' for inserted keys, 'D'
    for deleted keys, nothing for untouched keys.  One full-outer join
    on the key; this is the change feed a lake format reads from its
    log, derived from snapshots instead."""
    return _orders_diff(_orders(spark, sf_dir)).select(
        "o_orderkey",
        "change_type",
        F.col("old_val.o_orderstatus").alias("old_status"),
        F.col("new_val.o_orderstatus").alias("new_status"),
        F.col("old_val.o_totalprice").alias("old_totalprice"),
        F.col("new_val.o_totalprice").alias("new_totalprice"),
    )


def _morton_entry_sql() -> str:
    from financial_data_stream_processing_engine_spark.operators.scale import morton_z16_sql

    z = morton_z16_sql("(user_id % 65536)", "(CAST(FLOOR(EPOCH(ts)) AS BIGINT) % 65536)")
    return f"""
SELECT event_id, {z} AS zval, {z} >> 16 AS ztile
FROM events
"""


@register("layout_morton_zorder", sql=_morton_entry_sql())
def layout_morton_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order curve position for every event over the (user_id,
    time) plane (operators/scale.py::morton_z16) plus its coarse
    16-bit tile.  Sorting a write by ``zval`` clusters BOTH dimensions
    into parquet row-group min/max stats — the multi-dimensional
    layout optimization (Delta OPTIMIZE ZORDER) as a pure codegen'd
    expression; the oracle recomputes the identical shift/mask sum."""
    from financial_data_stream_processing_engine_spark.operators.scale import morton_z16

    ev = _t(spark, sf_dir, "events")
    a = F.col("user_id") % 65536
    b = F.unix_timestamp("ts") % 65536
    z = morton_z16(a, b)
    return ev.select(
        "event_id", z.alias("zval"), F.shiftright(z, 16).alias("ztile")
    )


#: Shared verbatim with ``streaming_ivm_orders_agg``, whose streamed view
#: it certifies too.
_IVM_ORDERS_STATUS_SQL = f"""
WITH {_ORDERS_NEW_V_CTES}
SELECT o_orderstatus,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(27,7))) AS DOUBLE) AS total_price,
       COUNT(*) AS n_orders
FROM new_v
GROUP BY o_orderstatus
"""


@register("ivm_orders_status_agg", sql=_IVM_ORDERS_STATUS_SQL)
def ivm_orders_status_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a per-status SUM/COUNT aggregate
    maintained by applying the CDC diff (cdc_orders_diff's change set)
    to the OLD aggregate — never rescanning the new snapshot
    (operators/scale.py::cdc_apply_to_sum_count).  The oracle computes
    the aggregate over the new snapshot directly: a hash match PROVES
    the incrementally-maintained view is bit-identical to the full
    recompute, which is exactly the guarantee a materialized view
    needs before you trust delta-updates at 100 TB (the diff is MBs;
    the rescan would be the lake).  Decimal accumulation end-to-end
    makes the addition exact, hence order- and path-independent."""
    from financial_data_stream_processing_engine_spark.operators.scale import (
        cdc_apply_to_sum_count,
    )

    o = _orders(spark, sf_dir)
    diff = _orders_diff(o)
    old_agg = o.groupBy("o_orderstatus").agg(
        F.sum(F.col("o_totalprice").cast("decimal(27,7)")).alias("_dec_sum"),
        F.count(F.lit(1)).alias("n"),
    )
    maintained = cdc_apply_to_sum_count(
        old_agg, diff, group_from="o_orderstatus", value_from="o_totalprice",
        group_col="o_orderstatus",
    )
    return maintained.select(
        "o_orderstatus",
        F.col("_dec_sum").cast("double").alias("total_price"),
        F.col("n").alias("n_orders"),
    )


@register(
    "maintenance_compact_files",
    sql="""
SELECT event_id, user_id, event_type, value FROM events
""",
)
def maintenance_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction — the table-maintenance operation every
    100 TB lake runs nightly: a fragmented dataset (64 shards here,
    mimicking per-micro-batch streaming output) is rewritten into a
    bounded file count with ``repartition``, and the compacted copy is
    proven lossless against the oracle (the original table).

    Scale: compaction IS a repartition-write — one shuffle sized by
    the target file count; readers then pay O(files) less scheduling
    and metadata.  The file-count assertions run on the driver against
    the filesystem, not the data.
    """
    from pathlib import Path

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    frag_dir = scratch_dir(prefix="compact_in_")
    ev.repartition(64).write.mode("overwrite").parquet(frag_dir)
    n_frag = len(list(Path(frag_dir).glob("part-*.parquet")))
    compact_dir = scratch_dir(prefix="compact_out_")
    spark.read.parquet(frag_dir).repartition(4).write.mode("overwrite").parquet(
        compact_dir
    )
    n_compact = len(list(Path(compact_dir).glob("part-*.parquet")))
    assert n_frag == 64 and n_compact == 4, (n_frag, n_compact)
    return spark.read.schema(
        "event_id bigint, user_id bigint, event_type string, value double"
    ).parquet(compact_dir)


@register(
    "schema_evolution_merge_read",
    sql="""
SELECT event_id, value, CAST(NULL AS VARCHAR) AS batch_tag FROM events
WHERE event_id % 2 = 0
UNION ALL
SELECT event_id, value, 'v2' AS batch_tag FROM events
WHERE event_id % 2 = 1
""",
)
def schema_evolution_merge_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet batches written with
    DIFFERENT schemas (v2 adds ``batch_tag``) land in one dataset;
    ``mergeSchema=true`` reconciles them and back-fills the missing
    column with NULL for v1 rows — the additive-evolution contract a
    long-lived ingestion dataset depends on (columns appear over time;
    old files never rewrite).
    """

    ev = _t(spark, sf_dir, "events")
    d = scratch_dir(prefix="schema_evo_")
    v1 = ev.where(F.col("event_id") % 2 == 0).select("event_id", "value")
    v2 = ev.where(F.col("event_id") % 2 == 1).select(
        "event_id", "value", F.lit("v2").alias("batch_tag")
    )
    v1.write.mode("append").parquet(d)
    v2.write.mode("append").parquet(d)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(d)
        .select("event_id", "value", "batch_tag")
    )


@register(
    "winsorize_events_value",
    sql="""
WITH stats AS (
  SELECT event_type,
         QUANTILE_CONT(value, 0.05) AS p05,
         QUANTILE_CONT(value, 0.95) AS p95
  FROM events GROUP BY event_type)
SELECT e.event_id, e.event_type, e.value,
       LEAST(GREATEST(e.value, s.p05), s.p95) AS value_winsorized,
       (e.value < s.p05 OR e.value > s.p95) AS clipped
FROM events e JOIN stats s USING (event_type)
""",
)
def winsorize_events_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clip each event's value to its event-type's exact
    [p05, p95] band — the outlier treatment a feature pipeline applies
    before normalization (clamping, not dropping, preserves row
    count).  Exact interpolated percentiles match QUANTILE_CONT
    (established by agg_percentiles); the tiny per-group stats
    broadcast, so the clip is map-side.

    Scale: exact percentiles need a per-group sort — at 100 TB swap in
    approx_percentile for the stats CTE, same plan otherwise.
    """
    ev = _t(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("p05"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")).alias(
                "value_winsorized"
            ),
            ((F.col("value") < F.col("p05")) | (F.col("value") > F.col("p95"))).alias(
                "clipped"
            ),
        )
    )


@register(
    "python_datasource_sink_roundtrip",
    sql="""
SELECT event_id, user_id, value FROM events
""",
)
def python_datasource_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource WRITER round-trip
    (sources/tick_datasource.py::JsonlDirDataSource): events
    written through ``format("jsonl_dir")`` — executor-parallel JSONL
    shards, rename-on-commit atomicity — then read back and proven
    lossless against the original table.  Doubles survive exactly
    because json emits the shortest round-trip repr."""

    from financial_data_stream_processing_engine_spark.sources.tick_datasource import register_sink

    register_sink(spark)
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    d = scratch_dir(prefix="jsonl_sink_") + "/out"
    ev.write.format("jsonl_dir").option("path", d).mode("append").save()
    return spark.read.schema("event_id bigint, user_id bigint, value double").json(d)


# ---------------------------------------------------------------------------
# round 5: approximate heavy hitters (count-min sketch)
# ---------------------------------------------------------------------------

#: rebuild the identical 3×512 count-min sketch (same md5-derived
#: positions, same min-over-rows estimate) and apply the same
#: threshold — both engines compute the same counters, so even
#: collision overcounts agree.
_CMS_HH_SQL = """
WITH keys AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
pos AS (
  SELECT k, j,
         CAST(('0x' || SUBSTR(MD5(k || '#c' || j), 1, 8)) AS BIGINT) % 512 AS pos
  FROM keys CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS j)),
sketch AS (SELECT j, pos, COUNT(*) AS cnt FROM pos GROUP BY j, pos),
tc AS (
  SELECT CAST(user_id AS VARCHAR) AS user_id, COUNT(*) AS true_count
  FROM events GROUP BY 1),
upos AS (
  SELECT t.user_id, t.true_count, x.j,
         CAST(('0x' || SUBSTR(MD5(t.user_id || '#c' || x.j), 1, 8)) AS BIGINT)
           % 512 AS pos
  FROM tc t CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS j) x),
est AS (
  SELECT u.user_id,
         MIN(COALESCE(s.cnt, 0)) AS est_count,
         MIN(u.true_count) AS true_count
  FROM upos u LEFT JOIN sketch s ON u.j = s.j AND u.pos = s.pos
  GROUP BY u.user_id)
SELECT user_id, est_count, true_count
FROM est WHERE est_count >= 75
"""


@register("approx_heavy_hitters", sql=_CMS_HH_SQL)
def approx_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate heavy hitters over events.user_id via a 3×512
    count-min sketch (operators/sketch.py) — the scale-safe sibling of
    exact top-k: sketch state is bounded at depth×width counters at
    ANY key cardinality, updates are order-independent sums (unlike
    SpaceSaving), and est ≥ true makes the report no-false-negative.
    The exact count rides along as an error audit.  Oracle: the
    identical sketch rebuilt in DuckDB from the same md5 positions —
    collision overcounts and all."""
    from financial_data_stream_processing_engine_spark.operators import sketch

    ev = load_table(spark, sf_dir, "events")
    return sketch.heavy_hitters(ev, "user_id", threshold=75)


def _hll_sql() -> str:
    """DuckDB rebuild of the identical 256-register HLL: same
    md5-derived 32-bit hash split, same 25−LENGTH(bin(w)) ρ rule, same
    exact dyadic harmonic sum — down to the injected α literal."""
    from financial_data_stream_processing_engine_spark.functions.numeric import dlit_sql
    from financial_data_stream_processing_engine_spark.operators.sketch import (
        HLL_ALPHA,
        HLL_M,
    )

    return f"""
WITH keys AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
h AS (
  SELECT CAST(('0x' || SUBSTR(MD5(k || '#h'), 1, 8)) AS BIGINT) AS h
  FROM keys),
r AS (
  SELECT h // 16777216 AS bucket,
         CASE WHEN h % 16777216 = 0 THEN 25
              ELSE 25 - LENGTH(bin(h % 16777216)) END AS rho
  FROM h),
reg AS (SELECT bucket, MAX(rho) AS m_j FROM r GROUP BY bucket),
s AS (
  SELECT COUNT(*) AS nonzero_buckets,
         SUM(POWER(2.0, -m_j)) AS s_nonzero
  FROM reg),
e AS (SELECT COUNT(DISTINCT CAST(user_id AS VARCHAR)) AS true_distinct FROM events)
SELECT CAST({HLL_M} AS INTEGER) AS n_buckets,
       nonzero_buckets,
       ({HLL_M}.0 - nonzero_buckets) + s_nonzero AS harmonic_sum,
       {dlit_sql(HLL_ALPHA)} * {float(HLL_M * HLL_M)!r}
         / (({HLL_M}.0 - nonzero_buckets) + s_nonzero) AS hll_estimate,
       ({dlit_sql(HLL_ALPHA)} * {float(HLL_M * HLL_M)!r}
         / (({HLL_M}.0 - nonzero_buckets) + s_nonzero))
         <= {float(2.5 * HLL_M)!r} AS small_range,
       true_distinct
FROM s CROSS JOIN e
"""


@register("approx_distinct_hll", sql=_hll_sql())
def approx_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch HyperLogLog cardinality over events.user_id
    (operators/sketch.py::hll_report) — the transparent sibling of the
    built-in ``approx_count_distinct`` entry: 256 MAX-registers
    (order-independent, mergeable, bounded state at any cardinality),
    an EXACTLY-computable dyadic harmonic sum, and the exact distinct
    count as an audit column.  Oracle: the full register table and
    estimate rebuilt in DuckDB from the same md5 hash split — the
    value hash certifies every register, not just the estimate."""
    from financial_data_stream_processing_engine_spark.operators import sketch

    ev = load_table(spark, sf_dir, "events")
    return sketch.hll_report(ev, "user_id")


_BUCKETED_JOIN_SQL = f"""
SELECT o.o_custkey AS custkey,
       c.c_name AS c_name,
       COUNT(*) AS n_orders,
       {dsum_sql('o.o_totalprice')} AS total_spent
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1, 2
"""


@register("join_bucketed_zero_shuffle", sql=_BUCKETED_JOIN_SQL)
def join_bucketed_zero_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located (bucketed) join: both sides written ``bucketBy(8,
    custkey).sortBy(custkey)``, then joined AND aggregated on the
    bucket key with ZERO exchanges — the scan's bucket distribution
    satisfies the sort-merge join and the groupBy in one go (plan
    pinned in tests/test_plans.py).  This is the 100 TB pattern for
    fact-to-fact joins where neither side broadcasts: pay the shuffle
    ONCE at write time, amortize it over every subsequent join — at a
    thousand executors the bucketed layout replaces the single
    costliest network step of the query.  The ``merge`` hint keeps
    Catalyst from broadcasting the (fixture-tiny) dimension so the
    plan exercised is the one that matters at scale.  Results are
    layout-independent, so the plain-join oracle certifies values."""
    import uuid

    sfx = uuid.uuid4().hex[:10]
    base = scratch_dir(prefix="bucketed_")
    names = {}
    for tbl, key in (("orders", "o_custkey"), ("customer", "c_custkey")):
        tname = f"bkt_{tbl}_{sfx}"
        (
            _t(spark, sf_dir, tbl)
            .write.bucketBy(8, key)
            .sortBy(key)
            .option("path", f"{base}/{tbl}")
            .mode("overwrite")
            .saveAsTable(tname)
        )
        names[tbl] = tname
    o = spark.table(names["orders"])
    c = spark.table(names["customer"]).hint("merge")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("o_custkey").alias("custkey"), F.col("c_name"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "total_spent"),
        )
    )


_PARTITION_PRUNE_SQL = """
SELECT event_type,
       CAST(ts AS DATE) AS day,
       COUNT(*) AS n,
       COUNT(DISTINCT user_id) AS n_users
FROM events
WHERE event_type IN ('click', 'view')
GROUP BY 1, 2
"""


@register("layout_partition_prune", sql=_PARTITION_PRUNE_SQL)
def layout_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout + partition-pruned read: events
    written ``partitionBy(event_type)``, then a two-type filter that
    resolves at the METADATA level — the scan's PartitionFilters prune
    to 2 of the type directories before a single row is read (plan
    pinned in tests/test_plans.py).  At 100 TB this is the first-line
    defense: a predicate on the partition column costs a directory
    listing, not a scan.  The partition column comes back as a
    directory-derived string, so it is recast to match the source
    schema; values are layout-independent, certified by the plain
    oracle."""

    # always load through _t: it pins the session timezone the ts→date
    # cast below depends on, even when the partitioned copy is cached
    src = _t(spark, sf_dir, "events")
    key = (spark.sparkContext.applicationId, sf_dir, "evt_by_type")
    d = _PART_DIRS.get(key)
    if d is None:
        d = scratch_dir(prefix="evt_by_type_")
        src.write.partitionBy("event_type").mode("overwrite").parquet(d)
        _PART_DIRS[key] = d
    ev = spark.read.parquet(d)
    return (
        ev.filter(F.col("event_type").isin("click", "view"))
        .groupBy(
            F.col("event_type").cast("string").alias("event_type"),
            F.col("ts").cast("date").alias("day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


#: (applicationId, sf_dir, layout) → written-once partitioned dir
_PART_DIRS: dict[tuple, str] = {}


_FUZZY_NAMES_SQL = """
WITH k AS (
  SELECT c_custkey AS id, c_name AS name,
         UNNEST(LIST_PREPEND(c_name,
           LIST_TRANSFORM(GENERATE_SERIES(1, LENGTH(c_name)),
             i -> SUBSTR(c_name, 1, i - 1) || SUBSTR(c_name, i + 1)))) AS key
  FROM customer),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         a.name AS name_a, b.name AS name_b
  FROM k a JOIN k b ON a.key = b.key AND a.id < b.id)
SELECT id_a, id_b, name_a, name_b,
       CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
FROM cand
WHERE levenshtein(name_a, name_b) <= 1
"""


@register("join_fuzzy_names_editdist1", sql=_FUZZY_NAMES_SQL)
def join_fuzzy_names_editdist1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy self-join: customer-name pairs within
    levenshtein distance 1 via deletion-neighborhood (FastSS) blocking
    (operators/fuzzy.py::fuzzy_pairs_edit1) — candidates come from a
    key-equality join on the len+1 deletion variants (LOSSLESS
    blocking, unlike LSH), and the exact distance check runs on
    candidates only.  Oracle: the identical neighborhood generation +
    distance filter in DuckDB (both engines' classic-DP levenshtein
    agree on integers)."""
    from financial_data_stream_processing_engine_spark.operators.fuzzy import fuzzy_pairs_edit1

    c = _t(spark, sf_dir, "customer")
    return fuzzy_pairs_edit1(c, id_col="c_custkey", name_col="c_name")


_HDR_QUANTILES_SQL = """
WITH v AS (
  SELECT o_totalprice AS val,
         CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v
  FROM orders WHERE CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) > 0),
b AS (
  SELECT v,
         CASE WHEN LENGTH(bin(v)) <= 5 THEN v
              ELSE (CAST(LENGTH(bin(v)) AS BIGINT) << 4)
                   + CAST(FLOOR(v / POWER(2.0, LENGTH(bin(v)) - 5)) AS BIGINT) - 16
         END AS bucket,
         CASE WHEN LENGTH(bin(v)) <= 5 THEN v
              ELSE CAST(FLOOR(v / POWER(2.0, LENGTH(bin(v)) - 5))
                        * POWER(2.0, LENGTH(bin(v)) - 5) AS BIGINT)
         END AS fl
  FROM v),
h AS (SELECT bucket, MIN(fl) AS fl, COUNT(*) AS cnt FROM b GROUP BY bucket),
c AS (
  SELECT bucket, fl, cnt,
         SUM(cnt) OVER (ORDER BY bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(cnt) OVER () AS n
  FROM h),
pick AS (
  SELECT q, MIN(bucket) AS bucket FROM (
    SELECT qq.q AS q, c.bucket
    FROM c CROSS JOIN (SELECT UNNEST(['0.25', '0.5', '0.95', '0.99']) AS q) qq
    WHERE c.cum >= CEIL(CAST(qq.q AS DOUBLE) * c.n))
  GROUP BY q),
ex AS (
  SELECT QUANTILE_CONT(val, 0.25) AS x0, QUANTILE_CONT(val, 0.5) AS x1,
         QUANTILE_CONT(val, 0.95) AS x2, QUANTILE_CONT(val, 0.99) AS x3
  FROM v)
SELECT p.q,
       (SELECT fl FROM h WHERE h.bucket = p.bucket) / 100.0 AS est,
       CASE p.q WHEN '0.25' THEN ex.x0 WHEN '0.5' THEN ex.x1
                WHEN '0.95' THEN ex.x2 ELSE ex.x3 END AS exact
FROM pick p CROSS JOIN ex
"""


@register("approx_quantiles_hdr", sql=_HDR_QUANTILES_SQL)
def approx_quantiles_hdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HdrHistogram-style quantile sketch over orders.o_totalprice
    (operators/sketch.py::hdr_quantile_report) — the quantile member
    of the sketch family (CMS frequency / HLL cardinality / Bloom
    membership / log-linear histogram quantiles): a pure-integer
    log-linear grid (MSB octave × 16 linear sub-buckets) whose COUNT
    aggregation is order-independent, mergeable, streaming-native,
    and ≤ ~16 rows per octave of dynamic range at ANY data size.
    Unlike t-digest the result is deterministic, and unlike
    ln()-based buckets it is engine-exact — the oracle rebuilds every
    bucket, the rank walk, and the ≤ 6.25%-error estimates in DuckDB.
    The exact interpolated percentile rides along as the audit."""
    from financial_data_stream_processing_engine_spark.operators import sketch

    o = _t(spark, sf_dir, "orders")
    return sketch.hdr_quantile_report(
        o, F.col("o_totalprice"), qs=(0.25, 0.5, 0.95, 0.99), scale=100
    )


# ---------------------------------------------------------------------------
# round 5 (cont.): KMV distinct sketch with set-operation estimates
# ---------------------------------------------------------------------------

#: rebuild the identical k=256 KMV sketches in DuckDB — same md5 '#v'
#: hash, same k-smallest-distinct order statistics, same
#: (k−1)·2³²/h₍k₎ estimator with the exact-count degradation — so even
#: 32-bit hash collisions agree between engines.
_KMV_SETOPS_SQL = """
WITH tagged AS (
  SELECT 'a' AS tag, l_orderkey AS k FROM lineitem WHERE l_returnflag = 'R'
  UNION ALL
  SELECT 'b' AS tag, l_orderkey AS k FROM lineitem WHERE l_quantity > 25),
hashes AS (
  SELECT DISTINCT tag,
         CAST(('0x' || SUBSTR(MD5(CAST(k AS VARCHAR) || '#v'), 1, 8)) AS BIGINT) AS h
  FROM tagged),
sk AS (
  SELECT tag, h FROM (
    SELECT tag, h, ROW_NUMBER() OVER (PARTITION BY tag ORDER BY h) AS rn
    FROM hashes) t
  WHERE rn <= 256),
per AS (
  SELECT tag,
         CASE WHEN COUNT(*) < 256 THEN CAST(COUNT(*) AS DOUBLE)
              ELSE 1095216660480.0 / CAST(MAX(h) AS DOUBLE) END AS est
  FROM sk GROUP BY tag),
ku AS (
  SELECT h FROM (
    SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
    FROM (SELECT DISTINCT h FROM sk)) t
  WHERE rn <= 256),
u AS (SELECT COUNT(*) AS cnt_u, MAX(h) AS hk_u FROM ku),
bth AS (
  SELECT COUNT(*) AS n_both FROM ku
  WHERE h IN (SELECT h FROM sk WHERE tag = 'a')
    AND h IN (SELECT h FROM sk WHERE tag = 'b')),
keys AS (SELECT DISTINCT tag, k FROM tagged),
ex AS (SELECT k, COUNT(DISTINCT tag) AS nt FROM keys GROUP BY k),
audits AS (
  SELECT COUNT(*) AS true_union,
         COUNT(*) FILTER (WHERE nt = 2) AS true_intersect
  FROM ex),
pt AS (SELECT tag, COUNT(*) AS n FROM keys GROUP BY tag),
eu AS (
  SELECT cnt_u, hk_u,
         CASE WHEN cnt_u < 256 THEN CAST(cnt_u AS DOUBLE)
              ELSE 1095216660480.0 / CAST(hk_u AS DOUBLE) END AS est_union
  FROM u)
SELECT CAST(256 AS INTEGER) AS k,
       (SELECT est FROM per WHERE tag = 'a') AS est_a,
       (SELECT est FROM per WHERE tag = 'b') AS est_b,
       eu.est_union,
       (bth.n_both * eu.est_union) / eu.cnt_u AS est_intersect,
       (SELECT n FROM pt WHERE tag = 'a') AS true_a,
       (SELECT n FROM pt WHERE tag = 'b') AS true_b,
       audits.true_union,
       audits.true_intersect
FROM eu CROSS JOIN bth CROSS JOIN audits
"""


@register("approx_setops_kmv", sql=_KMV_SETOPS_SQL)
def approx_setops_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count SET OPERATIONS from two k=256 KMV sketches
    (operators/sketch.py::kmv_setops_report) — |A|, |B|, |A∪B| from the
    (k−1)/h₍k₎ order statistic, |A∩B| from the ratio estimator over the
    merged sketch, exact audits alongside.  A = orderkeys containing a
    returned lineitem, B = orderkeys with a quantity-over-25 lineitem.
    Completes the sketch family: CMS = frequency, HLL = cardinality,
    HDR = quantiles, KMV = cardinality under ∪/∩ (which HLL alone
    cannot estimate for ∩).  State is ≤ k rows per set at ANY
    cardinality; everything past the per-set distinct is sketch-sized.
    Oracle: the identical sketches rebuilt in DuckDB."""
    from financial_data_stream_processing_engine_spark.operators import sketch

    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select(
        F.lit("a").alias("tag"), F.col("l_orderkey")
    )
    b = li.filter(F.col("l_quantity") > 25).select(
        F.lit("b").alias("tag"), F.col("l_orderkey")
    )
    tagged = a.unionByName(b)
    return sketch.kmv_setops_report(
        tagged, "tag", F.col("l_orderkey").cast("string"), k=256
    )


@register(
    "join_proximity_binned",
    sql="""
WITH pts AS (SELECT event_id, epoch_us(ts) AS us FROM events),
pairs AS (
  SELECT a.event_id AS id_a, b.event_id AS id_b,
         a.us // 300000000 AS bin, ABS(a.us - b.us) AS gap_us
  FROM pts a JOIN pts b
    ON a.event_id < b.event_id AND ABS(a.us - b.us) <= 150000000)
SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
       CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us
FROM pairs GROUP BY bin
""",
)
def join_proximity_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global temporal proximity self-join with NO equi-key — every
    event pair within ±150 s across ALL users (cross-user coincidence
    detection), rewritten from an unkeyed theta join into an equi-join
    by BIN BUCKETING (operators/scale.py::binned_proximity_pairs):
    probe side keeps its 300 s bin, build side explodes to bin±1, one
    equi-join shuffle on the bin key, exact integer-µs residual.  The
    catalog's other interval joins all carry an equi-key (user_id /
    price band); this is the shape where naive Catalyst planning is a
    cartesian with a filter, and binning is THE scale answer (what
    range-join optimizer hints do internally).  Reported per probe-bin
    as exact integer aggregates.  Oracle: the brute-force theta join
    (DuckDB plans it as an IEJoin — tractable at oracle scale), same
    integer arithmetic.
    """
    from financial_data_stream_processing_engine_spark.operators import scale

    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.unix_micros(F.col("ts")).alias("us")
    )
    pairs = scale.binned_proximity_pairs(
        ev, ts_micros_col="us", id_col="event_id", radius_micros=150_000_000
    )
    return pairs.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min("gap_us").alias("min_gap_us"),
        F.sum("gap_us").alias("sum_gap_us"),
    )
