"""Analytics surface: windows, set ops, grouping sets, funnels, cohorts, sketches.

Split from the monolithic suite.py (round 4); unit text unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from etl_file_loader_spark.functions import local_rows_df
from etl_file_loader_spark.suite._shared import (
    ORACLES,
    QUERIES,
    _dec,
    _epoch_snapshot,
    _suite_ckpt_dir,
    _t,
)


def q_customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order rollup joined back to the dimension (broadcast)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    agg = (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).alias("_sum"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias(
                "last_order_at"
            ),
        )
    )
    out = (
        agg.join(F.broadcast(cust), agg.o_custkey == cust.c_custkey)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            "n_orders",
            F.col("_sum").cast("double").alias("total_spend"),
            "last_order_at",
        )
        .orderBy(F.col("_sum").desc(), "custkey")
        .limit(10)
    )
    return out


Q_CUSTOMER_ORDER_STATS_SQL = """
SELECT o_custkey AS custkey, c_name AS name, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
       strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS last_order_at
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY o_custkey, c_name
ORDER BY sum(CAST(o_totalprice AS DECIMAL(18,2))) DESC, custkey
LIMIT 10
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-shaped windowed aggregate, batch form: hour x event_type."""
    ev = _t(spark, sf_dir, "events")
    out = (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("_sv"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .select(
            "hour",
            "event_type",
            "n_events",
            F.col("_sv").cast("double").alias("sum_value"),
            "n_users",
        )
    )
    return out


Q_EVENTS_HOURLY_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


def q_top_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via ranking window (deterministic tie-break)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("user_id", "rank", "event_id", "value")
    )


Q_TOP_EVENTS_PER_USER_SQL = """
SELECT user_id, rank, event_id, value FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rank
  FROM events
) WHERE rank <= 3
ORDER BY user_id, rank
"""


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (lag + cumulative gap count), 30-min gap."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond precision on both engines (cast-to-long would floor seconds)
    gap = F.when(
        (F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w))
        > 1800 * 1_000_000,
        1,
    ).otherwise(0)
    return (
        ev.withColumn("_gap", gap)
        .groupBy("user_id")
        .agg(
            (F.sum("_gap") + 1).cast("long").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


Q_SESSIONIZATION_SQL = """
SELECT user_id, CAST(sum(g) + 1 AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
  SELECT user_id,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
              THEN 1 ELSE 0 END AS g
  FROM events
) GROUP BY user_id ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# advanced joins / grouping sets
# ---------------------------------------------------------------------------


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest purchase at-or-before each event, per user."""
    from etl_file_loader_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("purchase_event_id"),
            F.max("value").alias("purchase_value"),
        )
    )
    left = ev.select("event_id", "user_id", "ts")
    joined = asof_join(
        left,
        purchases,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_cols=["purchase_event_id", "purchase_value"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        F.col("purchase_event_id_asof"),
        F.col("purchase_value_asof"),
    )


Q_ASOF_JOIN_SQL = """
WITH r AS (
  SELECT user_id, ts, max(event_id) AS purchase_event_id, max(value) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
       r.purchase_event_id AS purchase_event_id_asof,
       r.purchase_value AS purchase_value_asof
FROM events e ASOF LEFT JOIN r ON e.user_id = r.user_id AND e.ts >= r.ts
"""


def q_range_join_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized range join: events per user in the preceding hour."""
    from etl_file_loader_spark.operators.joins import bucketized_range_join

    ev = _t(spark, sf_dir, "events")
    left = ev.select("event_id", "user_id", "ts")
    right = ev.select(
        F.col("user_id"), F.col("ts").alias("r_ts"), F.col("event_id").alias("r_event_id")
    )
    joined = bucketized_range_join(
        left, right, on="user_id", left_time="ts", right_time="r_ts",
        window_seconds=3600,
    )
    return joined.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_in_window")
    )


Q_RANGE_JOIN_COUNT_SQL = """
SELECT a.event_id, count(*) AS n_in_window
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND epoch_us(b.ts) >= epoch_us(a.ts) - 3600000000
 AND epoch_us(b.ts) <= epoch_us(a.ts)
GROUP BY 1
"""


def q_pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: linestatus rows x returnflag columns, decimal-exact qty sums."""
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum(_dec("l_quantity")))
    )
    return out.select(
        "l_linestatus",
        F.coalesce(F.col("A").cast("double"), F.lit(0.0)).alias("qty_a"),
        F.coalesce(F.col("N").cast("double"), F.lit(0.0)).alias("qty_n"),
        F.coalesce(F.col("R").cast("double"), F.lit(0.0)).alias("qty_r"),
    )


Q_PIVOT_RETURNFLAG_SQL = """
SELECT l_linestatus,
       coalesce(CAST(sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS qty_a,
       coalesce(CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS qty_n,
       coalesce(CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS qty_r
FROM lineitem GROUP BY l_linestatus
"""


def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (status, priority): subtotal + grand-total rows."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).alias("_s"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n_orders",
            F.col("_s").cast("double").alias("total_price"),
        )
    )


Q_ROLLUP_ORDERS_SQL = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q_supplier_part_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier x part-brand rollup (two broadcast dims on the fact)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    out = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("s_name", "p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_dec("l_quantity")).alias("_q"),
        )
        .select(
            F.col("s_name").alias("supplier"),
            F.col("p_brand").alias("brand"),
            "n_items",
            F.col("_q").cast("double").alias("total_qty"),
        )
    )
    return out


Q_SUPPLIER_PART_STATS_SQL = """
SELECT s_name AS supplier, p_brand AS brand, count(*) AS n_items,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name, p_brand
"""


def q_window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function sweep: running total, lag delta, rank, ntile —
    per-customer order history."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    price_dec = F.col("o_totalprice").cast("decimal(18,2)")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(price_dec).over(w_cum).cast("double").alias("running_spend"),
        (price_dec - F.lag(price_dec).over(w)).cast("double").alias("delta_vs_prev"),
        F.row_number().over(w).alias("order_seq"),
        F.ntile(4).over(w).alias("quartile"),
    )


Q_WINDOW_FUNCTIONS_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
       CAST(CAST(o_totalprice AS DECIMAL(18,2))
            - lag(CAST(o_totalprice AS DECIMAL(18,2)))
              OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS delta_vs_prev,
       row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq,
       ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS quartile
FROM orders
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: purchasers INTERSECT clickers, EXCEPT error-users."""
    ev = _t(spark, sf_dir, "events")

    def users(t):
        return ev.filter(F.col("event_type") == t).select("user_id")

    heavy_error = (
        users("error").groupBy("user_id").count().filter(F.col("count") > 13).select("user_id")
    )
    engaged = users("purchase").intersect(users("click"))
    return engaged.exceptAll(heavy_error).distinct().select(
        F.col("user_id").alias("engaged_clean_user")
    )


Q_SET_OPS_SQL = """
SELECT user_id AS engaged_clean_user FROM (
  SELECT user_id FROM events WHERE event_type = 'purchase'
  INTERSECT
  SELECT user_id FROM events WHERE event_type = 'click'
)
EXCEPT
SELECT user_id FROM events WHERE event_type = 'error' GROUP BY user_id HAVING count(*) > 13
"""


def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit semi/anti join pair: customers with a big order vs without."""
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    with_big = cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
    without_big = cust.join(big, cust.c_custkey == big.o_custkey, "left_anti")
    return (
        with_big.select("c_custkey", F.lit(1).alias("has_big_order"))
        .unionByName(without_big.select("c_custkey", F.lit(0).alias("has_big_order")))
    )


Q_SEMI_ANTI_SQL = """
SELECT c_custkey, 1 AS has_big_order FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
UNION ALL
SELECT c_custkey, 0 AS has_big_order FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
"""


# ---------------------------------------------------------------------------
# ordered event funnel
# ---------------------------------------------------------------------------


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel view -> click -> purchase, 24 h conversion window.

    Step N counts users whose first step-N event strictly follows their
    first qualifying step-(N-1) event within 24 hours. Each step is one
    filtered aggregation joined back on user_id — filters push to the scan,
    the shuffle key is user_id throughout, and step tables shrink
    monotonically so the later joins broadcast at any scale.
    """
    ev = _t(spark, sf_dir, "events")
    win = F.expr("INTERVAL 24 HOURS")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    rows = [
        (1, "view", s1),
        (2, "click_after_view", s2),
        (3, "purchase_after_click", s3),
    ]
    out = None
    for step, name, dfstep in rows:
        cur = dfstep.agg(
            F.lit(step).cast("int").alias("step"),
            F.lit(name).alias("step_name"),
            F.count(F.lit(1)).alias("users"),
        )
        out = cur if out is None else out.unionByName(cur)
    return out.orderBy("step")


Q_EVENT_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1
    AND e.ts <= s1.t1 + INTERVAL '24 hours'
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
    AND e.ts <= s2.t2 + INTERVAL '24 hours'
  GROUP BY e.user_id
)
SELECT CAST(1 AS INTEGER) AS step, 'view' AS step_name, CAST(count(*) AS BIGINT) AS users FROM s1
UNION ALL
SELECT CAST(2 AS INTEGER), 'click_after_view', CAST(count(*) AS BIGINT) FROM s2
UNION ALL
SELECT CAST(3 AS INTEGER), 'purchase_after_click', CAST(count(*) AS BIGINT) FROM s3
ORDER BY step
"""


# ---------------------------------------------------------------------------
# order-statistics aggregation (exact percentiles)
# ---------------------------------------------------------------------------


def q_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of l_extendedprice per returnflag.

    ``percentile`` is Spark's exact order-statistic aggregate (sort-based
    within groups); DuckDB's quantile_cont uses the same linear
    interpolation on the same doubles, so results hash-match after a 6dp
    round. At 100 TB exact per-group sort is the wrong default —
    approx_percentile (t-digest, mergeable partials) is the scale path; it
    is intentionally NOT the oracle query because its error is engine
    specific.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            # ONE array-percentile aggregate: three separate percentile()
            # calls each buffer every group value independently (3x memory,
            # 3x the final per-group sort)
            F.expr(
                "percentile(l_extendedprice, array(0.5, 0.9, 0.99))"
            ).alias("_p"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            "l_returnflag",
            F.round(F.col("_p")[0], 6).alias("p50"),
            F.round(F.col("_p")[1], 6).alias("p90"),
            F.round(F.col("_p")[2], 6).alias("p99"),
            "n_rows",
        )
        .orderBy("l_returnflag")
    )


Q_PRICE_PERCENTILES_SQL = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
       round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
       round(quantile_cont(l_extendedprice, 0.99), 6) AS p99,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# retention cohorts
# ---------------------------------------------------------------------------


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly signup-cohort retention matrix.

    Cohort = ISO week of the user's first signup event; cell (cohort, w)
    counts distinct users active w whole weeks later. Two aggregations on
    user_id + one broadcast join of the (tiny) cohort table back onto
    events — the canonical product-analytics rollup, all in Catalyst.
    """
    ev = _t(spark, sf_dir, "events")
    cohort = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    joined = ev.join(F.broadcast(cohort), "user_id").filter(
        F.col("ts") >= F.col("signup_ts")
    )
    week = (
        F.floor(
            (F.col("ts").cast("double") - F.col("signup_ts").cast("double"))
            / F.lit(7 * 86400.0)
        )
        .cast("int")
        .alias("weeks_since_signup")
    )
    return (
        joined.select(
            F.date_format(F.date_trunc("week", "signup_ts"), "yyyy-MM-dd").alias(
                "cohort_week"
            ),
            week,
            "user_id",
        )
        .groupBy("cohort_week", "weeks_since_signup")
        .agg(F.count_distinct("user_id").alias("active_users"))
        .orderBy("cohort_week", "weeks_since_signup")
    )


Q_RETENTION_COHORTS_SQL = """
WITH cohort AS (
  SELECT user_id, min(ts) AS signup_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
)
SELECT strftime(date_trunc('week', c.signup_ts), '%Y-%m-%d') AS cohort_week,
       CAST(floor((epoch(e.ts) - epoch(c.signup_ts)) / (7*86400.0)) AS INTEGER) AS weeks_since_signup,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS active_users
FROM events e JOIN cohort c ON e.user_id = c.user_id
WHERE e.ts >= c.signup_ts
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# CUBE grouping sets
# ---------------------------------------------------------------------------


def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (orderstatus, orderpriority): all 4 grouping combinations in
    one pass (Spark expands grouping sets map-side; one shuffle)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
            F.grouping_id().cast("int").alias("gid"),
        )
        .orderBy(
            "gid",
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


Q_CUBE_ORDERS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INTEGER) AS gid
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


# ---------------------------------------------------------------------------
# sketch aggregates, gated against exact twins
# ---------------------------------------------------------------------------


def q_sketch_distinct_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct-count sketch vs the exact count, per table column.

    The mergeable-sketch aggregate is the 100 TB path (constant memory per
    group, one pass, no distinct shuffle); its value is engine-specific, so
    the oracle contract is a TOLERANCE flag: relative error must stay inside
    the configured rsd x4 for each checked column. A sketch regression
    (wrong rsd plumbing, bad merge) flips the flag and hash-mismatches.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    checks = [
        ("lineitem.l_orderkey", li, "l_orderkey"),
        ("lineitem.l_partkey", li, "l_partkey"),
        ("orders.o_custkey", orders, "o_custkey"),
    ]
    out = None
    for label, df, col in checks:
        row = df.agg(
            F.approx_count_distinct(col, rsd=0.02).alias("approx"),
            F.countDistinct(F.col(col)).alias("exact"),
        ).select(
            F.lit(label).alias("column_name"),
            (
                F.abs(F.col("approx") - F.col("exact"))
                <= F.col("exact") * F.lit(0.08)
            ).cast("int").alias("within_tolerance"),
        )
        out = row if out is None else out.unionAll(row)
    return out


Q_SKETCH_DISTINCT_SQL = """
SELECT 'lineitem.l_orderkey' AS column_name, 1 AS within_tolerance
UNION ALL SELECT 'lineitem.l_partkey', 1
UNION ALL SELECT 'orders.o_custkey', 1
"""


def q_sketch_percentile_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (mergeable digest) vs exact order statistics.

    Exact per-group percentile sorts every group's values; the digest is the
    scale path. Contract: each approximate p50/p90/p99 of l_extendedprice
    per returnflag lands within 1% relative of the exact value."""
    li = _t(spark, sf_dir, "lineitem")
    both = li.groupBy("l_returnflag").agg(
        F.expr(
            "approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 10000)"
        ).alias("_a"),
        F.expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))").alias("_e"),
    )
    ok = F.forall(
        F.zip_with(
            F.col("_a"),
            F.col("_e"),
            lambda a, e: F.abs(a - e) <= F.abs(e) * F.lit(0.01),
        ),
        lambda x: x,
    )
    return both.select(
        "l_returnflag", ok.cast("int").alias("within_tolerance")
    ).orderBy("l_returnflag")


Q_SKETCH_PERCENTILE_SQL = """
SELECT DISTINCT l_returnflag, 1 AS within_tolerance
FROM lineitem ORDER BY l_returnflag
"""


_KMV_K = 64
_KMV_M = 1 << 60


def q_kmv_distinct_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct sketch (operators/sketches.py): unlike the HLL gate
    (engine-internal, only error-checkable), the KMV state is a pure
    function of the data — the oracle re-derives the k smallest distinct
    60-bit hashes per group, the estimate, and the exact-branch flag.
    The Spark side ALSO merges base/delta partial sketches and emits
    merge==direct as a flag the oracle pins to 1 (falsifiable: any merge
    regression flips it). Two metrics: o_custkey (estimator branch,
    >k distinct) and o_orderpriority (exact branch, 5 < k distinct)."""
    from etl_file_loader_spark.operators import sketches

    orders = _t(spark, sf_dir, "orders")

    def rows(col: str, metric: str) -> DataFrame:
        direct = sketches.kmv_sketch(orders, ["o_orderstatus"], col, _KMV_K)
        base = sketches.kmv_sketch(
            orders.filter(F.col("o_orderkey") % 3 != 0),
            ["o_orderstatus"], col, _KMV_K,
        )
        delta = sketches.kmv_sketch(
            orders.filter(F.col("o_orderkey") % 3 == 0),
            ["o_orderstatus"], col, _KMV_K,
        )
        merged = sketches.kmv_merge([base, delta], ["o_orderstatus"], _KMV_K)
        est = sketches.kmv_estimate(direct, _KMV_K)
        j = est.join(
            merged.select(
                "o_orderstatus",
                F.col("kmv").alias("kmv_m"),
                F.col("n_kept").alias("n_kept_m"),
            ),
            "o_orderstatus",
        )
        return j.select(
            F.lit(metric).alias("metric"),
            F.col("o_orderstatus").alias("grp"),
            "n_kept",
            "is_exact",
            "distinct_est",
            F.md5(
                F.array_join(
                    F.transform(F.col("kmv"), lambda x: x.cast("string")), ","
                )
            ).alias("sketch_md5"),
            (
                (F.col("kmv") == F.col("kmv_m"))
                & (F.col("n_kept") == F.col("n_kept_m"))
            ).cast("int").alias("merge_matches"),
        )

    return (
        rows("o_custkey", "custkey")
        .unionByName(rows("o_orderpriority", "priority"))
        .orderBy("metric", "grp")
    )


def _kmv_sql() -> str:
    k, m = _KMV_K, _KMV_M

    def branch(col: str, metric: str) -> str:
        return f"""
  SELECT '{metric}' AS metric, g AS grp, n_kept,
         CAST(n_kept < {k} AS INT) AS is_exact,
         CASE WHEN n_kept < {k} THEN CAST(n_kept AS DOUBLE)
              ELSE {k - 1}.0 * {m}.0 / CAST(kmv[{k}] AS DOUBLE) END AS distinct_est,
         md5(array_to_string(kmv, ',')) AS sketch_md5,
         1 AS merge_matches
  FROM (
    SELECT g, list(_h ORDER BY _h) AS kmv, count(*) AS n_kept
    FROM (
      SELECT g, _h, row_number() OVER (PARTITION BY g ORDER BY _h) AS rn
      FROM (
        SELECT DISTINCT o_orderstatus AS g,
               CAST('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 15) AS BIGINT) AS _h
        FROM orders
      )
    ) WHERE rn <= {k}
    GROUP BY g
  )"""

    return (
        "SELECT * FROM ("
        + branch("o_custkey", "custkey")
        + "\n  UNION ALL"
        + branch("o_orderpriority", "priority")
        + "\n) ORDER BY metric, grp"
    )


Q_KMV_DISTINCT_SQL = _kmv_sql()

QUERIES.update({"kmv_distinct_check": q_kmv_distinct_check})
ORACLES.update({"kmv_distinct_check": Q_KMV_DISTINCT_SQL})


_HLL_P = 10


def q_hll_distinct_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog (operators/sketches.py:hll_registers/_merge/
    _estimate): unlike approx_count_distinct (HLL++, engine-internal,
    only error-checkable), these registers are a pure function of the
    data, so the oracle re-derives every register, the exact-int64
    harmonic sum, the small-range correction branch, and the register-set
    md5. Two metrics exercise both estimator branches: o_custkey (raw
    estimator, thousands distinct) and o_orderpriority (5 distinct ->
    linear counting). The Spark side ALSO merges base/delta partial
    sketches (register-wise max) and emits merge==direct as a flag the
    oracle pins to 1."""
    from etl_file_loader_spark.operators import sketches

    orders = _t(spark, sf_dir, "orders")

    def reg_md5(regs: DataFrame) -> DataFrame:
        return regs.groupBy("o_orderstatus").agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("bucket", "rho"))),
                        lambda s: F.concat_ws(
                            ":",
                            s.getField("bucket").cast("string"),
                            s.getField("rho").cast("string"),
                        ),
                    ),
                    ",",
                )
            ).alias("reg_md5")
        )

    def rows(col: str, metric: str) -> DataFrame:
        direct = sketches.hll_registers(orders, ["o_orderstatus"], col, _HLL_P)
        base = sketches.hll_registers(
            orders.filter(F.col("o_orderkey") % 3 != 0),
            ["o_orderstatus"], col, _HLL_P,
        )
        delta = sketches.hll_registers(
            orders.filter(F.col("o_orderkey") % 3 == 0),
            ["o_orderstatus"], col, _HLL_P,
        )
        merged = sketches.hll_merge([base, delta], ["o_orderstatus"])
        est = sketches.hll_estimate(direct, ["o_orderstatus"], _HLL_P)
        exact = orders.groupBy("o_orderstatus").agg(
            F.countDistinct(col).alias("exact_n")
        )
        j = (
            est.join(exact, "o_orderstatus")
            .join(reg_md5(direct), "o_orderstatus")
            .join(
                reg_md5(merged).withColumnRenamed("reg_md5", "reg_md5_m"),
                "o_orderstatus",
            )
        )
        return j.select(
            F.lit(metric).alias("metric"),
            F.col("o_orderstatus").alias("grp"),
            "n_regs",
            F.round(F.col("hll_est"), 2).alias("hll_est"),
            "exact_n",
            (
                F.abs(F.col("hll_est") - F.col("exact_n"))
                <= 0.15 * F.col("exact_n")
            ).cast("int").alias("within_tol"),
            "reg_md5",
            (F.col("reg_md5") == F.col("reg_md5_m")).cast("int").alias("merge_matches"),
        )

    return (
        rows("o_custkey", "custkey")
        .unionByName(rows("o_orderpriority", "priority"))
        .orderBy("metric", "grp")
    )


def _hll_sql() -> str:
    p = _HLL_P
    m = 1 << p
    w = 60 - p
    cap = 40
    # SAME python arithmetic as hll_estimate so the embedded literal is
    # bit-identical in both engines
    alpha_num = 0.7213 / (1.0 + 1.079 / m) * m * m * float(1 << cap)

    def branch(col: str, metric: str) -> str:
        return f"""
  SELECT '{metric}' AS metric, g AS grp, n_regs,
         round(est, 2) AS hll_est, exact_n,
         CAST(abs(est - exact_n) <= 0.15 * exact_n AS INT) AS within_tol,
         reg_md5, 1 AS merge_matches
  FROM (
    SELECT a.g, a.n_regs, a.reg_md5, e.exact_n,
           CASE WHEN {alpha_num!r} / CAST(a.s_present + ({m} - a.n_regs) * {1 << cap} AS DOUBLE) <= {2.5 * m}
                 AND a.n_regs < {m}
                THEN {float(m)!r} * ln({float(m)!r} / CAST({m} - a.n_regs AS DOUBLE))
                ELSE {alpha_num!r} / CAST(a.s_present + ({m} - a.n_regs) * {1 << cap} AS DOUBLE)
           END AS est
    FROM (
      SELECT g, count(*) AS n_regs,
             sum(CAST(pow(2, {cap} - least(rho, {cap})) AS BIGINT)) AS s_present,
             md5(string_agg(bucket || ':' || rho, ',' ORDER BY bucket)) AS reg_md5
      FROM (
        SELECT g, h % {m} AS bucket,
               max(CASE WHEN h // {m} = 0 THEN {w + 1}
                        ELSE {w + 1} - length(bin(h // {m})) END) AS rho
        FROM (
          SELECT o_orderstatus AS g,
                 CAST('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 15) AS BIGINT) AS h
          FROM orders
        ) GROUP BY 1, 2
      ) GROUP BY g
    ) a JOIN (
      SELECT o_orderstatus AS g, count(DISTINCT {col}) AS exact_n
      FROM orders GROUP BY 1
    ) e USING (g)
  )"""

    return (
        "SELECT * FROM ("
        + branch("o_custkey", "custkey")
        + "\n  UNION ALL"
        + branch("o_orderpriority", "priority")
        + "\n) ORDER BY metric, grp"
    )


Q_HLL_DISTINCT_SQL = _hll_sql()

QUERIES.update({"hll_distinct_check": q_hll_distinct_check})
ORACLES.update({"hll_distinct_check": Q_HLL_DISTINCT_SQL})



# _epoch_snapshot moved to suite._shared (round 13: the BM25 index
# stream row in suite/text.py needs it too); re-exported via the import
# at the top of this module.

def q_hll_index_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAINTAINED HLL registers (operators/sketches.py:HLLIndex): seed
    from the o_orderkey%4==0 quarter of orders, absorb the three
    remaining quarters IN ORDER, and emit the per-group estimate + the
    register-set md5 after every epoch. Absorption is confluent
    (register-wise max), so the oracle replays epoch k's state from
    batch numbering alone: registers at epoch k = max per (group,
    bucket) over rows with o_orderkey%4 <= k."""
    from etl_file_loader_spark.operators import sketches

    orders = _t(spark, sf_dir, "orders")
    idx = sketches.HLLIndex(
        orders.filter(F.col("o_orderkey") % 4 == 0),
        ["o_orderstatus"], "o_custkey", _HLL_P,
    )

    def snapshot(epoch: int) -> DataFrame:
        est = idx.estimate()
        md5 = idx.state().groupBy("o_orderstatus").agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("bucket", "rho"))),
                        lambda s: F.concat_ws(
                            ":",
                            s.getField("bucket").cast("string"),
                            s.getField("rho").cast("string"),
                        ),
                    ),
                    ",",
                )
            ).alias("reg_md5")
        )
        return est.join(md5, "o_orderstatus").select(
            F.lit(epoch).alias("epoch"),
            F.col("o_orderstatus").alias("grp"),
            "n_regs",
            F.round(F.col("hll_est"), 2).alias("hll_est"),
            "reg_md5",
        )

    # snapshots materialize per epoch: absorb() now RELEASES the
    # superseded checkpoint, so each epoch's frame must be pinned before
    # the next absorb invalidates the state it reads
    outs = [_epoch_snapshot(snapshot(0))]
    for k in (1, 2, 3):
        idx.absorb(orders.filter(F.col("o_orderkey") % 4 == k))
        outs.append(_epoch_snapshot(snapshot(k)))
    out = outs[0]
    for part in outs[1:]:
        out = out.unionByName(part)
    return out.orderBy("epoch", "grp")


def _hll_index_stream_sql() -> str:
    p = _HLL_P
    m = 1 << p
    w = 60 - p
    cap = 40
    alpha_num = 0.7213 / (1.0 + 1.079 / m) * m * m * float(1 << cap)

    def epoch(k: int) -> str:
        return f"""
  SELECT {k} AS epoch, g AS grp, n_regs, round(est, 2) AS hll_est, reg_md5
  FROM (
    SELECT g, n_regs, reg_md5,
           CASE WHEN {alpha_num!r} / CAST(s_present + ({m} - n_regs) * {1 << cap} AS DOUBLE) <= {2.5 * m}
                 AND n_regs < {m}
                THEN {float(m)!r} * ln({float(m)!r} / CAST({m} - n_regs AS DOUBLE))
                ELSE {alpha_num!r} / CAST(s_present + ({m} - n_regs) * {1 << cap} AS DOUBLE)
           END AS est
    FROM (
      SELECT g, count(*) AS n_regs,
             sum(CAST(pow(2, {cap} - least(rho, {cap})) AS BIGINT)) AS s_present,
             md5(string_agg(bucket || ':' || rho, ',' ORDER BY bucket)) AS reg_md5
      FROM (
        SELECT g, h % {m} AS bucket,
               max(CASE WHEN h // {m} = 0 THEN {w + 1}
                        ELSE {w + 1} - length(bin(h // {m})) END) AS rho
        FROM (
          SELECT o_orderstatus AS g,
                 CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
          FROM orders WHERE o_orderkey % 4 <= {k}
        ) GROUP BY 1, 2
      ) GROUP BY g
    )
  )"""

    return (
        "SELECT * FROM ("
        + "\n  UNION ALL".join(epoch(k) for k in range(4))
        + "\n) ORDER BY epoch, grp"
    )


Q_HLL_INDEX_STREAM_SQL = _hll_index_stream_sql()

QUERIES.update({"hll_index_stream": q_hll_index_stream})
ORACLES.update({"hll_index_stream": Q_HLL_INDEX_STREAM_SQL})


_CMS_D = 4
_CMS_W = 256
_CMS_CANDS = [1, 2, 3, 500, 100000001]


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (operators/sketches.py): sketch o_custkey's
    frequency distribution (4 x 256 cells), point-estimate five candidate
    keys (one absent), and pin merge(base, delta) == direct as a flag.
    The oracle replays the cell hashing, the min-over-rows estimate, and
    the true counts exactly; CMS's never-undercount guarantee shows as
    est_count >= true_count on every row."""
    from etl_file_loader_spark.operators import sketches

    orders = _t(spark, sf_dir, "orders")
    direct = sketches.cms_sketch(orders, "o_custkey", _CMS_D, _CMS_W)
    base = sketches.cms_sketch(
        orders.filter(F.col("o_orderkey") % 2 == 0), "o_custkey", _CMS_D, _CMS_W
    )
    delta = sketches.cms_sketch(
        orders.filter(F.col("o_orderkey") % 2 == 1), "o_custkey", _CMS_D, _CMS_W
    )
    merged = sketches.cms_merge([base, delta])
    # merge(base, delta) == direct as a 1-row aggregate INSIDE the plan
    # (optimization round 14): the old eager ``.limit(1).count()`` ran the
    # three sketch subtrees as their own job before the final action ran
    # two more — one action now computes everything, same values.
    merge_ok = (
        direct.withColumnRenamed("cnt", "a")
        .join(merged.withColumnRenamed("cnt", "b"), ["r", "c"], "full_outer")
        .agg(
            F.when(
                F.count(
                    F.when(
                        F.coalesce(F.col("a"), F.lit(0))
                        != F.coalesce(F.col("b"), F.lit(0)),
                        F.lit(1),
                    )
                )
                == 0,
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("merge_ok")
        )
    )
    cands = local_rows_df(
        spark, [(v,) for v in _CMS_CANDS], "o_custkey long"
    )
    est = sketches.cms_query(direct, cands, "o_custkey", _CMS_D, _CMS_W)
    true_fix = (
        cands.join(
            orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("tc")),
            "o_custkey",
            "left",
        )
        .select("o_custkey", F.coalesce(F.col("tc"), F.lit(0)).alias("true_count"))
    )
    return (
        est.join(true_fix, "o_custkey")
        .crossJoin(F.broadcast(merge_ok))
        .select(
            F.col("o_custkey").alias("custkey"),
            "est_count",
            "true_count",
            "merge_ok",
        )
        .orderBy("custkey")
    )


def _cms_sql() -> str:
    d, w = _CMS_D, _CMS_W
    rs = ", ".join(str(r) for r in range(d))
    cands = ", ".join(f"({v})" for v in _CMS_CANDS)
    h = (
        "CAST('0x' || substr(md5(CAST({r} AS VARCHAR) || '|' || "
        "CAST({x} AS VARCHAR)), 1, 15) AS BIGINT) % {w}"
    )
    return f"""
WITH cells AS (
  SELECT t.r, {h.format(r='t.r', x='o_custkey', w=w)} AS c
  FROM orders, unnest([{rs}]) t(r)
),
sk AS (SELECT r, c, count(*) AS cnt FROM cells GROUP BY r, c),
cand(k) AS (VALUES {cands}),
probes AS (
  SELECT cand.k, t.r, {h.format(r='t.r', x='cand.k', w=w)} AS c
  FROM cand, unnest([{rs}]) t(r)
),
est AS (
  SELECT k, min(coalesce(cnt, 0)) AS est_count
  FROM probes LEFT JOIN sk USING (r, c) GROUP BY k
),
tru AS (
  SELECT cand.k, count(o.o_custkey) AS true_count
  FROM cand LEFT JOIN orders o ON o.o_custkey = cand.k
  GROUP BY cand.k
)
SELECT est.k AS custkey, est.est_count, tru.true_count, 1 AS merge_ok
FROM est JOIN tru ON tru.k = est.k
ORDER BY custkey
"""


Q_CMS_HEAVY_HITTERS_SQL = _cms_sql()

QUERIES.update({"cms_heavy_hitters": q_cms_heavy_hitters})
ORACLES.update({"cms_heavy_hitters": Q_CMS_HEAVY_HITTERS_SQL})


def q_incremental_agg_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/aggregates.py): split
    orders into a 'base' and a 'delta' batch, build mergeable state for
    each, merge — and the oracle recomputes the rollup FROM SCRATCH, so
    the merge algebra must be exact (decimal sums make it
    order-independent; counts/min/max are monoid merges)."""
    from etl_file_loader_spark.operators import aggregates as agg_ops

    orders = _t(spark, sf_dir, "orders").withColumn(
        "price_dec", _dec("o_totalprice")
    )
    keys = ["o_orderpriority", "o_orderstatus"]
    metrics = {
        "n_orders": ("count", "*"),
        "n_cust": ("count", "o_custkey"),
        "sum_price": ("sum", "price_dec"),
        "min_price": ("min", "price_dec"),
        "max_price": ("max", "price_dec"),
    }
    base = orders.filter(F.col("o_orderkey") % 5 != 0)
    delta = orders.filter(F.col("o_orderkey") % 5 == 0)
    merged = agg_ops.merge_agg_states(
        [
            agg_ops.agg_state(base, keys, metrics),
            agg_ops.agg_state(delta, keys, metrics),
        ],
        keys,
        metrics,
    )
    return merged.select(
        *keys,
        "n_orders",
        "n_cust",
        F.col("sum_price").cast("double").alias("sum_price"),
        F.col("min_price").cast("double").alias("min_price"),
        F.col("max_price").cast("double").alias("max_price"),
        (F.col("sum_price").cast("double") / F.col("n_orders")).alias("avg_price"),
    ).orderBy(*keys)


Q_INCREMENTAL_AGG_SQL = """
SELECT o_orderpriority, o_orderstatus,
       count(*) AS n_orders,
       count(o_custkey) AS n_cust,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
       CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
FROM orders
GROUP BY o_orderpriority, o_orderstatus
ORDER BY o_orderpriority, o_orderstatus
"""

QUERIES.update({"incremental_agg_check": q_incremental_agg_check})
ORACLES.update({"incremental_agg_check": Q_INCREMENTAL_AGG_SQL})


_Z_BITS = 8


def q_zorder_layout_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout (operators/layout.py): exact equi-depth buckets over
    (l_orderkey, l_partkey) Morton-interleaved into the curve position —
    every zval checked against a SQL replay of the rank-bucket + bit-
    interleave arithmetic. The layout step itself (repartitionByRange +
    sortWithinPartitions on zval) is engine-internal and pinned by the
    pruning behavioral test instead."""
    from etl_file_loader_spark.operators import layout as layout_ops

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey"
    )
    z = layout_ops.zorder_layout(
        li, ["l_orderkey", "l_partkey"], bits=_Z_BITS, exact=True
    )
    return z.select("l_orderkey", "l_linenumber", "zval").orderBy(
        "l_orderkey", "l_linenumber"
    )


def _zorder_sql() -> str:
    b = 1 << _Z_BITS
    terms = []
    for k in range(_Z_BITS):
        terms.append(f"(((b1 >> {k}) & 1) << {2 * k})")
        terms.append(f"(((b2 >> {k}) & 1) << {2 * k + 1})")
    z = " + ".join(terms)
    return f"""
WITH b AS (
  SELECT l_orderkey, l_linenumber,
         CAST(least(floor((rank() OVER (ORDER BY l_orderkey) - 1) * {b}
                          / (count(*) OVER ())), {b - 1}) AS BIGINT) AS b1,
         CAST(least(floor((rank() OVER (ORDER BY l_partkey) - 1) * {b}
                          / (count(*) OVER ())), {b - 1}) AS BIGINT) AS b2
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, CAST({z} AS BIGINT) AS zval
FROM b
ORDER BY l_orderkey, l_linenumber
"""


Q_ZORDER_LAYOUT_SQL = _zorder_sql()

QUERIES.update({"zorder_layout_check": q_zorder_layout_check})
ORACLES.update({"zorder_layout_check": Q_ZORDER_LAYOUT_SQL})


QUERIES.update(
    {
        "customer_order_stats": q_customer_order_stats,
        "events_hourly": q_events_hourly,
        "top_events_per_user": q_top_events_per_user,
        "sessionization": q_sessionization,
        "asof_join": q_asof_join,
        "range_join_count": q_range_join_count,
        "pivot_returnflag": q_pivot_returnflag,
        "rollup_orders": q_rollup_orders,
        "supplier_part_stats": q_supplier_part_stats,
        "window_functions": q_window_functions,
        "set_ops": q_set_ops,
        "semi_anti_join": q_semi_anti_join,
        "event_funnel": q_event_funnel,
        "price_percentiles": q_price_percentiles,
        "retention_cohorts": q_retention_cohorts,
        "cube_orders": q_cube_orders,
        "sketch_distinct_check": q_sketch_distinct_check,
        "sketch_percentile_check": q_sketch_percentile_check,
    }
)


ORACLES.update(
    {
        "customer_order_stats": Q_CUSTOMER_ORDER_STATS_SQL,
        "events_hourly": Q_EVENTS_HOURLY_SQL,
        "top_events_per_user": Q_TOP_EVENTS_PER_USER_SQL,
        "sessionization": Q_SESSIONIZATION_SQL,
        "asof_join": Q_ASOF_JOIN_SQL,
        "range_join_count": Q_RANGE_JOIN_COUNT_SQL,
        "pivot_returnflag": Q_PIVOT_RETURNFLAG_SQL,
        "rollup_orders": Q_ROLLUP_ORDERS_SQL,
        "supplier_part_stats": Q_SUPPLIER_PART_STATS_SQL,
        "window_functions": Q_WINDOW_FUNCTIONS_SQL,
        "set_ops": Q_SET_OPS_SQL,
        "semi_anti_join": Q_SEMI_ANTI_SQL,
        "event_funnel": Q_EVENT_FUNNEL_SQL,
        "price_percentiles": Q_PRICE_PERCENTILES_SQL,
        "retention_cohorts": Q_RETENTION_COHORTS_SQL,
        "cube_orders": Q_CUBE_ORDERS_SQL,
        "sketch_distinct_check": Q_SKETCH_DISTINCT_SQL,
        "sketch_percentile_check": Q_SKETCH_PERCENTILE_SQL,
    }
)


# ---------------------------------------------------------------------------
# Bloom filter family (round 9): build/merge words, probe flags, pruned join
# ---------------------------------------------------------------------------

_BLOOM_K, _BLOOM_M = 3, 8192  # sized so sf0.01 shows REAL false positives
_BLOOM_WORDS = (_BLOOM_M + 47) // 48


def q_bloom_filter_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed Bloom-filter state over orders' customer keys
    (operators/sketches.py:build_bloom): one row per 48-bit word, every
    bit re-derived by the oracle from the same md5 position arithmetic —
    the filter itself is value-verified, not just its behavior. merge_ok
    pins shard-and-merge: OR of the even/odd-orderkey shard filters must
    equal the whole-table build (set semantics)."""
    from etl_file_loader_spark.operators import sketches as sk_ops

    orders = _t(spark, sf_dir, "orders")
    whole = sk_ops.build_bloom(orders, "o_custkey", _BLOOM_K, _BLOOM_M)
    even = sk_ops.build_bloom(
        orders.filter(F.col("o_orderkey") % 2 == 0), "o_custkey", _BLOOM_K, _BLOOM_M
    )
    odd = sk_ops.build_bloom(
        orders.filter(F.col("o_orderkey") % 2 == 1), "o_custkey", _BLOOM_K, _BLOOM_M
    )
    merge_ok = 1 if sk_ops.merge_blooms(even, odd) == whole else 0
    rows = [(i, w, merge_ok) for i, w in enumerate(whole)]
    return local_rows_df(
        spark, rows, "word long, value long, merge_ok long"
    ).orderBy("word")


_BLOOM_POS_SQL = f"""
  SELECT DISTINCT
         CAST(('0x' || substr(md5(CAST(k AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT)
           % {_BLOOM_M} AS p
  FROM keys, unnest(range(0, {_BLOOM_K})) t(i)
"""

Q_BLOOM_FILTER_SQL = f"""
WITH keys AS (SELECT DISTINCT o_custkey AS k FROM orders),
pos AS ({_BLOOM_POS_SQL}),
wv AS (
  -- DuckDB sum() over BIGINT yields HUGEINT; the driver materializes
  -- oracle rows via pandas/arrow where HUGEINT coerces to float64 and
  -- the value hash then sees "1.0995e+12" against Spark's int64. CAST
  -- both the aggregate and the projection back to BIGINT (values are
  -- < 2^48 by construction, so the cast is lossless).
  SELECT p // 48 AS word,
         CAST(sum(CAST(1 AS BIGINT) << CAST(p % 48 AS INT)) AS BIGINT) AS value
  FROM pos GROUP BY 1
)
SELECT i AS word, CAST(COALESCE(wv.value, 0) AS BIGINT) AS value, CAST(1 AS BIGINT) AS merge_ok
FROM range(0, {_BLOOM_WORDS}) t(i) LEFT JOIN wv ON wv.word = i
ORDER BY word
"""


def q_bloom_probe_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key Bloom probe over every customer against the orders-key
    filter (operators/sketches.py:bloom_contains): is_member from the
    exact semi-join, passed from the scan-side bit test. The contract the
    oracle re-derives bit-for-bit: no false negatives (is_member=1 =>
    passed=1), and the deterministic false-positive set (passed=1,
    is_member=0) matches exactly — the filter is deliberately small
    (k=3, m=8192) so FPs actually occur at sf0.01. The probe
    population is every customer key PLUS each key offset by 10^6
    (guaranteed nonmembers: every customer has orders in this testdata,
    so without the offset keys there would be nothing to false-positive
    on)."""
    from etl_file_loader_spark.operators import sketches as sk_ops

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    words = sk_ops.build_bloom(orders, "o_custkey", _BLOOM_K, _BLOOM_M)
    members = orders.select(F.col("o_custkey").alias("k")).distinct()
    base = customer.select(F.col("c_custkey").alias("k"))
    probe = base.unionAll(base.select((F.col("k") + F.lit(1_000_000)).alias("k")))
    return (
        probe
        .join(members.withColumn("_m", F.lit(1)), "k", "left")
        .select(
            "k",
            F.coalesce(F.col("_m"), F.lit(0)).cast("long").alias("is_member"),
            sk_ops.bloom_contains(F.col("k"), words, _BLOOM_K, _BLOOM_M)
            .cast("int")
            .cast("long")
            .alias("passed"),
        )
        .orderBy("k")
    )


Q_BLOOM_PROBE_SQL = f"""
WITH keys AS (SELECT DISTINCT o_custkey AS k FROM orders),
pos AS ({_BLOOM_POS_SQL}),
wv AS (
  SELECT p // 48 AS word,
         sum(CAST(1 AS BIGINT) << CAST(p % 48 AS INT)) AS value
  FROM pos GROUP BY 1
),
probe AS (
  SELECT c_custkey AS k FROM customer
  UNION ALL SELECT c_custkey + 1000000 FROM customer
),
ppos AS (
  SELECT DISTINCT pr.k,
         CAST(('0x' || substr(md5(CAST(pr.k AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT)
           % {_BLOOM_M} AS p
  FROM probe pr, unnest(range(0, {_BLOOM_K})) t(i)
)
SELECT pp.k,
       CAST(CASE WHEN ky.k IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_member,
       CAST(min(COALESCE((wv.value >> CAST(pp.p % 48 AS INT)) & 1, 0)) AS BIGINT) AS passed
FROM ppos pp
LEFT JOIN wv ON wv.word = pp.p // 48
LEFT JOIN keys ky ON ky.k = pp.k
GROUP BY pp.k, ky.k
ORDER BY pp.k
"""


def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi-join (operators/sketches.py:bloom_semi_join):
    orders restricted to high-balance customers. The scan-side bit test
    prunes the big side BEFORE the shuffle join; the exact semi-join then
    removes false positives, so the result equals the plain semi-join —
    which is exactly what the oracle runs. The pruning accounting is
    pinned by test_operators_ext (survivors ~ match rate, never fewer
    than the true matches)."""
    from etl_file_loader_spark.operators import sketches as sk_ops

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return (
        sk_ops.bloom_semi_join(
            orders.select("o_orderkey", "o_custkey"),
            customer.filter(F.col("c_acctbal") > 6000.0),
            "o_custkey",
            "c_custkey",
            num_hashes=4,
            num_bits=16384,
        )
        .select("o_orderkey", "o_custkey")
        .orderBy("o_orderkey")
    )


Q_BLOOM_SEMI_JOIN_SQL = """
SELECT o_orderkey, o_custkey
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 6000.0)
ORDER BY o_orderkey
"""

def q_bloom_semi_join_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-hash twin of ``bloom_semi_join``: xxhash64
    positions (JVM-native — measured at sf10 the portable md5 probe
    costs 4 string md5s per scanned row, NOTES_r10 §13) behind the same
    unrolled scan-side bit test. The bloom-equals-plain-semi-join
    contract is HASH-AGNOSTIC (no false negatives by construction for
    any hash family), so the same SQL oracle fully value-checks the
    fast path even though DuckDB cannot replay xxhash64."""
    from etl_file_loader_spark.operators import sketches as sk_ops

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return (
        sk_ops.bloom_semi_join(
            orders.select("o_orderkey", "o_custkey"),
            customer.filter(F.col("c_acctbal") > 6000.0),
            "o_custkey",
            "c_custkey",
            num_hashes=4,
            num_bits=16384,
            fast=True,
        )
        .select("o_orderkey", "o_custkey")
        .orderBy("o_orderkey")
    )


QUERIES.update(
    {
        "bloom_filter_check": q_bloom_filter_check,
        "bloom_probe_stats": q_bloom_probe_stats,
        "bloom_semi_join": q_bloom_semi_join,
        "bloom_semi_join_fast": q_bloom_semi_join_fast,
    }
)
ORACLES.update(
    {
        "bloom_filter_check": Q_BLOOM_FILTER_SQL,
        "bloom_probe_stats": Q_BLOOM_PROBE_SQL,
        "bloom_semi_join": Q_BLOOM_SEMI_JOIN_SQL,
        "bloom_semi_join_fast": Q_BLOOM_SEMI_JOIN_SQL,
    }
)


# ---------------------------------------------------------------------------
# Portable mergeable quantile sketch (round 12): decimal log-histogram
# ---------------------------------------------------------------------------

_Q_MILLIS = [500, 900, 990]


def _quantile_reg_md5(hist, keys):
    """Order-insensitive md5 of a group's register set (the hll_index
    idiom): the sketch STATE is value-verified, not just the estimate."""
    return hist.groupBy(*keys).agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("sign", "exp", "prefix", "cnt"))
                    ),
                    lambda s: F.concat_ws(
                        ":",
                        s.getField("sign").cast("string"),
                        s.getField("exp").cast("string"),
                        s.getField("prefix").cast("string"),
                        s.getField("cnt").cast("string"),
                    ),
                ),
                ",",
            )
        ).alias("reg_md5")
    )


def q_quantile_hist_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable quantile sketch (operators/sketches.py:quantile_histogram):
    p50/p90/p99 of l_extendedprice per returnflag from decimal
    log-histogram registers. Full value row: the register-set md5 (state
    bit-exact), each estimate (derivation bit-exact — string/int bucket
    math, exact integer milli ranks, one double interpolation), the TRUE
    rank value computed independently, and the guarantee flag
    |est - true| <= true/10^(sig-1) + quantization — asserting the
    sketch's error bound, not just reproducing it."""
    from etl_file_loader_spark.operators import sketches
    from pyspark.sql.window import Window as W

    li = _t(spark, sf_dir, "lineitem")
    keys = ["l_returnflag"]
    hist = sketches.quantile_histogram(li, keys, "l_extendedprice")
    est = sketches.quantile_estimate(hist, keys, _Q_MILLIS)
    md5 = _quantile_reg_md5(hist, keys)
    # independent truth: the value at rank ceil(q*n) in sorted order
    w = W.partitionBy(*keys).orderBy(F.col("l_extendedprice"), F.lit(1))
    ranked = li.select(*keys, "l_extendedprice").withColumn(
        "_rn", F.row_number().over(w)
    )
    out = None
    for qm in _Q_MILLIS:
        r = F.floor((F.lit(qm) * F.col("n") + 999) / 1000).cast("long")
        e = est.filter(F.col("q_milli") == qm).withColumn("_r", r)
        truth = e.join(ranked, keys).filter(F.col("_rn") == F.col("_r")).select(
            *keys, "q_milli", "est", "n",
            F.col("l_extendedprice").cast("double").alias("true_val"),
        )
        out = truth if out is None else out.unionByName(truth)
    tol = F.col("true_val") * 0.011 + 0.02
    return (
        out.join(md5, keys)
        .select(
            F.col("l_returnflag").alias("grp"),
            "q_milli",
            "est",
            "n",
            "true_val",
            (F.abs(F.col("est") - F.col("true_val")) <= tol)
            .cast("int")
            .alias("within_bound"),
            "reg_md5",
        )
        .orderBy("grp", "q_milli")
    )


_QH_BUCKET_SQL = """
  SELECT g, CAST(CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1 ELSE 0 END AS INT) AS sign,
         CAST(length(s) - least(length(s), 3) AS INT) AS exp,
         CAST(substr(s, 1, 3) AS BIGINT) AS prefix
  FROM (SELECT g, v, CAST(CAST(floor(least(abs(v) * 100, 9000000000000000)) AS BIGINT) AS VARCHAR) AS s FROM {src})
"""


def _quantile_est_sql(src: str, qs: list[int]) -> str:
    """Shared estimate CTE chain over a (g, v) source: regs -> cum ->
    one pick per q — the exact operator derivation (int bucket math,
    integer milli rank, one double interpolation)."""
    per_q = "\n  UNION ALL".join(
        f"""
  SELECT g, {qm} AS q_milli,
         round((CASE WHEN sign >= 0 THEN lo + (CAST(r - (cum - cnt) AS DOUBLE) / cnt) * (hi - lo)
                     ELSE -(hi - (CAST(r - (cum - cnt) AS DOUBLE) / cnt) * (hi - lo)) END) / 100.0, 6) AS est,
         n
  FROM (SELECT c.*, t.n, CAST(floor(({qm} * t.n + 999) / 1000) AS BIGINT) AS r
        FROM cum c JOIN tot t USING (g))
  WHERE cum >= r AND cum - cnt < r"""
        for qm in qs
    )
    return f"""
regs AS (
  SELECT g, sign, exp, prefix, count(*) AS cnt FROM ({_QH_BUCKET_SQL.format(src=src)})
  GROUP BY 1, 2, 3, 4
),
tot AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n FROM regs GROUP BY g),
cum AS (
  SELECT g, sign, exp, prefix, cnt,
         prefix * CAST(pow(10, exp) AS BIGINT) AS lo,
         (prefix + 1) * CAST(pow(10, exp) AS BIGINT) AS hi,
         sum(cnt) OVER (PARTITION BY g
                        ORDER BY sign * (prefix * CAST(pow(10, exp) AS BIGINT)), sign) AS cum
  FROM regs
),
md5s AS (
  SELECT g, md5(string_agg(sign || ':' || exp || ':' || prefix || ':' || cnt, ','
                ORDER BY sign, exp, prefix, cnt)) AS reg_md5
  FROM regs GROUP BY g
),
ests AS ({per_q})
"""


Q_QUANTILE_HIST_SQL = f"""
WITH src AS (SELECT l_returnflag AS g, l_extendedprice AS v FROM lineitem),
{_quantile_est_sql("src", _Q_MILLIS)},
ranked AS (
  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn FROM src
)
SELECT e.g AS grp, e.q_milli, e.est, e.n,
       CAST(r.v AS DOUBLE) AS true_val,
       CAST(abs(e.est - r.v) <= r.v * 0.011 + 0.02 AS INT) AS within_bound,
       m.reg_md5
FROM ests e
JOIN ranked r ON r.g = e.g
  AND r.rn = CAST(floor((e.q_milli * e.n + 999) / 1000) AS BIGINT)
JOIN md5s m ON m.g = e.g
ORDER BY grp, q_milli
"""


def q_quantile_index_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAINTAINED quantile registers (operators/sketches.py:
    QuantileIndex): seed from the o_orderkey%4==0 quarter of orders,
    absorb the three remaining quarters IN ORDER, and emit the per-group
    p90 + register-set md5 after every epoch. Absorb is a SUM-merge —
    commutative/associative but NOT idempotent (exactly-once is the
    caller contract, unlike the max/min-confluent indexes) — and the
    batches are disjoint by construction, so the oracle replays epoch
    k's registers from batch numbering alone: counts over rows with
    o_orderkey%4 <= k. The stream also CROSSES a save/load boundary
    between epochs 1 and 2 (the durability contract in the timed path,
    like near_dedup_index_stream)."""
    from etl_file_loader_spark.operators import sketches

    orders = _t(spark, sf_dir, "orders")
    keys = ["o_orderstatus"]
    idx = sketches.QuantileIndex(
        orders.filter(F.col("o_orderkey") % 4 == 0), keys, "o_totalprice"
    )

    def snapshot(epoch: int) -> DataFrame:
        est = idx.estimate([900]).select(
            F.col("o_orderstatus").alias("grp"),
            F.col("est").alias("p90"),
            F.col("n"),
        )
        md5 = _quantile_reg_md5(idx.state(), keys).select(
            F.col("o_orderstatus").alias("grp"), "reg_md5"
        )
        return est.join(md5, "grp").select(
            F.lit(epoch).alias("epoch"), "grp", "n", "p90", "reg_md5"
        )

    outs = [_epoch_snapshot(snapshot(0))]
    for k in (1, 2, 3):
        if k == 2:
            # fixed overwrite path — see near_dedup_index_stream
            ckpt = _suite_ckpt_dir(spark) + "/quantile_idx"
            idx.save(ckpt)
            idx = sketches.QuantileIndex.load(spark, ckpt)
        idx.absorb(orders.filter(F.col("o_orderkey") % 4 == k))
        outs.append(_epoch_snapshot(snapshot(k)))
    out = outs[0]
    for part in outs[1:]:
        out = out.unionByName(part)
    return out.orderBy("epoch", "grp")


def _quantile_index_stream_sql() -> str:
    def epoch(k: int) -> str:
        src = f"(SELECT o_orderstatus AS g, o_totalprice AS v FROM orders WHERE o_orderkey % 4 <= {k})"
        return f"""
  SELECT {k} AS epoch, e.g AS grp, e.n, e.est AS p90, m.reg_md5
  FROM (WITH {_quantile_est_sql(src, [900])} SELECT * FROM ests) e
  JOIN (WITH {_quantile_est_sql(src, [900])} SELECT * FROM md5s) m ON m.g = e.g"""

    return (
        "SELECT * FROM ("
        + "\n  UNION ALL".join(epoch(k) for k in range(4))
        + "\n) ORDER BY epoch, grp"
    )


Q_QUANTILE_INDEX_STREAM_SQL = _quantile_index_stream_sql()

QUERIES.update(
    {
        "quantile_hist_check": q_quantile_hist_check,
        "quantile_index_stream": q_quantile_index_stream,
    }
)
ORACLES.update(
    {
        "quantile_hist_check": Q_QUANTILE_HIST_SQL,
        "quantile_index_stream": Q_QUANTILE_INDEX_STREAM_SQL,
    }
)


def q_quantile_trim_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quantile band filter (operators/sketches.py:
    quantile_trim): keep lineitem rows whose l_extendedprice lies within
    the per-returnflag [p10, p90] band estimated from the portable
    quantile sketch — the CCNet per-language perplexity-trim shape. Full
    value row per group: the applied bounds (sketch-derived, so the
    register walk and interpolation replay in SQL), the survivor count,
    the decimal-staged survivor sum, and the survivor min/max (which pin
    the band edges against off-by-one-bucket errors)."""
    from etl_file_loader_spark.operators import sketches

    li = _t(spark, sf_dir, "lineitem")
    trimmed = sketches.quantile_trim(
        li, ["l_returnflag"], "l_extendedprice", 100, 900, keep_bounds=True
    )
    return (
        trimmed.groupBy("l_returnflag")
        .agg(
            F.min("_q_lo").alias("q_lo"),
            F.min("_q_hi").alias("q_hi"),
            F.count(F.lit(1)).alias("kept"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("kept_sum"),
            F.min(F.col("l_extendedprice").cast("double")).alias("kept_min"),
            F.max(F.col("l_extendedprice").cast("double")).alias("kept_max"),
        )
        .select(
            F.col("l_returnflag").alias("grp"),
            "q_lo", "q_hi", "kept", "kept_sum", "kept_min", "kept_max",
        )
        .orderBy("grp")
    )


Q_QUANTILE_TRIM_SQL = f"""
WITH src AS (SELECT l_returnflag AS g, l_extendedprice AS v FROM lineitem),
{_quantile_est_sql("src", [100, 900])},
bounds AS (
  SELECT g, min(CASE WHEN q_milli = 100 THEN est END) AS q_lo,
         min(CASE WHEN q_milli = 900 THEN est END) AS q_hi
  FROM ests GROUP BY g
)
SELECT s.g AS grp, b.q_lo, b.q_hi,
       CAST(count(*) AS BIGINT) AS kept,
       CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS kept_sum,
       CAST(min(v) AS DOUBLE) AS kept_min,
       CAST(max(v) AS DOUBLE) AS kept_max
FROM src s JOIN bounds b ON b.g = s.g
WHERE s.v >= b.q_lo AND s.v <= b.q_hi
GROUP BY s.g, b.q_lo, b.q_hi
ORDER BY grp
"""

QUERIES.update({"quantile_trim_band": q_quantile_trim_band})
ORACLES.update({"quantile_trim_band": Q_QUANTILE_TRIM_SQL})


def q_cms_index_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAINTAINED count-min sketch (operators/sketches.py:CMSIndex): seed
    from the o_orderkey%4==0 quarter of orders, absorb the three
    remaining quarters IN ORDER, and emit the candidate point estimates +
    the cell-set md5 after every epoch. Cell-wise sum is exactly-once
    (like QuantileIndex; the batches are disjoint by construction), so
    the oracle replays epoch k's cells from batch numbering alone. The
    stream CROSSES a save/load boundary between epochs 1 and 2."""
    from etl_file_loader_spark.operators import sketches

    orders = _t(spark, sf_dir, "orders")
    cands = local_rows_df(spark, [(v,) for v in _CMS_CANDS], "o_custkey long")
    idx = sketches.CMSIndex(
        orders.filter(F.col("o_orderkey") % 4 == 0), "o_custkey", _CMS_D, _CMS_W
    )

    def snapshot(epoch: int) -> DataFrame:
        est = idx.query(cands, "o_custkey")
        md5 = idx.state().agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("r", "c", "cnt"))),
                        lambda s: F.concat_ws(
                            ":",
                            s.getField("r").cast("string"),
                            s.getField("c").cast("string"),
                            s.getField("cnt").cast("string"),
                        ),
                    ),
                    ",",
                )
            ).alias("sketch_md5")
        )
        return est.crossJoin(md5).select(
            F.lit(epoch).alias("epoch"),
            F.col("o_custkey").alias("custkey"),
            "est_count",
            "sketch_md5",
        )

    outs = [_epoch_snapshot(snapshot(0))]
    for k in (1, 2, 3):
        if k == 2:
            ckpt = _suite_ckpt_dir(spark) + "/cms_idx"
            idx.save(ckpt)
            idx = sketches.CMSIndex.load(spark, ckpt)
        idx.absorb(orders.filter(F.col("o_orderkey") % 4 == k))
        outs.append(_epoch_snapshot(snapshot(k)))
    out = outs[0]
    for part in outs[1:]:
        out = out.unionByName(part)
    return out.orderBy("epoch", "custkey")


def _cms_index_stream_sql() -> str:
    d, w = _CMS_D, _CMS_W
    rs = ", ".join(str(r) for r in range(d))
    cands = ", ".join(f"({v})" for v in _CMS_CANDS)
    h = (
        "CAST('0x' || substr(md5(CAST({r} AS VARCHAR) || '|' || "
        "CAST({x} AS VARCHAR)), 1, 15) AS BIGINT) % {w}"
    )

    def epoch(k: int) -> str:
        return f"""
  SELECT {k} AS epoch, e.k AS custkey, e.est_count, m.sketch_md5
  FROM (
    WITH cells AS (
      SELECT t.r, {h.format(r='t.r', x='o_custkey', w=w)} AS c
      FROM orders, unnest([{rs}]) t(r)
      WHERE o_orderkey % 4 <= {k}
    ),
    sk AS (SELECT r, c, CAST(count(*) AS BIGINT) AS cnt FROM cells GROUP BY r, c),
    cand(q) AS (VALUES {cands}),
    probes AS (
      SELECT cand.q AS k, t.r, {h.format(r='t.r', x='cand.q', w=w)} AS c
      FROM cand, unnest([{rs}]) t(r)
    )
    SELECT k, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est_count
    FROM probes LEFT JOIN sk USING (r, c) GROUP BY k
  ) e
  CROSS JOIN (
    WITH cells AS (
      SELECT t.r, {h.format(r='t.r', x='o_custkey', w=w)} AS c
      FROM orders, unnest([{rs}]) t(r)
      WHERE o_orderkey % 4 <= {k}
    ),
    sk AS (SELECT r, c, CAST(count(*) AS BIGINT) AS cnt FROM cells GROUP BY r, c)
    SELECT md5(string_agg(r || ':' || c || ':' || cnt, ',' ORDER BY r, c, cnt)) AS sketch_md5
    FROM sk
  ) m"""

    return (
        "SELECT * FROM ("
        + "\n  UNION ALL".join(epoch(k) for k in range(4))
        + "\n) ORDER BY epoch, custkey"
    )


Q_CMS_INDEX_STREAM_SQL = _cms_index_stream_sql()

QUERIES.update({"cms_index_stream": q_cms_index_stream})
ORACLES.update({"cms_index_stream": Q_CMS_INDEX_STREAM_SQL})
