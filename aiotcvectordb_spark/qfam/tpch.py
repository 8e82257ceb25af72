"""SURVEY §2.7 relational breadth: TPC-H-shaped joins/aggs, grouping sets, pivot/unpivot, subqueries.

Split out of queries.py in r12 (mechanical, order-preserving); see queries.py for the registry."""

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aiotcvectordb_spark.functions import sparse as sparse_fn
from aiotcvectordb_spark.qfam.core import ROUND_DIGITS, load, load_wide

# --------------------------------------------------------------------------
# §2.7 relational breadth: grouping sets / pivot / unpivot / TPC-H shapes
# --------------------------------------------------------------------------


def q_grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit non-hierarchical GROUPING SETS (beyond ROLLUP/CUBE):
    ((priority, status), (priority), (status)) over orders, with
    grouping() flags. One pass — Spark expands the sets into a single
    Expand + partial/final aggregate, no per-set rescans."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [
                ["o_orderpriority", "o_orderstatus"],
                ["o_orderpriority"],
                ["o_orderstatus"],
            ],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("price_sum"),
            F.grouping("o_orderpriority").cast("int").alias("g_prio"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
        )
        .select(
            "o_orderpriority", "o_orderstatus", "n_orders", "price_sum",
            "g_prio", "g_status",
        )
    )


ORACLE_GROUPING_SETS_AGG = """
SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
       CAST(grouping(o_orderpriority) AS INT) AS g_prio,
       CAST(grouping(o_orderstatus) AS INT) AS g_status
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), (o_orderstatus))
"""


def q_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: quantity by linestatus (rows) x returnflag (columns).
    Explicit pivot values keep it one pass (no distinct-values job) and
    a fixed output schema — the 100 TB-safe form."""
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"))
        .select("l_linestatus", "A", "N", "R")
    )


ORACLE_PIVOT_WIDE = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "A",
       CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "N",
       CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "R"
FROM lineitem
GROUP BY l_linestatus
"""


def q_unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long): per-status urgent/high price masses
    melted into (o_orderstatus, priority_class, price_sum) rows."""
    orders = load(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    wide = orders.groupBy("o_orderstatus").agg(
        F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", price))
        .cast("double")
        .alias("urgent"),
        F.sum(F.when(F.col("o_orderpriority") == "2-HIGH", price))
        .cast("double")
        .alias("high"),
    )
    return wide.unpivot(
        ["o_orderstatus"], ["urgent", "high"], "priority_class", "price_sum"
    )


ORACLE_UNPIVOT_LONG = """
WITH wide AS (
  SELECT o_orderstatus,
         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS urgent,
         CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS high
  FROM orders GROUP BY o_orderstatus
)
SELECT o_orderstatus, 'urgent' AS priority_class, urgent AS price_sum FROM wide
UNION ALL
SELECT o_orderstatus, 'high' AS priority_class, high AS price_sum FROM wide
"""


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: lineitem pricing summary with a shipdate
    pushdown filter. Pure map-side partial aggregation into 4 groups —
    the scan dominates and scales linearly; no join, ~no shuffle."""
    lineitem = load(spark, sf_dir, "lineitem").filter(
        "l_shipdate <= timestamp '1997-09-01 00:00:00'"
    )
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    # charge multiplies THREE doubles — engines disagree in the last bits
    # (association/FMA), so do the arithmetic in exact decimal instead:
    # (12,2)*(4,2)*(4,2) stays well inside 38 digits on both engines.
    charge = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (1 - F.col("l_discount")).cast("decimal(4,2)")
        * (1 + F.col("l_tax")).cast("decimal(4,2)")
    )
    n = F.count("*")
    return (
        lineitem.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.round(F.sum(qty).cast("double") / n, ROUND_DIGITS).alias("avg_qty"),
            F.round(F.sum(price).cast("double") / n, ROUND_DIGITS).alias("avg_price"),
            n.alias("count_order"),
        )
        .select(
            "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
            "sum_disc_price", "sum_charge", "avg_qty", "avg_price", "count_order",
        )
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                * CAST(1 - l_discount AS DECIMAL(4,2))
                * CAST(1 + l_tax AS DECIMAL(4,2))) AS DOUBLE) AS sum_charge,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1997-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 unshipped orders by revenue. Date filters
    push to both scans; the orderkey aggregation reuses the join's hash
    partitioning (no extra shuffle); top-10 is a TakeOrdered, not a full
    sort."""
    cutoff = "timestamp '1996-06-15 00:00:00'"
    orders = load(spark, sf_dir, "orders").filter(f"o_orderdate < {cutoff}")
    lineitem = load(spark, sf_dir, "lineitem").filter(f"l_shipdate > {cutoff}")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_orderdate", "o_orderpriority", "revenue")
    )


ORACLE_TOP_REVENUE_ORDERS = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderdate < TIMESTAMP '1996-06-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1996-06-15 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders priced above 1.5x their
    customer's average. Catalyst decorrelates it into one aggregate +
    one join (no per-row re-execution) — the plan a hand-written
    join/agg would produce, written declaratively. Decimal avg keeps
    both engines exact."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("__orders_cs")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        FROM __orders_cs o
        WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) >
              (SELECT 1.5 * (CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                             / count(*))
               FROM __orders_cs o2 WHERE o2.o_custkey = o.o_custkey)
        """
    )


def q_time_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: hourly 'purchase' counts over the table's
    full hour range, with EMPTY hours materialized as zero rows
    (sequence + explode of the hour spine, broadcast left join of the
    sparse counts). The resample/gap-fill primitive of monitoring and
    feature pipelines — the spine is computed from one aggregate row,
    never collected to the driver."""
    ev = load(spark, sf_dir, "events").select(
        F.expr("(ts div 1000000000) div 3600 * 3600").alias("hour_s"),
        "event_type",
    )
    bounds = ev.agg(
        F.min("hour_s").alias("lo"), F.max("hour_s").alias("hi")
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, 3600)")).alias("hour_s")
    )
    counts = (
        ev.filter("event_type = 'purchase'")
        .groupBy("hour_s")
        .agg(F.count("*").alias("n"))
    )
    return (
        spine.join(counts, "hour_s", "left")
        .select("hour_s", F.coalesce("n", F.lit(0)).alias("n_purchases"))
    )


ORACLE_TIME_GAP_FILL = """
WITH ev AS (
  SELECT (epoch_ns(ts) // 1000000000) // 3600 * 3600 AS hour_s, event_type
  FROM events
),
bounds AS (SELECT min(hour_s) AS lo, max(hour_s) AS hi FROM ev),
spine AS (
  SELECT unnest(generate_series(lo, hi, 3600)) AS hour_s FROM bounds
),
counts AS (
  SELECT hour_s, count(*) AS n FROM ev WHERE event_type = 'purchase' GROUP BY hour_s
)
SELECT s.hour_s, coalesce(c.n, 0) AS n_purchases
FROM spine s LEFT JOIN counts c USING (hour_s)
"""


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis (view -> click -> purchase): per-user first-time
    of each step via conditional min aggregation (one shuffle on
    user_id), then ordered-step counts. The min-based ordering
    definition is deterministic — no window needed, pure partial-agg
    friendly."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("ts div 1000000000").alias("sec")
    )
    steps = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("sec"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("sec"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("sec"))).alias(
            "t_purchase"
        ),
    )
    return steps.agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("n_view"),
        F.count(
            F.when(
                F.col("t_view").isNotNull()
                & F.col("t_click").isNotNull()
                & (F.col("t_view") < F.col("t_click")),
                1,
            )
        ).alias("n_view_click"),
        F.count(
            F.when(
                F.col("t_view").isNotNull()
                & F.col("t_click").isNotNull()
                & F.col("t_purchase").isNotNull()
                & (F.col("t_view") < F.col("t_click"))
                & (F.col("t_click") < F.col("t_purchase")),
                1,
            )
        ).alias("n_full_funnel"),
    )


ORACLE_FUNNEL_STEPS = """
WITH steps AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN epoch_ns(ts) // 1000000000 END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN epoch_ns(ts) // 1000000000 END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) // 1000000000 END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT count(CASE WHEN t_view IS NOT NULL THEN 1 END) AS n_view,
       count(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                   AND t_view < t_click THEN 1 END) AS n_view_click,
       count(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                   AND t_purchase IS NOT NULL AND t_view < t_click
                   AND t_click < t_purchase THEN 1 END) AS n_full_funnel
FROM steps
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity week; for each
    (cohort_week, week_offset), how many distinct users were active.
    Two aggregations plus one equi-join on user_id — the standard
    retention matrix, all hash-partitioned, no windows."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.expr("(ts div 1000000000) div 604800").alias("week")
    )
    activity = ev.distinct()
    cohort = activity.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        activity.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


ORACLE_RETENTION_COHORTS = """
WITH activity AS (
  SELECT DISTINCT user_id, (epoch_ns(ts) // 1000000000) // 604800 AS week
  FROM events
),
cohort AS (SELECT user_id, min(week) AS cohort_week FROM activity GROUP BY user_id)
SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
       count(DISTINCT a.user_id) AS n_users
FROM activity a JOIN cohort c USING (user_id)
GROUP BY 1, 2
"""


def q_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles (an actually-occurring value, vs the
    interpolated `percentiles` query): p25/p50/p90 of event value per
    type via percentile_disc WITHIN GROUP. Discrete selection has no
    float interpolation, so it's exactly comparable across engines."""
    load(spark, sf_dir, "events").createOrReplaceTempView("__events_pd")
    return spark.sql(
        """
        SELECT event_type,
               round(percentile_disc(0.25) WITHIN GROUP (ORDER BY value), 6) AS p25,
               round(percentile_disc(0.5) WITHIN GROUP (ORDER BY value), 6) AS p50,
               round(percentile_disc(0.9) WITHIN GROUP (ORDER BY value), 6) AS p90
        FROM __events_pd
        GROUP BY event_type
        """
    )


ORACLE_PERCENTILE_DISC = """
SELECT event_type,
       round(quantile_disc(value, 0.25), 6) AS p25,
       round(quantile_disc(value, 0.5), 6) AS p50,
       round(quantile_disc(value, 0.9), 6) AS p90
FROM events
GROUP BY event_type
"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items sketch: top-20 corpus tokens via ``approx_top_k``
    (mergeable space-saving sketch — one pass, fixed memory, partial
    aggregation; the vocabulary-profiling op of a corpus pipeline). No
    SQL oracle: the sketch's boundary ties are engine-specific; the
    pytest asserts every reported count equals the exact count and the
    cutoff dominates the exact 20th count."""
    df = load_wide(spark, sf_dir, "documents")
    toks = df.select(
        F.explode_outer(sparse_fn.bm25_tokens_col("text")).alias("token")
    ).filter(F.col("token").isNotNull())  # r12: outer generate + NULL filter — no inferred size-filter re-tokenizing serially below the exchange (see pipelines.token_shingles)
    sketch = toks.select(
        F.expr("approx_top_k(token, 20)").alias("tk")
    ).select(F.explode("tk").alias("e"))
    return (
        sketch.select(F.col("e.item").alias("token"), F.col("e.count").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
    )


def q_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates beyond sums: Pearson correlation and
    population covariance of quantity vs extended price per returnflag
    (single-pass co-moment aggregation on both engines)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            # explicit Pearson: covar / (sx * sy) with a NULLIF guard —
            # the built-in corr() divides by the stddevs internally and
            # ANSI-aborts the whole job on a zero-variance group
            # (constant quantity within a flag); NULL is the defined
            # value there, and the oracle uses the identical formula
            F.round(
                F.covar_pop("l_quantity", "l_extendedprice")
                / F.nullif(
                    F.stddev_pop("l_quantity")
                    * F.stddev_pop("l_extendedprice"),
                    F.lit(0.0),
                ),
                ROUND_DIGITS,
            ).alias("qty_price_corr"),
            F.round(
                F.covar_pop("l_quantity", "l_extendedprice"), ROUND_DIGITS
            ).alias("qty_price_covar"),
            F.round(F.stddev_pop("l_quantity"), ROUND_DIGITS).alias("qty_stddev"),
            F.count("*").alias("n"),
        )
        .select("l_returnflag", "qty_price_corr", "qty_price_covar", "qty_stddev", "n")
    )


ORACLE_CORR_STATS = """
SELECT l_returnflag,
       round(covar_pop(l_quantity, l_extendedprice)
             / NULLIF(stddev_pop(l_quantity) * stddev_pop(l_extendedprice),
                      0), 6) AS qty_price_corr,
       round(covar_pop(l_quantity, l_extendedprice), 6) AS qty_price_covar,
       round(stddev_pop(l_quantity), 6) AS qty_stddev,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag
"""


def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outliers: standardize event values against
    their type's mean/stddev (two-pass: tiny stats aggregate broadcast
    back onto the full scan) and keep |z| > 3 — the
    anomaly/outlier-filter pattern of data-quality pipelines. Stats use
    sum/count arithmetic identical on both engines (population variance
    via E[x^2] - E[x]^2) so the flag is deterministic."""
    ev = load(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.sum("value").alias("s1"),
        F.sum(F.col("value") * F.col("value")).alias("s2"),
        F.count("*").alias("n"),
    )
    mean = F.col("s1") / F.col("n")
    # clamp: floating cancellation can leave var at -1e-12 for a
    # near-constant group (sqrt would be NaN here, an ERROR in DuckDB)
    var = F.greatest(
        F.col("s2") / F.col("n") - mean * mean, F.lit(0.0)
    )
    stats = stats.select(
        "event_type", mean.alias("mu"), F.sqrt(var).alias("sigma")
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        # NULLIF: a constant group has sigma 0 and NO outliers by
        # definition — without the guard ANSI mode aborts the whole
        # job with DIVIDE_BY_ZERO on the first degenerate group
        .withColumn(
            "z",
            F.round(
                (F.col("value") - F.col("mu"))
                / F.nullif(F.col("sigma"), F.lit(0.0)),
                6,
            ),
        )
        .filter("abs(z) > 3")
        .select("event_id", "event_type", F.round("value", 6).alias("value"), "z")
    )


ORACLE_ZSCORE_OUTLIERS = """
WITH stats AS (
  SELECT event_type, sum(value) AS s1, sum(value * value) AS s2, count(*) AS n
  FROM events GROUP BY event_type
),
ms AS (
  SELECT event_type, s1 / n AS mu,
         sqrt(GREATEST(s2 / n - (s1 / n) * (s1 / n), 0)) AS sigma
  FROM stats
)
SELECT event_id, event_type, round(value, 6) AS value,
       round((value - mu) / NULLIF(sigma, 0), 6) AS z
FROM events JOIN ms USING (event_type)
WHERE abs(round((value - mu) / NULLIF(sigma, 0), 6)) > 3
"""


def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (value-based, not row-based): for each event,
    how many events of the same type arrived in the preceding 10
    minutes (inclusive). Complements the ROWS frames in window_funcs —
    RANGE frames are the sliding-window primitive for irregular time
    series."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("ts div 1000000000").alias("sec"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("sec")
        .rangeBetween(-600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "event_type",
        "sec",
        F.count("*").over(w).alias("n_last_10m"),
    )


ORACLE_WINDOW_RANGE_FRAME = """
SELECT event_id, event_type, epoch_ns(ts) // 1000000000 AS sec,
       count(*) OVER (
         PARTITION BY event_type ORDER BY epoch_ns(ts) // 1000000000
         RANGE BETWEEN 600 PRECEDING AND CURRENT ROW
       ) AS n_last_10m
FROM events
"""


def q_nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral shipping volume between two nations by
    year. Two independent broadcast nation lookups (supplier side and
    customer side), big fact joins hash-partitioned on their keys, then
    a 4-group aggregate — the multi-dimension star join pattern."""
    n1, n2 = "NATION_1", "NATION_2"
    nation = load(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(n1, n2)
    )
    supplier = load(spark, sf_dir, "supplier")
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    supp_n = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    cust_n = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        lineitem.join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(supp_n), supplier.s_nationkey == F.col("s_nkey"))
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(cust_n), customer.c_nationkey == F.col("c_nkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(vol).cast("double").alias("revenue"))
        .select("supp_nation", "cust_nation", "l_year", "revenue")
    )


ORACLE_NATION_VOLUME_SHIPPING = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('NATION_1', 'NATION_2')
  AND n2.n_name IN ('NATION_1', 'NATION_2')
  AND n1.n_name <> n2.n_name
GROUP BY 1, 2, 3
"""


def q_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's market share of a part type inside a
    region, by order year. The deepest star join in the suite — lineitem
    at the center, part/supplier/orders/customer spokes, two nation
    lookups plus a region gate. Nation/region are broadcast; part and
    the fact joins stay hash-partitioned so AQE can pick broadcast at
    small SF and shuffle-hash at 100 TB. The share is a ratio of two
    decimal-exact sums divided once in double, so the result is
    bit-stable across engines and partitionings."""
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    part = load(spark, sf_dir, "part").filter(F.col("p_type") == "MEDIUM")
    supplier = load(spark, sf_dir, "supplier")
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1995, 1996)
    )
    lineitem = load(spark, sf_dir, "lineitem")
    cust_n = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey").alias("c_nkey"))
    supp_n = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(supp_n), supplier.s_nationkey == F.col("s_nkey"))
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(cust_n), customer.c_nationkey == F.col("c_nkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_2", vol).otherwise(zero)
                ).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
        .select("o_year", "mkt_share")
    )


def q_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders in a quarter that had at least one
    late-shipped line, counted by priority. The correlated EXISTS is a
    LEFT SEMI join — lineitem is never widened into the output, the
    shuffle carries only (orderkey, shipdate), and the date filter
    prunes the orders scan before the join."""
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    lineitem = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            lineitem,
            (orders.o_orderkey == lineitem.l_orderkey)
            & (lineitem.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


ORACLE_ORDER_PRIORITY_CHECK = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""


def q_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed how many
    (non-urgent) orders, including zero. LEFT OUTER join on custkey;
    the per-customer count REUSES the join's hash partitioning (no
    exchange between join and first aggregate), and the second
    aggregate's input is one row per customer-count — tiny."""
    customer = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


ORACLE_CUSTOMER_DISTRIBUTION = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


ORACLE_NATIONAL_MARKET_SHARE = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CASE WHEN n2.n_name = 'NATION_2'
                     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
       / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
       AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND p_type = 'MEDIUM'
  AND year(o_orderdate) IN (1995, 1996)
GROUP BY 1
"""


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: share of one month's revenue from promo parts.
    The shipdate filter prunes the lineitem scan BEFORE the part join;
    the single-group ratio divides two decimal-exact sums once in
    double (bit-stable cross-engine)."""
    lineitem = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", vol).otherwise(zero)
                ).cast("double")
                / F.sum(vol).cast("double")
            ).alias("promo_revenue")
        )
    )


ORACLE_PROMO_REVENUE = """
SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
       / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
       AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01'
  AND l_shipdate < TIMESTAMP '1996-04-01'
"""


def q_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in a
    quarter. Fact joins hash-partitioned on their keys, nation broadcast,
    aggregation reuses the custkey partitioning, TakeOrderedAndProject
    top-20 instead of a global sort."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    lineitem = load(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    nation = load(spark, sf_dir, "nation")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(vol).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


ORACLE_RETURNED_ITEM_REVENUE = """
SELECT c_custkey, c_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
         AS revenue,
       c_acctbal, n_name
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where supplier and customer
    share the nation, within one region and year. The s_nationkey =
    c_nationkey constraint rides on the supplier join (no extra
    shuffle); region/nation broadcast."""
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        F.year("o_orderdate") == 1996
    )
    lineitem = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    nat = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            supplier,
            (lineitem.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nat), supplier.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(vol).cast("double").alias("revenue"))
    )


ORACLE_LOCAL_SUPPLIER_VOLUME = """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
         AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND year(o_orderdate) = 1996
GROUP BY n_name
"""


def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-sum, the canonical predicate
    pushdown probe — every filter reaches the parquet reader, one
    partial-aggregated single group, zero joins."""
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * F.col("l_discount")).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
    )


ORACLE_FORECAST_REVENUE_CHANGE = """
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE)
         AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from orders below 20% of a part's
    average quantity, for one brand. The per-part average is a tiny
    aggregate joined back onto the filtered fact — Catalyst decorrelates
    the classic correlated subquery into exactly this plan."""
    part = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    lineitem = load(spark, sf_dir, "lineitem")
    # Only brand parts survive the final inner join, so compute the
    # per-part average over the brand's lineitems only (broadcast
    # semi-join gate) — identical result, ~brand-selectivity smaller
    # aggregation and shuffle.
    brand_items = lineitem.join(
        F.broadcast(part.select("p_partkey")),
        lineitem.l_partkey == F.col("p_partkey"),
        "left_semi",
    )
    avg_qty = (
        brand_items.groupBy("l_partkey")
        .agg(
            (
                F.lit(0.2)
                * (
                    F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                    / F.count("*")
                )
            ).alias("qty_threshold")
        )
    )
    return (
        brand_items.join(F.broadcast(part), brand_items.l_partkey == part.p_partkey)
        .join(avg_qty, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
                / 7.0
            ).alias("avg_yearly")
        )
    )


ORACLE_SMALL_QUANTITY_REVENUE = """
WITH avg_qty AS (
  SELECT l_partkey,
         0.2 * (CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*))
           AS qty_threshold
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0
         AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN avg_qty USING (l_partkey)
WHERE p_brand = 'Brand#1' AND l_quantity < qty_threshold
"""


def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers whose single orders exceed a quantity
    threshold — groupBy-HAVING on the fact, then enrich the few
    surviving orders with customer data (the second join's left side is
    tiny after the HAVING gate)."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").alias("o_orderdate"),
            "o_totalprice",
            F.col("total_qty").cast("double").alias("total_qty"),
        )
    )


ORACLE_LARGE_VOLUME_CUSTOMERS = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(total_qty AS DOUBLE) AS total_qty
FROM (
  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING total_qty > 150
)
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""
