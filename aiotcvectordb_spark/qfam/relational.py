"""SURVEY §2.7 relational primitives, windowed event aggregation, multimodal binary columns.

Split out of queries.py in r12 (mechanical, order-preserving); see queries.py for the registry."""

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aiotcvectordb_spark.payloadstore import payload_table
from aiotcvectordb_spark.qfam.core import ROUND_DIGITS, load, load_wide

# --------------------------------------------------------------------------
# Relational coverage (SURVEY §2.7): joins, windows, rollup, set ops.
# Money sums use DECIMAL so aggregation order cannot perturb the hash.
# --------------------------------------------------------------------------


def q_join_pruned_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join with broadcast dims + pushed-down filters (TPC-H Q5
    shape): revenue per nation for one region and year. region/nation
    are broadcast; the orders date filter and region filter reach the
    parquet scans."""
    region = load(spark, sf_dir, "region").filter("r_name = 'ASIA'")
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        "o_orderdate >= timestamp '1996-01-01 00:00:00' AND "
        "o_orderdate < timestamp '1997-01-01 00:00:00'"
    )
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            # DECIMAL accumulation is order-independent (exact), so the
            # hash can't be perturbed by partial-agg ordering; the final
            # DOUBLE cast is deterministic for a given decimal value.
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .select("n_name", "revenue", "n_items")
    )


ORACLE_JOIN_PRUNED_DIMS = """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions: per-customer running order total (unbounded
    preceding) and previous order price via lag."""
    orders = load(spark, sf_dir, "orders").filter("o_custkey < 200")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        price.cast("double").alias("price"),
        F.sum(price).over(w).cast("double").alias("running_total"),
        F.lag(price, 1).over(w).cast("double").alias("prev_price"),
    )


ORACLE_WINDOW_RUNNING = """
SELECT o_custkey, o_orderkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS running_total,
       CAST(lag(CAST(o_totalprice AS DECIMAL(18,2)), 1)
         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS prev_price
FROM orders WHERE o_custkey < 200
"""


def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets: ROLLUP(region, nation) over customer balances —
    region subtotals and a grand total alongside leaf groups."""
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("acctbal_sum"),
        )
        .select("r_name", "n_name", "n_customers", "acctbal_sum")
    )


ORACLE_ROLLUP_AGG = """
SELECT r_name, n_name, count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal_sum
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
"""


def q_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth beyond running totals: dense_rank,
    percent_rank, ntile, first/last value over bounded frames."""
    orders = load(spark, sf_dir, "orders").filter("o_custkey < 100")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.dense_rank().over(w).cast("int").alias("drank"),
        F.round(F.percent_rank().over(w), ROUND_DIGITS).alias("prank"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.first(price).over(frame).cast("double").alias("first_price"),
        F.max(price).over(frame).cast("double").alias("max_so_far"),
    )


ORACLE_WINDOW_FUNCS = """
SELECT o_custkey, o_orderkey,
       CAST(dense_rank() OVER w AS INT) AS drank,
       round(percent_rank() OVER w, 6) AS prank,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       CAST(first_value(CAST(o_totalprice AS DECIMAL(18,2))) OVER
            (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS first_price,
       CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) OVER
            (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS max_so_far
FROM orders
WHERE o_custkey < 100
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
"""


def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function breadth (string/date/math) — the function library
    the reference's filter grammar lacks (SURVEY §2.7) but any analytics
    engine needs; all JVM built-ins inside whole-stage codegen."""
    parts = load(spark, sf_dir, "part").filter("p_partkey < 1000")
    orders = load(spark, sf_dir, "orders").filter("o_orderkey < 2000")
    strings = parts.select(
        F.col("p_partkey").alias("key"),
        F.upper(F.substring("p_brand", 1, 7)).alias("brand_code"),
        F.length("p_name").cast("long").alias("name_len"),
        F.regexp_extract("p_name", r"([a-z]{6,})", 1).alias("first_longword"),
        F.concat_ws("|", "p_type", "p_brand").alias("type_brand"),
        F.lit(None).cast("string").alias("order_month"),
        F.lit(None).cast("long").alias("days_to_end"),
        F.round(F.log10(F.col("p_retailprice").cast("double") + 1.0), ROUND_DIGITS)
        .alias("log_price"),
        # portable bucket hash: md5 prefix, not engine-specific murmur
        F.expr("conv(substring(md5(p_name), 1, 4), 16, 10) % 100")
        .cast("int").alias("name_bucket"),
    )
    dates = orders.select(
        F.col("o_orderkey").alias("key"),
        F.lit(None).cast("string").alias("brand_code"),
        F.lit(None).cast("long").alias("name_len"),
        F.lit(None).cast("string").alias("first_longword"),
        F.lit(None).cast("string").alias("type_brand"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").cast("string")
        .alias("order_month"),
        F.datediff(F.lit("1998-12-31").cast("date"), F.col("o_orderdate"))
        .cast("long").alias("days_to_end"),
        F.lit(None).cast("double").alias("log_price"),
        F.lit(None).cast("int").alias("name_bucket"),
    )
    return strings.unionByName(dates)


ORACLE_SCALAR_FUNCS = """
SELECT p_partkey AS key,
       upper(substr(p_brand, 1, 7)) AS brand_code,
       CAST(length(p_name) AS BIGINT) AS name_len,
       coalesce(regexp_extract(p_name, '([a-z]{6,})', 1), '') AS first_longword,
       concat_ws('|', p_type, p_brand) AS type_brand,
       CAST(NULL AS VARCHAR) AS order_month,
       CAST(NULL AS BIGINT) AS days_to_end,
       round(log10(CAST(p_retailprice AS DOUBLE) + 1.0), 6) AS log_price,
       CAST(('0x' || substr(md5(p_name), 1, 4))::BIGINT % 100 AS INT) AS name_bucket
FROM part WHERE p_partkey < 1000
UNION ALL
SELECT o_orderkey AS key,
       NULL, NULL, NULL, NULL,
       CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS order_month,
       CAST(datediff('day', o_orderdate, DATE '1998-12-31') AS BIGINT) AS days_to_end,
       NULL, NULL
FROM orders WHERE o_orderkey < 2000
"""


def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets: CUBE(o_orderstatus, o_orderpriority) with
    grouping() flags distinguishing subtotal rows from genuine NULLs."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("price_sum"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_prio"),
        )
        .select(
            "o_orderstatus", "o_orderpriority", "n_orders", "price_sum",
            "g_status", "g_prio",
        )
    )


ORACLE_CUBE_AGG = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
       CAST(grouping(o_orderstatus) AS INT) AS g_status,
       CAST(grouping(o_orderpriority) AS INT) AS g_prio
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
"""


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median / p95 / max) of event value
    per event_type — the distribution-profiling aggregate a training
    pipeline runs over quality scores. Exact `percentile` matches
    DuckDB's quantile_cont bit-for-bit after rounding; at 100 TB swap in
    approx_percentile (t-digest) and verify by tolerance instead."""
    events = load_wide(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), ROUND_DIGITS).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), ROUND_DIGITS).alias("p95"),
            F.round(F.max("value"), ROUND_DIGITS).alias("vmax"),
            F.count("*").alias("n"),
        )
        .select("event_type", "p50", "p95", "vmax", "n")
    )


ORACLE_PERCENTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(max(value), 6) AS vmax,
       count(*) AS n
FROM events
GROUP BY event_type
"""


def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi + left-anti joins: customers that have orders but no
    returned lineitem (the delete/upsert rewrite primitives, ops 19/21,
    exercised as a query)."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    returned = (
        lineitem.filter("l_returnflag = 'R'")
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select("o_custkey")
        .distinct()
    )
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .join(returned, customer.c_custkey == returned.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


ORACLE_SEMI_ANTI_JOIN = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
  AND NOT EXISTS (
    SELECT 1 FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_custkey = c_custkey AND l_returnflag = 'R'
  )
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: customers ordering in both 1996 and 1997
    (INTERSECT), minus those with any open order (EXCEPT)."""
    orders = load(spark, sf_dir, "orders")
    y96 = orders.filter("year(o_orderdate) = 1996").select(
        F.col("o_custkey").alias("custkey")
    )
    y97 = orders.filter("year(o_orderdate) = 1997").select(
        F.col("o_custkey").alias("custkey")
    )
    open_ = orders.filter("o_orderstatus = 'O'").select(
        F.col("o_custkey").alias("custkey")
    )
    return y96.intersect(y97).subtract(open_)


ORACLE_SET_OPS = """
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1997
EXCEPT
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
"""


# --------------------------------------------------------------------------
# Streaming-shaped windowed aggregation (batch mode of the shared op)
# --------------------------------------------------------------------------


def q_event_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type — the exact transformation
    ``streaming.sink.windowed_event_counts`` runs under Structured
    Streaming with a watermark (equivalence proven in tests); here in
    batch mode for the oracle check."""
    from aiotcvectordb_spark.streaming.sink import windowed_event_counts

    events = load_wide(spark, sf_dir, "events")
    return windowed_event_counts(events, window="1 hour")


def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bound histogram of order totals: 20 equal-width bins over
    [0, 600000), out-of-range clamped to the edge bins. Binning is one
    integer expression inside the scan projection; the aggregate ships
    20 groups through the shuffle. (Fixed literal bounds — a two-pass
    min/max version would be data-dependent but equally oracle-safe.)"""
    df = load(spark, sf_dir, "orders")
    bin_ = F.expr(
        "least(greatest(cast(floor(o_totalprice / 30000.0) as int), 0), 19)"
    )
    return (
        df.groupBy(bin_.alias("bin"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("price_sum"),
        )
        .withColumn("bin_low", (F.col("bin") * 30000.0))
    )


ORACLE_PRICE_HISTOGRAM = """
SELECT bin, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
       bin * 30000.0 AS bin_low
FROM (
  SELECT o_totalprice,
         least(greatest(CAST(floor(o_totalprice / 30000.0) AS INT), 0), 19) AS bin
  FROM orders
)
GROUP BY bin
"""


def q_sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 hour long, 15-minute slide): every event lands
    in exactly 4 overlapping windows. `F.window(duration, slide)` is the
    one Spark op; the oracle replays the overlap by exploding each event
    into its 4 window starts. Same one-shuffle partial-agg shape as the
    tumbling variant — the 4x row amplification happens inside the
    window expression, before map-side combine."""
    events = load_wide(spark, sf_dir, "events")
    with_ts = events.withColumn(
        "__event_time", F.expr("cast(ts div 1000000000 as timestamp)")
    )
    return (
        with_ts.groupBy(
            F.window("__event_time", "1 hour", "15 minutes"), "event_type"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").cast("long").alias("win_start"),
            "event_type",
            "n_events",
        )
    )


ORACLE_SLIDING_WINDOW_AGG = """
SELECT CAST(epoch(time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP))) AS BIGINT)
         - k * 900 AS win_start,
       event_type,
       count(*) AS n_events
FROM events CROSS JOIN (SELECT unnest(range(4)) AS k)
GROUP BY 1, 2
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward, inclusive): for each purchase event, the
    most recent click at-or-before it by the same user. Implemented as
    a one-shuffle union + carry-forward window (operators/asof.py), not
    a range join."""
    from aiotcvectordb_spark.operators.asof import asof_join

    # microsecond precision on both sides: DuckDB TIMESTAMP is micros,
    # so full-nanos values could never hash-match the oracle
    events = load_wide(spark, sf_dir, "events")
    left = events.filter("event_type = 'purchase'").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.expr("ts div 1000").alias("ts_us"),
    )
    right = events.filter("event_type = 'click'").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.expr("ts div 1000").alias("ts_us"),
        F.expr("ts div 1000").alias("click_ts_us"),
    )
    return asof_join(
        left,
        right,
        on="ts_us",
        by="user_id",
        tiebreak="click_id",
        right_cols=["click_id", "click_ts_us"],
    ).withColumnRenamed("ts_us", "purchase_ts_us")


ORACLE_ASOF_JOIN = """
WITH l AS (
  SELECT user_id, event_id AS purchase_id, epoch_ns(ts) // 1000 AS ts_us
  FROM events WHERE event_type = 'purchase'
), r0 AS (
  SELECT user_id, event_id AS click_id, epoch_ns(ts) // 1000 AS ts_us
  FROM events WHERE event_type = 'click'
), r AS (  -- same tie rule as the operator: max tiebreak per (by, on)
  SELECT user_id, ts_us, max(click_id) AS click_id
  FROM r0 GROUP BY user_id, ts_us
)
SELECT l.user_id, l.purchase_id, l.ts_us AS purchase_ts_us,
       r.click_id, r.ts_us AS click_ts_us
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range (interval) join: every click by the same user within
    30 min before each purchase. The same transformation runs as a
    watermarked stream-stream join (streaming/joins.py; equivalence in
    pytest)."""
    from aiotcvectordb_spark.streaming.joins import purchases_with_recent_clicks

    events = load_wide(spark, sf_dir, "events")
    return purchases_with_recent_clicks(
        events.filter("event_type = 'purchase'"),
        events.filter("event_type = 'click'"),
        window_s=1800,
    )


ORACLE_INTERVAL_JOIN = """
WITH p AS (
  SELECT user_id, event_id AS purchase_id, epoch_ns(ts) // 1000000000 AS p_sec
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, event_id AS click_id, epoch_ns(ts) // 1000000000 AS c_sec
  FROM events WHERE event_type = 'click'
)
SELECT p.user_id, p.purchase_id, c.click_id, p.p_sec - c.c_sec AS gap_s
FROM p JOIN c ON p.user_id = c.user_id
AND c.c_sec BETWEEN p.p_sec - 1800 AND p.p_sec
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based per-user sessionization (30-min inactivity gap) — the
    batch strategy of ``streaming.session.sessionize_batch``; streaming
    equivalence via native session_window is proven in pytest."""
    from aiotcvectordb_spark.streaming.session import sessionize_batch

    events = load_wide(spark, sf_dir, "events")
    return sessionize_batch(events, gap="30 minutes")


def q_sessionize_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME gap sessionization through the ``sessionize_by_gap``
    SQL table function (functions/session_udtf.py) — one shuffle on the
    user key, O(1) UDTF state per group — aggregated to the identical
    output shape as ``sessionize`` and hash-checked against the same
    DuckDB oracle, proving the SQL surface matches the programmatic
    one."""
    from aiotcvectordb_spark.functions.session_udtf import (
        register_sessionize_udtf,
        sessionize_sql,
    )

    register_sessionize_udtf(spark)
    events = load_wide(spark, sf_dir, "events")
    events.selectExpr(
        "user_id",
        "event_id",
        "ts div 1000000000 AS ts_sec",
        "value",
    ).createOrReplaceTempView("events_for_sessionize")
    inner = sessionize_sql("events_for_sessionize", gap_seconds=1800)
    return spark.sql(
        f"""
        SELECT user_id,
               min(ts_sec) AS session_start,
               max(ts_sec) AS session_end,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS value_sum
        FROM ({inner})
        GROUP BY user_id, session_no
        """
    )


# epoch_ns // 1e9 floors exactly like Spark's `ts div 1000000000`
# (CAST(epoch(ts) AS BIGINT) would ROUND fractional seconds).
ORACLE_SESSIONIZE = """
WITH e AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS ts_sec, value
  FROM events
), lagged AS (
  SELECT *, lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS prev_sec
  FROM e
), numbered AS (
  SELECT *, sum(CASE WHEN prev_sec IS NULL OR ts_sec - prev_sec >= 1800
                     THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
                  ROWS UNBOUNDED PRECEDING) AS session_no
  FROM lagged
)
SELECT user_id,
       min(ts_sec) AS session_start,
       max(ts_sec) AS session_end,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS value_sum
FROM numbered
GROUP BY user_id, session_no
"""


ORACLE_EVENT_WINDOW_AGG = """
SELECT CAST(epoch(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP))) AS BIGINT) AS win_start,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS value_sum
FROM events
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Multimodal binary columns (op 45 generalized)
# --------------------------------------------------------------------------


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload plumbing (reference get_image_url,
    collection_view.py:425-435, generalized): opaque binary column +
    typed metadata; oracle checks byte length and payload digest."""
    from aiotcvectordb_spark.operators import multimodal

    df = load(spark, sf_dir, "documents")
    media = multimodal.with_binary_payload(df, text_col="text")
    return media.select(
        "doc_id",
        "media_type",
        F.length("payload").cast("long").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
    )


ORACLE_MULTIMODAL_META = """
SELECT doc_id,
       'application/octet-stream' AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5  -- DuckDB md5(VARCHAR) hashes the UTF-8
                                 -- bytes == Spark md5(payload)
FROM documents
"""


def q_image_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec end to end, oracle-checked: documents are
    encoded into genuine PNG payloads (stdlib zlib codec, 16-px-wide
    grayscale of the UTF-8 text bytes — operators/multimodal.py
    ``with_png_payload``), then ``probe_media`` parses the ACTUAL PNG
    headers back out of the bytes. Because the encoding is
    deterministic, the probed dimensions are a pure function of the
    text length, so DuckDB can predict them without a codec — hashing
    the real encode→probe round trip against SQL."""
    from aiotcvectordb_spark.operators import multimodal

    media = payload_table(
        spark, sf_dir, "png", 1,
        lambda: multimodal.with_png_payload(
            load(spark, sf_dir, "documents"), text_col="text"
        ),
    )
    return multimodal.probe_media(media).select(
        "doc_id", "format", "width", "height", "bit_depth", "channels"
    )


ORACLE_IMAGE_PROBE = """
SELECT doc_id,
       'png' AS format,
       CAST(16 AS INTEGER) AS width,
       CAST(ceil(greatest(octet_length(encode(text)), 1) / 16.0) AS INTEGER)
         AS height,
       CAST(8 AS INTEGER) AS bit_depth,
       CAST(1 AS INTEGER) AS channels
FROM documents
"""


def q_jpeg_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG codec end to end, oracle-checked: each
    document's UTF-8 bytes become a block-constant grayscale image
    (4 blocks wide, pixel value ``2*(byte%128)``) encoded as a genuine
    Annex-K-table baseline JPEG (numpy FDCT + Huffman,
    ``operators/jpegcodec.encode_jpeg_gray``); a second shuffle-free
    mapInPandas stage DECODES the stream (real Huffman decode, dequant,
    IDCT) and measures dimensions + mean pixel. Block-constant images
    with EVEN level-shift offsets quantize exactly under the standard
    table (DC-only energy, step 16 divides 8·2k), so the decoded pixels
    equal the source values and DuckDB recomputes the features from the
    bytes — hashing the full lossy-codec machinery on its lossless
    subspace."""
    from aiotcvectordb_spark.operators import multimodal as MM

    jp = payload_table(
        spark, sf_dir, "jpeg_base", 1,
        lambda: MM.with_jpeg_payload(
            load_wide(spark, sf_dir, "documents"),
            text_col="text",
        ),
    )
    return MM.jpeg_features(jp).select(
        "doc_id",
        "f_width",
        "f_height",
        F.round("px_mean", ROUND_DIGITS).alias("px_mean"),
    )


def q_jpeg_progressive_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROGRESSIVE JPEG (SOF2) round trip, oracle-checked: the same
    block-constant images as jpeg_probe, but encoded as four-scan
    progressive streams (DC first Al=1, DC refine, AC first, AC refine
    — T.81 Annex G successive approximation) and decoded through the
    progressive scan machinery. Successive approximation is lossless
    across its scans, so the SAME SQL oracle as jpeg_probe hash-checks
    the progressive decoder end to end."""
    from aiotcvectordb_spark.operators import multimodal as MM

    jp = payload_table(
        spark, sf_dir, "jpeg_prog", 1,
        lambda: MM.with_jpeg_payload(
            load_wide(spark, sf_dir, "documents"),
            text_col="text", progressive=True,
        ),
    )
    return MM.jpeg_features(jp).select(
        "doc_id",
        "f_width",
        "f_height",
        F.round("px_mean", ROUND_DIGITS).alias("px_mean"),
    )


# Byte-exact like ORACLE_AUDIO_PROBE: expand code points to UTF-8
# bytes in SQL; empty text falls back to the codec's single
# byte-64 (value-128) block.
ORACLE_JPEG_PROBE = """
WITH ch AS (
  SELECT doc_id, ascii(c) AS cp
  FROM (
    SELECT doc_id, unnest(regexp_split_to_array(text, '')) AS c
    FROM documents WHERE length(text) > 0
  )
),
b AS (
  SELECT doc_id, unnest(
    CASE WHEN cp < 128 THEN [cp]
         WHEN cp < 2048 THEN [192 + cp // 64, 128 + cp % 64]
         WHEN cp < 65536 THEN [224 + cp // 4096, 128 + (cp // 64) % 64,
                               128 + cp % 64]
         ELSE [240 + cp // 262144, 128 + (cp // 4096) % 64,
               128 + (cp // 64) % 64, 128 + cp % 64] END) AS byte
  FROM ch
),
agg AS (
  SELECT doc_id, count(*) AS nb, sum(2 * (byte % 128)) AS s
  FROM b GROUP BY doc_id
),
dims AS (
  SELECT d.doc_id,
         coalesce(agg.nb, 1) AS nb,
         coalesce(agg.s, 128) AS s,
         CAST(ceil(coalesce(agg.nb, 1) / 4.0) AS BIGINT) AS rows_
  FROM documents d LEFT JOIN agg USING (doc_id)
)
SELECT doc_id,
       CAST(32 AS INTEGER) AS f_width,
       CAST(rows_ * 8 AS INTEGER) AS f_height,
       round((64 * s + 8192 * (4 * rows_ - nb)) / (256.0 * rows_), 6)
         AS px_mean
FROM dims
"""
