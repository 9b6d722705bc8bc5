"""Window function operators (SURVEY §2B).

Scale posture: every window here partitions by a high-cardinality key
(custkey/user_id/suppkey) — one shuffle + per-partition sort, state
bounded per key. No global (unpartitioned) windows: a
``Window.orderBy`` without partitionBy funnels 100 TB through a single
task and is banned in this engine outside of final small results.

Determinism: every orderBy carries a unique tiebreaker so rank/lag
results are engine-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from catenae_kafka_spark.catalog import catalog
from catenae_kafka_spark.functions.compat import half_up
from catenae_kafka_spark.registry import REGISTRY


@REGISTRY.register(
    "q_window_rank",
    tags=("window",),
    bench=True,
    oracle="""
SELECT o_orderkey, o_custkey,
       RANK() OVER w AS rnk,
       DENSE_RANK() OVER w AS drnk,
       ROW_NUMBER() OVER w AS rn
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
""",
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / row_number per customer by order value."""
    c = catalog(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return c.orders.select(
        "o_orderkey",
        "o_custkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.row_number().over(w).alias("rn"),
    )


@REGISTRY.register(
    "q_window_lag",
    tags=("window",),
    oracle="""
SELECT event_id, user_id,
       CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s,
       LAG(value) OVER w AS prev_value,
       LEAD(value) OVER w AS next_value,
       CAST(epoch(date_trunc('second', ts)) AS BIGINT)
         - LAG(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) OVER w AS gap_s
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead: previous/next event value and inter-event gap per user.

    ts is emitted/compared as whole epoch seconds (ns-vs-µs parquet
    truncation makes raw ts un-hashable — FIXTURES.md).
    """
    c = catalog(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_s = F.unix_timestamp("ts")
    return c.events.select(
        "event_id",
        "user_id",
        ts_s.alias("ts_s"),
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (ts_s - F.lag(ts_s).over(w)).alias("gap_s"),
    )


@REGISTRY.register(
    "q_window_frame",
    tags=("window",),
    oracle="""
SELECT o_orderkey, o_custkey,
       ROUND(SUM(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
       ROUND(AVG(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS avg3,
       MAX(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS max_so_far
FROM orders
""",
)
def q_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame specs: running sum, 3-row sliding average, running max."""
    c = catalog(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sliding = w.rowsBetween(-2, Window.currentRow)
    return c.orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(running), 2).alias("running_spend"),
        F.round(F.avg("o_totalprice").over(sliding), 4).alias("avg3"),
        F.max("o_totalprice").over(running).alias("max_so_far"),
    )


@REGISTRY.register(
    "q_window_ntile",
    tags=("window",),
    oracle="""
SELECT o_orderkey,
       NTILE(4) OVER w AS quartile,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 6) AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
""",
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist per order status."""
    c = catalog(spark, sf_dir)
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return c.orders.select(
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@REGISTRY.register(
    "q_topk_per_group",
    tags=("window", "topk"),
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (
           PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 2
""",
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 orders per customer (row_number + filter — per-group heap,
    no global sort)."""
    c = catalog(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        c.orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@REGISTRY.register(
    "q_window_firstlast",
    tags=("window",),
    oracle="""
SELECT DISTINCT l_orderkey,
       FIRST_VALUE(l_partkey) OVER w AS first_part,
       LAST_VALUE(l_partkey) OVER (
         PARTITION BY l_orderkey
         ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_part,
       CAST(COUNT(*) OVER w2 AS BIGINT) AS n_lines
FROM lineitem
WINDOW w AS (PARTITION BY l_orderkey
             ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice),
       w2 AS (PARTITION BY l_orderkey)
""",
)
def q_window_firstlast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value (full-partition frame) / count over.

    l_linenumber repeats within an order in this data — the extra order
    keys are tiebreakers for engine-stable first/last.
    """
    c = catalog(spark, sf_dir)
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice"
    )
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wpart = Window.partitionBy("l_orderkey")
    return (
        c.lineitem.select(
            "l_orderkey",
            F.first("l_partkey").over(w).alias("first_part"),
            F.last("l_partkey").over(wfull).alias("last_part"),
            F.count("*").over(wpart).alias("n_lines"),
        ).distinct()
    )


@REGISTRY.register(
    "q_sessionize",
    tags=("window", "sessionize"),
    oracle="""
WITH t AS (
  SELECT user_id, event_id, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 7200
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, event_id, value, ts_s,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
  FROM t
)
SELECT user_id, session_no,
       COUNT(*) AS n_events,
       MIN(ts_s) AS start_s,
       MAX(ts_s) AS end_s,
       ROUND(SUM(value), 4) AS sum_value
FROM s
GROUP BY user_id, session_no
""",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: gap > 2h starts a new session per user
    (lag -> flag -> running sum -> group). The batch twin of the
    streaming session_window query — same shuffle shape (partition by
    user), state bounded per user, no global window."""
    c = catalog(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = Window.partitionBy("user_id").orderBy("ts_s", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    flagged = c.events.select(
        "user_id",
        "event_id",
        "value",
        F.unix_timestamp("ts").alias("ts_s"),
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
                > 7200
            ),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = flagged.withColumn("session_no", F.sum("new_sess").over(wrun))
    return sess.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.min("ts_s").alias("start_s"),
        F.max("ts_s").alias("end_s"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


@REGISTRY.register(
    "q_zscore_outliers",
    tags=("window", "stats"),
    oracle="""
WITH st AS (
  SELECT event_id, event_type, value,
         AVG(value) OVER (PARTITION BY event_type) AS mu,
         STDDEV_SAMP(value) OVER (PARTITION BY event_type) AS sigma
  FROM events
)
SELECT event_id, event_type, value,
       ROUND((value - mu) / sigma, 3) AS z
FROM st
WHERE ABS((value - mu) / sigma) > 2.5
""",
)
def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly detection by z-score within event_type: per-group mean
    and stddev via an unordered window (whole-partition frame — one
    shuffle, no sort), flag |z| > 2.5. At 100 TB the same plan holds:
    group cardinality is tiny, value state per group is two doubles."""
    c = catalog(spark, sf_dir)
    wp = Window.partitionBy("event_type")
    st = c.events.select(
        "event_id",
        "event_type",
        "value",
        F.avg("value").over(wp).alias("mu"),
        F.stddev_samp("value").over(wp).alias("sigma"),
    )
    # try_divide: sigma = 0 (constant group) makes z undefined — the
    # oracle's x/0 -> NULL fails the ABS(z) > 2.5 predicate and drops
    # the row; ANSI / would raise instead (degenerate fuzz fixture)
    z = F.try_divide(F.col("value") - F.col("mu"), F.col("sigma"))
    return (
        st.filter(F.abs(z) > 2.5)
        .select("event_id", "event_type", "value", F.round(z, 3).alias("z"))
    )


@REGISTRY.register(
    "q_window_range",
    tags=("window",),
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_similar,
       CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) OVER w AS BIGINT) AS sum_floor
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice
             RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING)
""",
)
def q_window_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based RANGE frame: for each order, how many orders of the
    same status fall within ±1000 of its price (a sliding value-window,
    not a row-window — frame membership depends on the ORDER BY value,
    so peers with equal prices share identical frames on both engines).
    The frame aggregate is an exact integer sum: double sums inside
    value-frames are summation-order-sensitive at the last decimal."""
    c = catalog(spark, sf_dir)
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy("o_totalprice")
        .rangeBetween(-1000, 1000)
    )
    return c.orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.count("*").over(w).alias("n_similar"),
        F.sum(F.floor("o_totalprice").cast("long")).over(w).alias("sum_floor"),
    )


@REGISTRY.register(
    "q_window_time_range",
    tags=("window", "time"),
    oracle="""
WITH e AS (
  SELECT event_id, user_id, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
  FROM events
)
SELECT event_id, user_id, ts_s,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
       ROUND(SUM(value) OVER w, 4) AS sum_1h
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
""",
)
def q_window_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: per user, rolling 1-hour event count and
    value sum (frame = all events whose timestamp falls within the
    preceding 3600 s). Frame membership is decided by the integer
    epoch-second ORDER BY value, so equal-second peers share identical
    frames on both engines (events.ts is ns in parquet — raw-ts frames
    would diverge between Spark's µs and DuckDB's ns). One shuffle on
    user_id + per-key sort; state is one sliding accumulator per key —
    the same plan at 100 TB."""
    c = catalog(spark, sf_dir)
    ts_s = F.unix_timestamp("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_s")
        .rangeBetween(-3600, Window.currentRow)
    )
    return c.events.select(
        "event_id", "user_id", "value", ts_s.alias("ts_s")
    ).select(
        "event_id",
        "user_id",
        "ts_s",
        F.count("*").over(w).alias("n_1h"),
        F.round(F.sum("value").over(w), 4).alias("sum_1h"),
    )


@REGISTRY.register(
    "q_gaps_islands",
    tags=("window", "time"),
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dn
  FROM events
), grp AS (
  SELECT user_id, dn,
         dn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY dn) AS g
  FROM days
), streaks AS (
  SELECT user_id, g, COUNT(*) AS len FROM grp GROUP BY user_id, g
)
SELECT user_id,
       CAST(MAX(len) AS BIGINT) AS max_streak,
       CAST(COUNT(*) AS BIGINT) AS n_streaks,
       CAST(SUM(len) AS BIGINT) AS n_active_days
FROM streaks GROUP BY user_id
""",
)
def q_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per-user consecutive-day activity streaks via
    the classic day-number-minus-row-number trick (consecutive days
    share `dn - row_number()`). Two shuffles total, both on user_id
    (distinct reuses the window's hash partitioning); streak state per
    key is O(active days), never O(events)."""
    c = catalog(spark, sf_dir)
    days = (
        c.events.select(
            "user_id",
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("dn"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("dn")
    grp = days.select(
        "user_id", "dn", (F.col("dn") - F.row_number().over(w)).alias("g")
    )
    streaks = grp.groupBy("user_id", "g").agg(F.count("*").alias("len"))
    return streaks.groupBy("user_id").agg(
        F.max("len").alias("max_streak"),
        F.count("*").alias("n_streaks"),
        F.sum("len").alias("n_active_days"),
    )


@REGISTRY.register(
    "q_interval_merge",
    tags=("window", "time"),
    oracle="""
WITH iv AS (
  SELECT event_id, user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + 300 AS e
  FROM events
), flagged AS (
  SELECT user_id, event_id, s, e,
         CASE WHEN s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1
              WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              THEN 1
              ELSE 0 END AS new_isl
  FROM iv
), isl AS (
  SELECT user_id, s, e,
         SUM(new_isl) OVER (PARTITION BY user_id ORDER BY s, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl_id
  FROM flagged
), merged AS (
  SELECT user_id, isl_id, MIN(s) AS ms, MAX(e) AS me
  FROM isl GROUP BY user_id, isl_id
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(me - ms) AS BIGINT) AS covered_s
FROM merged GROUP BY user_id
""",
)
def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping intervals (each event claims [ts, ts+300s))
    per user: running-max-of-end over strictly-prior rows marks island
    starts, a running sum labels islands, then two aggregates produce
    merged-interval count and total covered seconds. The (s, event_id)
    tiebreaker makes the row frame engine-stable. All three windows and
    both aggregates share the user_id partitioning — one shuffle."""
    c = catalog(spark, sf_dir)
    ts_s = F.unix_timestamp("ts")
    iv = c.events.select(
        "event_id", "user_id", ts_s.alias("s"), (ts_s + 300).alias("e")
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max = F.max("e").over(w_prev)
    flagged = iv.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1)
        .otherwise(0)
        .alias("new_isl"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    isl = flagged.select(
        "user_id", "s", "e", F.sum("new_isl").over(w_run).alias("isl_id")
    )
    merged = isl.groupBy("user_id", "isl_id").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("user_id").agg(
        F.count("*").alias("n_intervals"),
        F.sum(F.col("me") - F.col("ms")).alias("covered_s"),
    )


@REGISTRY.register(
    "q_forward_fill",
    tags=("window", "time"),
    oracle="""
WITH e AS (
  SELECT event_id, user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         CASE WHEN event_type = 'click' THEN value END AS sparse
  FROM events
)
SELECT event_id, user_id, ts_s,
       ROUND(LAST_VALUE(sparse IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts_s, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS filled
FROM e
""",
)
def q_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series forward fill (LOCF): carry each user's last observed
    'click' value forward across their other events — the standard
    gap-fill before feature extraction on irregular series. One window
    (`last(ignorenulls=True)` over an unbounded-preceding row frame),
    one shuffle on user_id, per-key state is a single value. Rows
    before the first observation stay NULL on both engines."""
    c = catalog(spark, sf_dir)
    e = c.events.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_s"),
        F.when(F.col("event_type") == "click", F.col("value")).alias("sparse"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts_s",
        F.round(F.last("sparse", ignorenulls=True).over(w), 4).alias("filled"),
    )


@REGISTRY.register(
    "q_rolling_median",
    tags=("window", "timeseries"),
    oracle="""
SELECT event_id, user_id,
       ROUND(median(CAST(value AS DOUBLE)) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS rolling_median
FROM events
""",
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median of each user's last 5 readings — the robust
    (outlier-immune) smoother that rolling averages can't provide.
    Spark has no native windowed median, so the frame collects into a
    <=5-element array sorted in-expression and interpolated manually
    (avg of the two middles on even counts — continuous-median
    semantics, matching the oracle's windowed median over doubles).
    The frame is O(1)-bounded so the collect is constant-size per row;
    one shuffle on user_id, everything else map-side JVM expressions."""
    c = catalog(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    arr = F.array_sort(F.collect_list(F.col("value")).over(w))
    n = F.size(arr)
    odd = F.element_at(arr, ((n + 1) / 2).cast("int"))
    even = (
        F.element_at(arr, (n / 2).cast("int"))
        + F.element_at(arr, (n / 2 + 1).cast("int"))
    ) / 2.0
    med = F.when(n % 2 == 1, odd).otherwise(even)
    return c.events.select(
        "event_id", "user_id", F.round(med, 6).alias("rolling_median")
    )


@REGISTRY.register(
    "q_dense_grid",
    tags=("window", "timeseries"),
    oracle="""
WITH bounds AS (
  SELECT date_trunc('day', MIN(ts)) AS lo, date_trunc('day', MAX(ts)) AS hi
  FROM events
), days AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM bounds
), types AS (
  SELECT DISTINCT event_type FROM events
), counts AS (
  SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n
  FROM events GROUP BY date_trunc('day', ts), event_type
)
SELECT STRFTIME(d.day, '%Y-%m-%d') AS day, t.event_type,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n
FROM days d CROSS JOIN types t
LEFT JOIN counts c ON c.day = d.day AND c.event_type = t.event_type
""",
)
def q_dense_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid densification: every (day, event_type) cell of the full
    calendar span, zero-filled — the gap-free shape time-series models
    and charting layers need (a missing day must be an explicit 0, not
    an absent row). The spine is generated from one min/max agg
    (sequence + explode, no source re-scan), the type list is a tiny
    distinct, and their cross join is spine-sized — broadcast against
    the aggregated counts, never against raw events."""
    c = catalog(spark, sf_dir)
    bounds = c.events.agg(
        F.date_trunc("day", F.min("ts")).alias("lo"),
        F.date_trunc("day", F.max("ts")).alias("hi"),
    )
    days = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    types = c.events.select("event_type").distinct()
    counts = c.events.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.count("*").alias("n"))
    grid = days.crossJoin(F.broadcast(types))
    return grid.join(counts, ["day", "event_type"], "left").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "event_type",
        F.coalesce("n", F.lit(0)).cast("long").alias("n"),
    )


@REGISTRY.register(
    "q_time_weighted_avg",
    tags=("window", "timeseries"),
    oracle="""
WITH stepped AS (
  SELECT user_id, value,
         epoch(date_trunc('second', ts)) AS t,
         LEAD(epoch(date_trunc('second', ts))) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS t_next
  FROM events
)
SELECT user_id,
       ROUND(SUM(value * (t_next - t)) / SUM(t_next - t), 6) AS twa,
       CAST(SUM(t_next - t) AS BIGINT) AS span_s
FROM stepped WHERE t_next IS NOT NULL
GROUP BY user_id
HAVING SUM(t_next - t) > 0
""",
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) per user: each reading is held
    until the next one, so its weight is its holding duration — the
    correct average for irregularly-sampled series, where the row
    average over-weights bursts. lead() over one user_id shuffle turns
    each row into a (value, duration) step; the integral is then a
    plain grouped agg reusing the same partitioning."""
    c = catalog(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = c.events.select(
        "user_id",
        "value",
        F.unix_timestamp("ts").alias("t"),
        F.lead(F.unix_timestamp("ts")).over(w).alias("t_next"),
    ).filter(F.col("t_next").isNotNull())
    dt = F.col("t_next") - F.col("t")
    return (
        stepped.groupBy("user_id")
        .agg(
            F.round(F.sum(F.col("value") * dt) / F.sum(dt), 6).alias("twa"),
            F.sum(dt).cast("long").alias("span_s"),
        )
        .filter(F.col("span_s") > 0)
    )


@REGISTRY.register(
    "q_feature_binning",
    tags=("window", "feature"),
    oracle="""
WITH q AS (
  SELECT quantile_cont(o_totalprice, 0.25) AS q1,
         quantile_cont(o_totalprice, 0.50) AS q2,
         quantile_cont(o_totalprice, 0.75) AS q3
  FROM orders
)
SELECT o_orderkey,
       CASE WHEN o_totalprice < q1 THEN 0
            WHEN o_totalprice < q2 THEN 1
            WHEN o_totalprice < q3 THEN 2
            ELSE 3 END AS price_bucket,
       CAST(COUNT(*) OVER (PARTITION BY (
         CASE WHEN o_totalprice < q1 THEN 0
              WHEN o_totalprice < q2 THEN 1
              WHEN o_totalprice < q3 THEN 2
              ELSE 3 END)) AS BIGINT) AS bucket_size
FROM orders CROSS JOIN q
""",
)
def q_feature_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile feature binning (the discretizer step of a feature
    pipeline): global quartile boundaries from ONE exact-percentile
    aggregate, broadcast back as a one-row cross join, bucket assignment
    pure map-side CASE. At 100 TB swap the exact percentile for
    percentile_approx (mergeable sketch) — the plan shape (one tiny
    broadcast, zero extra shuffles for assignment) is unchanged. The
    per-bucket size window rides a 4-value hash partitioning."""
    c = catalog(spark, sf_dir)
    q = c.orders.agg(
        F.percentile("o_totalprice", F.lit(0.25)).alias("q1"),
        F.percentile("o_totalprice", F.lit(0.50)).alias("q2"),
        F.percentile("o_totalprice", F.lit(0.75)).alias("q3"),
    )
    bucket = (
        F.when(F.col("o_totalprice") < F.col("q1"), 0)
        .when(F.col("o_totalprice") < F.col("q2"), 1)
        .when(F.col("o_totalprice") < F.col("q3"), 2)
        .otherwise(3)
    )
    binned = c.orders.crossJoin(F.broadcast(q)).select(
        "o_orderkey", bucket.alias("price_bucket")
    )
    wb = Window.partitionBy("price_bucket")
    return binned.select(
        "o_orderkey",
        "price_bucket",
        F.count("*").over(wb).cast("long").alias("bucket_size"),
    )


@REGISTRY.register(
    "q_anomaly_mad",
    tags=("window", "anomaly"),
    oracle="""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_id, e.event_type, e.value, m.med,
         abs(e.value - m.med) AS adev
  FROM events e JOIN med m ON e.event_type = m.event_type
), mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_id, d.event_type, d.value,
       ROUND((d.value - d.med) / (1.4826 * m.mad), 3) AS robust_z
FROM dev d JOIN mad m ON d.event_type = m.event_type
WHERE abs((d.value - d.med) / (1.4826 * m.mad)) > 3
""",
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection by median absolute deviation — the MAD
    robust-z (1.4826·MAD ≈ σ under normality) that q_zscore_outliers'
    mean/stddev version lacks: a few extreme points inflate stddev and
    mask real anomalies; medians don't move. Two grouped exact-median
    passes (group cardinality is tiny; sub in percentile_approx at
    100 TB), medians broadcast back both times — the event stream
    itself never shuffles."""
    c = catalog(spark, sf_dir)
    med = c.events.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = c.events.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    # try_divide: MAD = 0 whenever more than half a type's values equal
    # its median (coarse grids do this), leaving the robust-z undefined
    # — DuckDB's x/0 yields NULL and WHERE NULL>3 drops the row; ANSI
    # Spark's / would raise (found by the adversarial fuzz fixture)
    rz = F.try_divide(F.col("value") - F.col("med"), 1.4826 * F.col("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.abs(rz) > 3)
        .select(
            "event_id", "event_type", "value", F.round(rz, 3).alias("robust_z")
        )
    )


@REGISTRY.register(
    "q_session_bounce",
    tags=("window", "sessionize"),
    oracle="""
WITH t AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 7200
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts_s,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
  FROM t
), sess AS (
  SELECT user_id, session_no,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         MAX(ts_s) - MIN(ts_s) AS dur_s,
         CAST(TIMESTAMP '1970-01-01 00:00:00' + to_seconds(MIN(ts_s)) AS DATE) AS day
  FROM s GROUP BY user_id, session_no
)
SELECT STRFTIME(day, '%Y-%m-%d') AS day,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
       quantile_cont(dur_s, 0.5) AS p50_dur_s
FROM sess GROUP BY day
""",
)
def q_session_bounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce-rate rollup over gap-sessionized activity: sessions are
    2-hour-gap runs (q_sessionize's exact construction — shared lag +
    running-sum recipe so the two operators cannot drift), a bounce is
    a single-event session, grouped by the session's start day with
    the median session duration.

    Same single user-keyed shuffle as q_sessionize; the day rollup is
    a small second aggregation. Durations are BIGINT seconds; the
    median's R-7 midpoint is x.0/x.5, exactly representable, so the
    double compares bit-identically."""
    c = catalog(spark, sf_dir)
    wl = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_s = F.floor(F.unix_micros("ts") / 1_000_000).cast("bigint")
    t = c.events.select(
        "user_id",
        "event_id",
        ts_s.alias("ts_s"),
        F.when(
            F.lag("ts").over(wl).isNull()
            | (ts_s - F.lag(ts_s).over(wl) > 7200),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("ts_s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = t.select(
        "user_id", "ts_s", F.sum("new_sess").over(wr).alias("session_no")
    )
    sess = s.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        (F.max("ts_s") - F.min("ts_s")).alias("dur_s"),
        F.timestamp_seconds(F.min("ts_s")).cast("date").alias("day"),
    )
    return sess.groupBy("day").agg(
        F.count("*").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bounce"),
        F.percentile("dur_s", F.lit(0.5)).alias("p50_dur_s"),
    ).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_sessions",
        "n_bounce",
        "p50_dur_s",
    )


@REGISTRY.register(
    "q_window_cume_dist",
    tags=("window",),
    oracle="""
WITH t AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
), w AS (
  SELECT o_orderkey, o_orderpriority, cents,
         CAST(FLOOR(PERCENT_RANK() OVER
           (PARTITION BY o_orderpriority ORDER BY cents) * 1000000) AS BIGINT)
           AS pr_micro,
         CAST(FLOOR(CUME_DIST() OVER
           (PARTITION BY o_orderpriority ORDER BY cents) * 1000000) AS BIGINT)
           AS cd_micro
  FROM t
)
SELECT * FROM w WHERE o_orderkey % 97 = 0
""",
)
def q_window_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window surface: PERCENT_RANK and CUME_DIST of
    each order's total (cents) within its priority class, emitted for a
    deterministic 1/97 key slice so the checked result stays small while
    the window still runs over the full partition.

    Exactness: percent_rank = (rank-1)/(n-1) and cume_dist = peers<=x/n
    are single IEEE divisions of identical integers on both engines, and
    the 1e6-floor is applied to those identical doubles — ties depend
    only on the cents sort key, so peer groups agree too. One shuffle on
    the priority key (5 partitions; at 100 TB the same query would salt
    or sub-bucket the 5-value partition key — documented tradeoff,
    rank-within-small-domain is inherently a wide partition)."""
    c = catalog(spark, sf_dir)
    wp = Window.partitionBy("o_orderpriority").orderBy("cents")
    t = c.orders.select(
        "o_orderkey",
        "o_orderpriority",
        half_up("o_totalprice", 100).alias("cents"),
    )
    return t.select(
        "o_orderkey",
        "o_orderpriority",
        "cents",
        F.floor(F.percent_rank().over(wp) * 1000000)
        .cast("bigint")
        .alias("pr_micro"),
        F.floor(F.cume_dist().over(wp) * 1000000)
        .cast("bigint")
        .alias("cd_micro"),
    ).filter(F.col("o_orderkey") % 97 == 0)


@REGISTRY.register(
    "q_window_ignore_nulls",
    tags=("window",),
    oracle="""
WITH t AS (
  SELECT user_id, event_id,
         CASE WHEN event_type = 'purchase'
              THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END AS pur_cents
  FROM events
), w AS (
  SELECT user_id, event_id, pur_cents,
         lag(pur_cents IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY event_id) AS prev_pur_cents,
         nth_value(pur_cents, 2 IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS second_pur_cents
  FROM t
)
SELECT user_id, event_id, pur_cents, prev_pur_cents, second_pur_cents
FROM w WHERE event_id % 23 = 0
""",
)
def q_window_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window surface: for every event, the previous
    purchase amount (lag over a sparse column, skipping non-purchase
    rows) and the user's second-ever purchase amount so far
    (nth_value(..., 2) ignoring nulls, running frame) — the standard
    way to carry sparse attributes along a dense event sequence
    without a self-join. Emitted for a 1/23 event slice; the windows
    still run over full partitions.

    Exact: cents BIGINTs or NULL; both engines implement the same
    SQL-standard IGNORE NULLS semantics over the same (user, event_id)
    total order. One user-keyed shuffle."""
    c = catalog(spark, sf_dir)
    wl = Window.partitionBy("user_id").orderBy("event_id")
    wr = wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t = c.events.select(
        "user_id",
        "event_id",
        F.when(
            F.col("event_type") == "purchase",
            half_up("value", 100),
        ).alias("pur_cents"),
    )
    return t.select(
        "user_id",
        "event_id",
        "pur_cents",
        F.expr(
            "lag(pur_cents) IGNORE NULLS OVER "
            "(PARTITION BY user_id ORDER BY event_id)"
        ).alias("prev_pur_cents"),
        F.nth_value("pur_cents", 2, ignoreNulls=True)
        .over(wr)
        .alias("second_pur_cents"),
    ).filter(F.col("event_id") % 23 == 0)


@REGISTRY.register(
    "q_sessionize_capped",
    tags=("window", "sessionize"),
    oracle="""
WITH s AS (
  SELECT user_id, event_id,
         epoch_us(ts) // 1000000 AS ts_s,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch_us(ts) // 1000000
                      - epoch_us(LAG(ts) OVER w) // 1000000 > 7200
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), g AS (
  SELECT user_id, event_id, ts_s,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS gap_sess
  FROM s
), capped AS (
  SELECT user_id, event_id, ts_s, gap_sess,
         (ts_s - MIN(ts_s) OVER (PARTITION BY user_id, gap_sess)) // 86400
           AS sub_sess
  FROM g
)
SELECT user_id, gap_sess, CAST(sub_sess AS BIGINT) AS sub_sess,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(ts_s) - MIN(ts_s) AS BIGINT) AS dur_s
FROM capped GROUP BY user_id, gap_sess, sub_sess
""",
)
def q_sessionize_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with BOTH boundary rules real trackers use: a
    2-hour inactivity gap starts a new session AND a 24-hour maximum
    duration splits marathon sessions (bots, left-open tabs) into
    sub-sessions — the capped variant q_sessionize deliberately omits.
    The cap is declarative: sub-session = floor((t - gap-session
    start) / 24h), no iteration (each sub-session's duration is then
    <= 24h by construction).

    Exact BIGINT second arithmetic; same single user-keyed shuffle as
    q_sessionize (the cap adds one more window over the already
    partitioned data, no extra shuffle)."""
    c = catalog(spark, sf_dir)
    wl = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_s = F.expr("unix_micros(ts) div 1000000")
    s = c.events.select(
        "user_id",
        "event_id",
        ts_s.alias("ts_s"),
        F.when(
            F.lag("ts").over(wl).isNull()
            | (ts_s - F.expr("unix_micros(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) div 1000000") > 7200),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("ts_s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = s.select(
        "user_id",
        "event_id",
        "ts_s",
        F.sum("new_sess").over(wr).alias("gap_sess"),
    )
    capped = g.select(
        "user_id",
        "gap_sess",
        "ts_s",
        F.expr(
            "(ts_s - min(ts_s) OVER (PARTITION BY user_id, gap_sess)) div 86400"
        ).alias("sub_sess"),
    )
    return capped.groupBy("user_id", "gap_sess", "sub_sess").agg(
        F.count("*").cast("bigint").alias("n_events"),
        (F.max("ts_s") - F.min("ts_s")).cast("bigint").alias("dur_s"),
    )


@REGISTRY.register(
    "q_session_window_batch",
    tags=("window", "events", "sessionization"),
    oracle="""
WITH t AS (
  SELECT user_id, ts, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         CASE WHEN epoch(ts)
                   - LAG(epoch(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id)
                   > 7200
                OR LAG(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), s AS (
  SELECT user_id, ts_s,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_no
  FROM t
)
SELECT user_id,
       CAST(MIN(ts_s) AS BIGINT) AS sess_start_s,
       CAST(MAX(ts_s) + 7200 AS BIGINT) AS sess_end_s,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sess_no
""",
)
def q_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization through the BUILT-IN ``session_window``
    grouping expression (the same operator the streaming path uses in
    q_stream_session) rather than the hand-rolled gaps-and-islands of
    q_sessionize — proving the two formulations agree event-for-event.
    Boundary semantics, pinned by synthetic probe (the fixture's
    microsecond timestamps never land exactly on the gap, so parity
    alone cannot distinguish): a gap of EXACTLY the timeout MERGES —
    two events 7200 s apart form one session (sessions touching at
    the boundary union), matching q_sessionize's strict ``> 7200``
    island flag; and the emitted window end is last_event + gap, not
    last_event.

    Scale shape: one user-keyed shuffle into the session-window
    aggregation — identical to the streaming plan minus the state
    store; no windows over the raw event table afterward."""
    c = catalog(spark, sf_dir)
    return (
        c.events.groupBy(
            "user_id", F.session_window("ts", "2 hours").alias("w")
        )
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("w.start").alias("sess_start_s"),
            F.unix_timestamp("w.end").alias("sess_end_s"),
            "n_events",
        )
    )


@REGISTRY.register(
    "q_time_window_batch",
    tags=("window", "events", "timeseries"),
    oracle="""
SELECT event_type,
       CAST((CAST(floor(epoch(ts)) AS BIGINT) // 21600) * 21600 AS BIGINT)
         AS win_start_s,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM events
GROUP BY event_type, win_start_s
""",
)
def q_time_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TUMBLING event-time windows in BATCH through the built-in
    ``window()`` grouping expression — the same operator the streaming
    tumbling query uses, proving the batch/stream twin computes
    identical buckets (the oracle is plain epoch-floor arithmetic:
    window start = (epoch div 21600) * 21600 for 6-hour windows
    aligned to the epoch).

    Scale shape: window() is just a computed grouping column — one
    map-side-combinable aggregate, no shuffle beyond the groupBy, and
    the bucket count is calendar-bounded."""
    c = catalog(spark, sf_dir)
    return (
        c.events.groupBy(
            "event_type", F.window("ts", "6 hours").alias("w")
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(half_up("value", 100))
            .cast("bigint")
            .alias("sum_cents"),
        )
        .select(
            "event_type",
            F.unix_timestamp("w.start").alias("win_start_s"),
            "n",
            "sum_cents",
        )
    )


@REGISTRY.register(
    "q_hopping_window_batch",
    tags=("window", "events", "timeseries"),
    oracle="""
WITH shifted AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         unnest([0, 1]) AS k
  FROM events
)
SELECT event_type,
       CAST(((ts_s - k * 10800) // 21600) * 21600 + k * 10800 AS BIGINT)
         AS win_start_s,
       CAST(COUNT(*) AS BIGINT) AS n
FROM shifted
GROUP BY event_type, win_start_s
""",
)
def q_hopping_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOPPING (sliding) event-time windows in batch: 6-hour windows
    every 3 hours via ``window(ts, '6 hours', '3 hours')`` — each
    event lands in exactly windowSize/slide = 2 windows. The oracle
    derives the same assignment from first principles: for hop k in
    {0, 1}, the start is floor((t - k*slide) / size) * size + k*slide
    — i.e. a hopping window is a union of slide-shifted tumbling
    grids, which is also exactly how the operator behaves at scale
    (input amplification factor = size/slide on the shuffle).

    Scale note: keep size/slide small — a 24h/1h hop writes every
    event 24x into the aggregate. For high-ratio hops, aggregate to
    the slide-grain tumbling grid first and roll the 2..k grains up
    from that (the q_rollup_time_hierarchy composition)."""
    c = catalog(spark, sf_dir)
    return (
        c.events.groupBy(
            "event_type",
            F.window("ts", "6 hours", "3 hours").alias("w"),
        )
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(
            "event_type",
            F.unix_timestamp("w.start").alias("win_start_s"),
            "n",
        )
    )
