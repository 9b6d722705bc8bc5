"""Aggregation operators (SURVEY §2B).

Catenae analog: none native — users accumulated dicts inside ``Link``
state and flushed on timers. Here every aggregate is Spark's two-phase
hash aggregation (partial map-side combine → shuffle by group key →
final), with AQE coalescing post-shuffle partitions.

Oracle-parity rules applied throughout (see functions/compat.py):
money sums rounded at native decimal precision; DuckDB ``SUM(int)``
cast to BIGINT; averages/stats rounded where float noise is possible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from catenae_kafka_spark.catalog import catalog
from catenae_kafka_spark.functions.compat import half_up
from catenae_kafka_spark.registry import REGISTRY

#: Driver-side collect cap for q_median_two_phase's coarse histogram:
#: its size is groups x OCCUPIED buckets — domain-bounded, not
#: data-bounded, but the bucket domain scales with the VALUE RANGE, so
#: a fixture/schema drift to wide-range values must fail loudly here
#: instead of OOMing the driver (the q_stream_batch_invariance
#: discipline, VERDICT r8 #4).
_HISTOGRAM_COLLECT_CAP = 100_000


def _bounded_collect(df: DataFrame, cap: int, what: str) -> list:
    """Collect ``df``, refusing loudly past ``cap`` rows.

    ONE job: collecting LIMIT cap+1 bounds driver memory to cap+1 rows
    and proves the cap in the same pass (a count() pre-check would run
    the whole aggregation twice)."""
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        raise RuntimeError(
            f"{what} has more than {cap} rows (domain-bound cap); "
            "refusing to collect a data-sized result to the driver"
        )
    return rows


@REGISTRY.register(
    "q_agg_global",
    tags=("agg",),
    oracle="""
SELECT COUNT(*) AS n_rows,
       COUNT(l_orderkey) AS n_keys,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_price,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       MIN(l_quantity) AS min_qty,
       MAX(l_quantity) AS max_qty
FROM lineitem
""",
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped aggregates over the fact table."""
    c = catalog(spark, sf_dir)
    return c.lineitem.agg(
        F.count("*").alias("n_rows"),
        F.count("l_orderkey").alias("n_keys"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


@REGISTRY.register(
    "q_agg_groupby",
    tags=("agg",),
    bench=True,
    oracle="""
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 6) AS sum_charge,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(AVG(l_extendedprice), 6) AS avg_price,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: grouped multi-aggregate (2-phase hash agg).

    Rounding scales follow native decimal precision: qty/price 2dp data,
    disc_price 2dp×2dp→4dp, charge 2dp×2dp×2dp→6dp.
    """
    c = catalog(spark, sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        c.lineitem.filter(F.col("l_shipdate") <= "2001-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(charge), 6).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@REGISTRY.register(
    "q_agg_distinct",
    tags=("agg",),
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       ROUND(SUM(DISTINCT l_quantity), 2) AS sum_dist_qty
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(distinct) / sum(distinct) (expand + two-phase agg)."""
    c = catalog(spark, sf_dir)
    return c.lineitem.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.round(F.sum_distinct(F.col("l_quantity")), 2).alias("sum_dist_qty"),
    )


@REGISTRY.register(
    "q_agg_approx",
    tags=("agg", "approx"),
    oracle=None,  # approximate by design → driver's rows-only check;
    # tests assert tolerance vs exact counts instead.
)
def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approx count-distinct (HyperLogLog++): the 100 TB path for
    cardinality estimation — fixed-size sketch, no shuffle explosion."""
    c = catalog(spark, sf_dir)
    return c.lineitem.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )


@REGISTRY.register(
    "q_agg_stats",
    tags=("agg",),
    oracle="""
SELECT l_returnflag,
       ROUND(STDDEV_SAMP(l_quantity), 6) AS sd_qty,
       ROUND(VAR_SAMP(l_quantity), 6) AS var_qty,
       ROUND(STDDEV_POP(l_quantity), 6) AS sdp_qty,
       ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qe,
       ROUND(MEDIAN(l_quantity), 2) AS med_qty,
       ROUND(COVAR_SAMP(l_quantity, l_discount), 6) AS cov_qd
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/variance/corr/median/covar."""
    c = catalog(spark, sf_dir)
    return c.lineitem.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.stddev_pop("l_quantity"), 6).alias("sdp_qty"),
        # corr recomposed as try_divide(covar, sx*sy): ANSI F.corr
        # raises DIVIDE_BY_ZERO on a zero-variance group where DuckDB
        # CORR yields NULL (degenerate fuzz fixture)
        F.round(
            F.try_divide(
                F.covar_samp("l_quantity", "l_extendedprice"),
                F.stddev_samp("l_quantity")
                * F.stddev_samp("l_extendedprice"),
            ),
            6,
        ).alias("corr_qe"),
        F.round(F.median("l_quantity"), 2).alias("med_qty"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("cov_qd"),
    )


@REGISTRY.register(
    "q_agg_having",
    tags=("agg",),
    oracle="""
SELECT o_custkey,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_spent
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) > 12
""",
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    c = catalog(spark, sf_dir)
    return (
        c.orders.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
        )
        .filter(F.col("n_orders") > 12)
    )


@REGISTRY.register(
    "q_grouping_sets",
    tags=("agg",),
    oracle="""
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
HAVING COUNT(*) > 0
""",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS (Expand + single-pass agg, not N scans)."""
    c = catalog(spark, sf_dir)
    c.lineitem.createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        HAVING COUNT(*) > 0
        """
    )


@REGISTRY.register(
    "q_rollup",
    tags=("agg",),
    oracle="""
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_extendedprice), 2) AS sum_price,
       COUNT(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
HAVING COUNT(*) > 0
""",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals."""
    c = catalog(spark, sf_dir)
    return c.lineitem.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.count("*").alias("n"),
    )


@REGISTRY.register(
    "q_cube",
    tags=("agg",),
    oracle="""
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_extendedprice), 2) AS sum_price,
       COUNT(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
HAVING COUNT(*) > 0
""",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions."""
    c = catalog(spark, sf_dir)
    return c.lineitem.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.count("*").alias("n"),
    )


@REGISTRY.register(
    "q_pivot",
    tags=("agg",),
    oracle="""
SELECT user_id % 10 AS user_bucket,
       ROUND(SUM(value) FILTER (event_type = 'click'), 4) AS evt_click,
       ROUND(SUM(value) FILTER (event_type = 'view'), 4) AS evt_view,
       ROUND(SUM(value) FILTER (event_type = 'signup'), 4) AS evt_signup,
       ROUND(SUM(value) FILTER (event_type = 'purchase'), 4) AS evt_purchase,
       ROUND(SUM(value) FILTER (event_type = 'error'), 4) AS evt_error
FROM events
GROUP BY user_id % 10
""",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type → columns (explicit value list avoids the extra
    distinct-scan Spark needs to discover pivot values at 100 TB)."""
    c = catalog(spark, sf_dir)
    kinds = ["click", "view", "signup", "purchase", "error"]
    piv = (
        c.events.withColumn("user_bucket", F.col("user_id") % 10)
        .groupBy("user_bucket")
        .pivot("event_type", kinds)
        .agg(F.round(F.sum("value"), 4))
    )
    # prefix pivot columns: "view"/"error" would collide with SQL keywords
    # in the oracle, and prefixed names keep both sides aligned.
    return piv.select(
        "user_bucket", *[F.col(k).alias(f"evt_{k}") for k in kinds]
    )


@REGISTRY.register(
    "q_collect_agg",
    tags=("agg",),
    oracle="""
SELECT o_orderstatus,
       ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT o_orderpriority)), ',') AS prios,
       COUNT(DISTINCT o_orderpriority) AS n_prios
FROM orders
GROUP BY o_orderstatus
""",
)
def q_collect_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collect-to-set per group, emitted as a sorted joined string so the
    value hash is engine-stable (array stringification differs)."""
    c = catalog(spark, sf_dir)
    return c.orders.groupBy("o_orderstatus").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderpriority")), ",").alias(
            "prios"
        ),
        F.countDistinct("o_orderpriority").alias("n_prios"),
    )


@REGISTRY.register(
    "q_agg_quantiles",
    tags=("agg",),
    oracle="""
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
       ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.90), 4) AS p90
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_agg_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles (Spark percentile == DuckDB
    quantile_cont). The approximate path for 100 TB is
    q_agg_approx_quantiles (t-digest-style sketch, weak-checked)."""
    c = catalog(spark, sf_dir)
    return c.lineitem.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", 0.25), 4).alias("p25"),
        F.round(F.percentile("l_extendedprice", 0.50), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", 0.90), 4).alias("p90"),
    )


@REGISTRY.register(
    "q_agg_approx_quantiles",
    tags=("agg", "approx"),
    oracle=None,  # approximate by design; tolerance vs exact quantiles
    # asserted in tests/test_llm_ops.py
)
def q_agg_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile: the fixed-size-sketch quantile path for scale
    (exact percentile needs the full sorted group in memory)."""
    c = catalog(spark, sf_dir)
    return c.lineitem.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_p50"),
        F.round(F.percentile("l_extendedprice", 0.5), 4).alias("exact_p50"),
    )


@REGISTRY.register(
    "q_agg_histogram",
    tags=("agg", "histogram"),
    oracle="""
SELECT CAST(floor(o_totalprice / 50000) AS INTEGER) AS bucket,
       COUNT(*) AS n,
       ROUND(AVG(o_totalprice), 2) AS avg_price,
       ROUND(MIN(o_totalprice), 2) AS min_price,
       ROUND(MAX(o_totalprice), 2) AS max_price
FROM orders
GROUP BY CAST(floor(o_totalprice / 50000) AS INTEGER)
""",
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via floor-division bucketing (portable
    across engines, unlike width_bucket edge conventions). One 2-phase
    hash agg; bucket cardinality is bounded by the value range, not the
    row count, so the reduce side stays tiny at any scale."""
    c = catalog(spark, sf_dir)
    bucket = F.floor(F.col("o_totalprice") / 50000).cast("int")
    return c.orders.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


@REGISTRY.register(
    "q_agg_bool",
    tags=("agg",),
    oracle="""
SELECT o_orderstatus,
       bool_and(o_totalprice > 1000) AS all_over_1k,
       bool_or(o_totalprice > 400000) AS any_over_400k,
       CAST(count_if(o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent
FROM orders
GROUP BY o_orderstatus
""",
)
def q_agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates: universal/existential predicates per group
    (bool_and/bool_or) + conditional counting — all fold map-side like
    any other partial aggregate."""
    c = catalog(spark, sf_dir)
    return c.orders.groupBy("o_orderstatus").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
        F.count_if(F.col("o_orderpriority") == "1-URGENT").alias("n_urgent"),
    )


@REGISTRY.register(
    "q_agg_mode",
    tags=("agg",),
    oracle="""
WITH counts AS (
  SELECT user_id, event_type, COUNT(*) AS cnt
  FROM events GROUP BY user_id, event_type
), ranked AS (
  SELECT user_id, event_type, cnt,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY cnt DESC, event_type ASC) AS rn
  FROM counts
)
SELECT user_id, event_type AS mode_type, cnt AS n
FROM ranked WHERE rn = 1
""",
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode (most frequent event_type per user,
    ties broken lexicographically): count-then-top1-window. The built-in
    ``mode()`` aggregate is tie-NONDETERMINISTIC in both engines, so the
    explicit form is the one that can be value-hash-checked — and it is
    the same two-shuffle shape (count agg, then a 1-row-per-group window
    Spark executes as WindowGroupLimit, a per-partition heap)."""
    from pyspark.sql import Window

    c = catalog(spark, sf_dir)
    counts = c.events.groupBy("user_id", "event_type").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("cnt").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", F.col("event_type").alias("mode_type"), F.col("cnt").alias("n")
        )
    )


@REGISTRY.register(
    "q_agg_percentile",
    tags=("agg",),
    oracle="""
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
       ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT interpolated percentiles per group (p50/p90/p99 — the SLA /
    outlier-analysis staple). Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` share linear-interpolation semantics, so values
    hash-match at 4dp. Exact percentile sorts within each group; at
    100 TB prefer ``percentile_approx`` (fixed-size mergeable sketch,
    see q_agg_approx_quantiles) unless exactness is contractual."""
    c = catalog(spark, sf_dir)
    return c.lineitem.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("l_extendedprice", F.lit(0.99)), 4).alias("p99"),
    )


@REGISTRY.register(
    "q_agg_regression",
    tags=("agg", "stats"),
    oracle="""
SELECT l_returnflag,
       ROUND(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
       ROUND(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
       ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates (price ~ quantity per returnflag):
    regr_slope/intercept/r2/count — single-pass moment accumulation,
    mergeable partials, exactly the same formulation both engines use
    (rounded at 6dp against float accumulation order)."""
    c = catalog(spark, sf_dir)
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    return c.lineitem.groupBy("l_returnflag").agg(
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.regr_count(y, x).cast("bigint").alias("n_pairs"),
    )


@REGISTRY.register(
    "q_agg_string",
    tags=("agg", "string"),
    oracle="""
SELECT n_regionkey,
       string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation
GROUP BY n_regionkey
""",
)
def q_agg_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (SQL:2023 LISTAGG ... WITHIN GROUP):
    deterministic because the order clause pins element order —
    unordered listagg/string_agg is shuffle-order-dependent and
    unhashable across engines."""
    c = catalog(spark, sf_dir)
    c.nation.createOrReplaceTempView("nation")
    return spark.sql("""
      SELECT n_regionkey,
             listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations
      FROM nation
      GROUP BY n_regionkey
    """)



@REGISTRY.register(
    "q_rollup_time_hierarchy",
    tags=("agg", "rollup"),
    oracle="""
WITH m AS (
  SELECT date_trunc('minute', ts) AS b, COUNT(*) AS n, SUM(value) AS sv
  FROM events GROUP BY 1
), h AS (
  SELECT date_trunc('hour', b) AS b, CAST(SUM(n) AS BIGINT) AS n, SUM(sv) AS sv
  FROM m GROUP BY 1
), d AS (
  SELECT date_trunc('day', b) AS b, CAST(SUM(n) AS BIGINT) AS n, SUM(sv) AS sv
  FROM h GROUP BY 1
)
SELECT 'minute' AS grain, STRFTIME(b, '%Y-%m-%d %H:%M:%S') AS bucket_start,
       CAST(n AS BIGINT) AS n, ROUND(sv, 4) AS total_value FROM m
UNION ALL
SELECT 'hour', STRFTIME(b, '%Y-%m-%d %H:%M:%S'), n, ROUND(sv, 4) FROM h
UNION ALL
SELECT 'day', STRFTIME(b, '%Y-%m-%d %H:%M:%S'), n, ROUND(sv, 4) FROM d
""",
)
def q_rollup_time_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time rollup (the time-series-store materialized
    continuous-aggregate pattern): aggregate the raw events ONCE at
    minute grain, then derive hour from the minute AGGREGATE and day
    from the hour aggregate — coarser grains never rescan raw data.

    At 100 TB the raw scan happens once; each rollup input is bounded
    by the finer grain's bucket count (1440/day -> 24/day -> 1/day),
    so the hour/day stages are effectively free. Sums roll up exactly
    (count and sum are decomposable); rounding is applied only in the
    final projection so the hierarchy carries full precision."""
    fmt = "yyyy-MM-dd HH:mm:ss"
    c = catalog(spark, sf_dir)
    minute = c.events.groupBy(
        F.date_trunc("minute", "ts").alias("b")
    ).agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
    hour = minute.groupBy(F.date_trunc("hour", "b").alias("b")).agg(
        F.sum("n").alias("n"), F.sum("sv").alias("sv")
    )
    day = hour.groupBy(F.date_trunc("day", "b").alias("b")).agg(
        F.sum("n").alias("n"), F.sum("sv").alias("sv")
    )

    def shape(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            F.date_format("b", fmt).alias("bucket_start"),
            F.col("n").cast("long").alias("n"),
            F.round("sv", 4).alias("total_value"),
        )

    return (
        shape(minute, "minute")
        .unionByName(shape(hour, "hour"))
        .unionByName(shape(day, "day"))
    )


@REGISTRY.register(
    "q_agg_bitmap_distinct",
    tags=("agg", "bitmap"),
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
""",
)
def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregation — the scale path
    between plain count(distinct) (expand + full shuffle of every
    distinct value) and approx_count_distinct (inexact). Each user_id
    maps to (bucket = id >> 15, bit = id & 32767); a partial
    bitmap_construct_agg per (key, bucket) turns billions of raw ids
    into <=4KB bitmaps BEFORE the shuffle, bitmap_or_agg merges
    partials, and bitmap_count reads the exact cardinality. Shuffle
    volume is bounded by key x bucket count, not by row count, and the
    bitmaps are mergeable across days/partitions (incremental rollup).
    Result is exactly count(distinct) — the oracle IS count(distinct)."""
    c = catalog(spark, sf_dir)
    per_bucket = (
        c.events.select(
            "event_type",
            F.bitmap_bucket_number(F.col("user_id")).alias("bucket"),
            F.bitmap_bit_position(F.col("user_id")).alias("pos"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.bitmap_construct_agg(F.col("pos")).alias("bm"))
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum(F.bitmap_count(F.col("bm"))).cast("long").alias("n_users")
    )


@REGISTRY.register(
    "q_grouping_id",
    tags=("agg", "rollup"),
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
HAVING COUNT(*) > 0
""",
)
def q_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouping()/grouping_id() over ROLLUP: the robust way to tell a
    subtotal row from a data row whose key is genuinely NULL — cube/
    rollup consumers at scale must branch on the grouping bitmask, not
    on key nullness. Single Expand + one aggregation pass, same as the
    plain rollup."""
    c = catalog(spark, sf_dir)
    return (
        c.lineitem.rollup("l_returnflag", "l_linestatus").agg(
            F.grouping_id().cast("long").alias("gid"),
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
            F.count("*").alias("n"),
        )
    )


@REGISTRY.register(
    "q_decimal_money",
    tags=("agg", "types"),
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS total_dec,
       CAST(CAST(AVG(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,6))
            AS VARCHAR) AS avg_dec
FROM orders GROUP BY o_orderpriority
""",
)
def q_decimal_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DecimalType money aggregation contract — the schema-discipline
    upgrade over the reference's pickle floats (SURVEY §1.2): cast
    once to DECIMAL(18,2) at the boundary, then SUM/AVG are EXACT
    base-10 arithmetic with no float summation order anywhere — the
    native way to make money aggregates reproducible, complementing
    the cents-BIGINT discipline used elsewhere. Results are emitted as
    canonical decimal STRINGS so the comparison is representation-
    exact across engines (Spark sum(DECIMAL(18,2)) widens to (28,2),
    avg to (22,6); both are re-cast to the oracle's declared types)."""
    c = catalog(spark, sf_dir)
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        c.orders.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec).cast("decimal(18,2)").alias("_sum"),
            F.avg(dec).cast("decimal(18,6)").alias("_avg"),
        )
        .select(
            "o_orderpriority",
            "n",
            F.col("_sum").cast("string").alias("total_dec"),
            F.col("_avg").cast("string").alias("avg_dec"),
        )
    )


@REGISTRY.register(
    "q_weighted_median",
    tags=("agg", "robust"),
    oracle="""
WITH w AS (
  SELECT l_returnflag,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_cents,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem
), cum AS (
  SELECT l_returnflag, price_cents, qty,
         SUM(qty) OVER (PARTITION BY l_returnflag
                        ORDER BY price_cents, qty
                        ROWS UNBOUNDED PRECEDING) AS cw,
         SUM(qty) OVER (PARTITION BY l_returnflag) AS tw
  FROM w
)
SELECT l_returnflag,
       CAST(MIN(price_cents) AS BIGINT) AS weighted_median_cents,
       CAST(MIN(tw) AS BIGINT) AS total_weight
FROM cum
WHERE cw * 2 >= tw
GROUP BY l_returnflag
""",
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTITY-WEIGHTED median price per return flag: the smallest
    price whose cumulative quantity weight reaches half the total —
    the robust 'typical unit price' (an unweighted median over line
    items overweights small orders). No built-in aggregate computes
    this; the engine expresses it as a per-group cumulative-weight
    window with an exact integer half-crossing test (cw*2 >= tw — no
    float division anywhere), then MIN over qualifying prices.

    One shuffle on the group key; the window sorts within groups only.
    Determinism: ties in price are broken by qty in the cumulative
    order, and the crossing test + MIN are order-insensitive beyond
    the sort."""
    c = catalog(spark, sf_dir)
    w = c.lineitem.select(
        "l_returnflag",
        half_up("l_extendedprice", 100).alias("price_cents"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("price_cents", "qty")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("l_returnflag")
    cum = w.select(
        "l_returnflag",
        "price_cents",
        F.sum("qty").over(wcum).alias("cw"),
        F.sum("qty").over(wtot).alias("tw"),
    )
    return (
        cum.filter(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("price_cents").cast("bigint").alias("weighted_median_cents"),
            F.min("tw").cast("bigint").alias("total_weight"),
        )
    )


@REGISTRY.register(
    "q_median_two_phase",
    tags=("agg", "scale"),
    oracle="""
WITH t AS (
  SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
         event_id,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY FLOOR(value * 100 + 0.5), event_id)
           AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
       CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS BIGINT)
         AS median_cents
FROM t GROUP BY event_type
""",
)
def q_median_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT median without a global sort — the two-phase selection a
    100 TB engine actually uses: phase 1 aggregates a coarse fixed-width
    histogram per group (map-side combined, tiny result), the driver
    locates each group's median BUCKET and within-bucket rank from the
    cumulative counts, and phase 2 scans ONLY the rows of that one
    bucket (a pushed-down equality predicate) to select the exact
    order statistic. Total cost: two scans and a bucket-sized sort,
    versus the oracle's full per-group window sort.

    The collected histogram is groups x occupied-buckets rows — a
    driver-scalar-sized artifact (same discipline as k-means
    centroids), never data. The bucket domain scales with the VALUE
    RANGE though, so the collect is capped (_HISTOGRAM_COLLECT_CAP)
    and refuses loudly if a fixture drift ever widens it.

    Exact: BIGINT cents, lower-median k = (n+1)//2, total (cents,
    event_id) order; rows outside the median bucket are strictly
    smaller/larger, so the within-bucket offset-th element IS the
    global k-th."""
    c = catalog(spark, sf_dir)
    cents = half_up("value", 100)
    base = c.events.select(
        "event_type", cents.alias("cents"), "event_id"
    ).withColumn("bucket", F.expr("cents div 1000"))
    hist = _bounded_collect(
        base.groupBy("event_type", "bucket").agg(
            F.count("*").cast("bigint").alias("cnt")
        ),
        _HISTOGRAM_COLLECT_CAP,
        "two-phase median histogram (groups x occupied buckets)",
    )
    from collections import defaultdict

    per_type: dict[str, list] = defaultdict(list)
    for r in hist:
        per_type[r["event_type"]].append((r["bucket"], r["cnt"]))
    targets = []  # (event_type, median_bucket, offset_within_bucket, n)
    for et, buckets in per_type.items():
        buckets.sort()
        n = sum(cnt for _, cnt in buckets)
        k = (n + 1) // 2
        cum = 0
        for b, cnt in buckets:
            if cum + cnt >= k:
                targets.append((et, b, k - cum, n))
                break
            cum += cnt
    # explicit schema: an empty corpus yields zero targets and
    # schema-from-data inference fails on an empty list
    # (empty-fixture fuzz)
    tdf = spark.createDataFrame(
        targets, "event_type string, mbucket bigint, offset bigint, n bigint"
    )
    phase2 = base.join(
        F.broadcast(tdf),
        (base["event_type"] == tdf["event_type"])
        & (base["bucket"] == tdf["mbucket"]),
    ).drop(tdf["event_type"])
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    return (
        phase2.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == F.col("offset"))
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.col("cents").alias("median_cents"),
        )
    )
