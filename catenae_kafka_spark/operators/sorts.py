"""Sort / limit / top-k operators (SURVEY §2B).

Scale posture: ``orderBy(...).limit(k)`` compiles to
TakeOrderedAndProject — each partition keeps a k-row heap and only k·p
rows reach the driver, never a full global sort. Verify in ``.explain``.
A unique tiebreaker column keeps limit cuts deterministic across
engines (ties at the boundary would otherwise be an arbitrary subset).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from catenae_kafka_spark.catalog import catalog
from catenae_kafka_spark.functions.compat import half_up
from catenae_kafka_spark.registry import REGISTRY


@REGISTRY.register(
    "q_sort_limit",
    tags=("sort",),
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25
""",
)
def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort + limit (TakeOrderedAndProject, not a full sort)."""
    c = catalog(spark, sf_dir)
    return (
        c.orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@REGISTRY.register(
    "q_sort_multi",
    tags=("sort",),
    oracle="""
SELECT o_orderkey, o_orderstatus, prio_or_null, o_totalprice
FROM (
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         NULLIF(o_orderpriority, '3-MEDIUM') AS prio_or_null
  FROM orders
)
ORDER BY o_orderstatus ASC,
         prio_or_null DESC NULLS LAST,
         o_totalprice ASC,
         o_orderkey ASC
LIMIT 100
""",
)
def q_sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort: asc/desc mix, NULLS LAST, deterministic via
    unique tiebreaker + limit."""
    c = catalog(spark, sf_dir)
    return (
        c.orders.withColumn(
            "prio_or_null", F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM"))
        )
        .orderBy(
            F.col("o_orderstatus").asc(),
            F.col("prio_or_null").desc_nulls_last(),
            F.col("o_totalprice").asc(),
            F.col("o_orderkey").asc(),
        )
        .limit(100)
        .select("o_orderkey", "o_orderstatus", "prio_or_null", "o_totalprice")
    )


@REGISTRY.register(
    "q_keyset_pagination",
    tags=("sort", "serving"),
    oracle="""
WITH ranked AS (
  SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
           AS cents
  FROM orders
), page2_cursor AS (
  -- the cursor is the LAST row of page 2 under (cents, key) order
  SELECT cents, o_orderkey FROM ranked
  ORDER BY cents, o_orderkey LIMIT 1 OFFSET 99
)
SELECT r.o_orderkey, r.cents
FROM ranked r, page2_cursor c
WHERE (r.cents, r.o_orderkey) > (c.cents, c.o_orderkey)
ORDER BY r.cents, r.o_orderkey
LIMIT 50
""",
)
def q_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (cursor) pagination: page 3 of the order list fetched by
    the COMPOSITE-KEY predicate (cents, key) > cursor instead of
    OFFSET 100 — the serving-layer pattern that stays O(page) while
    OFFSET re-sorts and discards everything before it (and, unlike
    OFFSET, is stable under concurrent inserts before the cursor).
    The unique key in the cursor tuple is what makes pages gap-free
    and overlap-free under duplicate sort values.

    Exact: the row-value comparison is integer tuple ordering; page
    boundaries are deterministic under the total (cents, key) order.

    Scale shape: the cursor predicate pushes into the scan
    (min/max pruning skips every earlier file); TakeOrdered(50)
    replaces a global sort."""
    c = catalog(spark, sf_dir)
    ranked = c.orders.select(
        "o_orderkey",
        half_up("o_totalprice", 100).alias("cents"),
    )
    cursor = (
        ranked.orderBy("cents", "o_orderkey")
        .limit(100)
        .orderBy(F.col("cents").desc(), F.col("o_orderkey").desc())
        .limit(1)
        .select(F.col("cents").alias("cc"), F.col("o_orderkey").alias("ck"))
    )
    return (
        ranked.crossJoin(F.broadcast(cursor))
        .filter(
            (F.col("cents") > F.col("cc"))
            | ((F.col("cents") == F.col("cc")) & (F.col("o_orderkey") > F.col("ck")))
        )
        .orderBy("cents", "o_orderkey")
        .limit(50)
        .select("o_orderkey", "cents")
    )


@REGISTRY.register(
    "q_topk_merge_proof",
    tags=("sort", "topk", "scale"),
    oracle="""
WITH ranked AS (
  SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
           AS cents,
         ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 8
           AS bucket
  FROM orders
), per_bucket AS (
  SELECT o_orderkey, cents FROM (
    SELECT o_orderkey, cents,
           ROW_NUMBER() OVER (PARTITION BY bucket
                              ORDER BY cents DESC, o_orderkey) AS rn
    FROM ranked
  ) WHERE rn <= 10
), merged AS (
  SELECT o_orderkey, cents,
         ROW_NUMBER() OVER (ORDER BY cents DESC, o_orderkey) AS rn
  FROM per_bucket
)
SELECT m.o_orderkey, m.cents, CAST(m.rn AS BIGINT) AS rnk
FROM merged m WHERE m.rn <= 10
""",
)
def q_topk_merge_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed top-k by partial-merge, with the algebra visible:
    hash the table into 8 'partitions', take each partition's LOCAL
    top-10, merge the 80 survivors, and the global top-10 of the merge
    IS the true global top-10 (every true top-k row is top-k within
    its own partition — the identity that lets TakeOrdered move
    O(k x partitions) rows instead of sorting 100 TB; the companion
    test asserts equality against the direct global top-10).

    Exact: integer cents, total (cents DESC, key) order, md5 hash
    partitioning.

    Scale shape: per-partition window top-k + an 80-row merge — this
    query demonstrates explicitly what Spark's TakeOrderedAndProject
    does physically (see q_sort_limit's plan)."""
    c = catalog(spark, sf_dir)
    ranked = c.orders.select(
        "o_orderkey",
        half_up("o_totalprice", 100).alias("cents"),
        (
            F.conv(
                F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8),
                16,
                10,
            ).cast("bigint")
            % 8
        ).alias("bucket"),
    )
    wb = Window.partitionBy("bucket").orderBy(
        F.col("cents").desc(), F.col("o_orderkey")
    )
    per_bucket = (
        ranked.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") <= 10)
        .select("o_orderkey", "cents")
    )
    wm = Window.orderBy(F.col("cents").desc(), F.col("o_orderkey"))
    return (
        per_bucket.withColumn("rnk", F.row_number().over(wm))
        .filter(F.col("rnk") <= 10)
        .select("o_orderkey", "cents", F.col("rnk").cast("bigint").alias("rnk"))
    )


@REGISTRY.register(
    "q_null_ordering_contract",
    tags=("sort", "semantics"),
    oracle="""
WITH t AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN NULL
              ELSE CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
         END AS cents
  FROM orders WHERE o_orderkey % 41 = 0 AND o_orderkey < 1000000
)
SELECT o_orderkey, cents,
       ROW_NUMBER() OVER (ORDER BY cents ASC NULLS FIRST, o_orderkey)
         AS rn_nulls_first,
       ROW_NUMBER() OVER (ORDER BY cents ASC NULLS LAST, o_orderkey)
         AS rn_nulls_last,
       ROW_NUMBER() OVER (ORDER BY cents DESC NULLS LAST, o_orderkey)
         AS rn_desc_nulls_last
FROM t
""",
)
def q_null_ordering_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-ordering contract: the same nullable column ranked under
    explicit NULLS FIRST / NULLS LAST in both directions — pinned
    EXPLICITLY because the engines' DEFAULTS disagree (Spark sorts
    nulls first ascending, DuckDB sorts them last), which silently
    reorders any cross-engine comparison, pagination cursor, or top-k
    that touches a nullable sort key. Every orderBy in this engine
    that can see nulls must state its null placement; this query is
    the executable form of that rule.

    Exact: integer ranks over a total order (key tiebreak).

    Scale shape: the probe slice is CONSTANT-bounded — the pushed
    ``o_orderkey < 1e6`` cap (a no-op at fixture scale, ~24k rows max
    at any scale) keeps the three global rank windows over a bounded
    input, so the contract stays runnable on a 100 TB orders table."""
    c = catalog(spark, sf_dir)
    t = c.orders.filter(
        (F.col("o_orderkey") % 41 == 0) & (F.col("o_orderkey") < 1000000)
    ).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None).cast("bigint"))
        .otherwise(half_up("o_totalprice", 100))
        .alias("cents"),
    )
    return t.select(
        "o_orderkey",
        "cents",
        F.row_number()
        .over(Window.orderBy(F.col("cents").asc_nulls_first(), "o_orderkey"))
        .alias("rn_nulls_first"),
        F.row_number()
        .over(Window.orderBy(F.col("cents").asc_nulls_last(), "o_orderkey"))
        .alias("rn_nulls_last"),
        F.row_number()
        .over(Window.orderBy(F.col("cents").desc_nulls_last(), "o_orderkey"))
        .alias("rn_desc_nulls_last"),
    )
