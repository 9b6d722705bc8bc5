"""Join operators (SURVEY §2B) on the star schema.

Catenae analog: none — joins were hand-rolled KV lookups (Aerospike/Mongo
connectors) inside ``transform()``. Here they are declarative joins and
Catalyst/AQE pick the physical strategy.

Scale posture:

- Dimension joins broadcast (region/nation/customer/supplier/part stay
  small relative to the fact tables at any SF) — no shuffle of the fact
  side, no skew exposure.
- Fact-fact joins (lineitem⋈orders) shuffle on the join key; AQE
  skew-join splitting handles hot orderkeys.
- Theta joins are written equi-key + residual predicate wherever the
  semantics allow (hash join + filter instead of a broadcast
  nested-loop over the full cross product).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from catenae_kafka_spark.catalog import catalog
from catenae_kafka_spark.functions.compat import half_up
from catenae_kafka_spark.registry import REGISTRY


@REGISTRY.register(
    "q_join_inner",
    tags=("join",),
    bench=True,
    oracle="""
SELECT l_orderkey, l_linenumber, p_partkey, p_brand,
       ROUND(l_extendedprice - p_retailprice * l_quantity, 4) AS margin
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size > 25
""",
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join lineitem⋈part (part side broadcast)."""
    c = catalog(spark, sf_dir)
    return (
        c.lineitem.join(
            F.broadcast(c.part.filter(F.col("p_size") > 25)),
            F.col("l_partkey") == F.col("p_partkey"),
        ).select(
            "l_orderkey",
            "l_linenumber",
            "p_partkey",
            "p_brand",
            F.round(
                F.col("l_extendedprice") - F.col("p_retailprice") * F.col("l_quantity"),
                4,
            ).alias("margin"),
        )
    )


@REGISTRY.register(
    "q_join_outer",
    tags=("join",),
    oracle="""
SELECT o_orderkey, o_orderstatus, l_linenumber, l_quantity
FROM orders LEFT JOIN lineitem
  ON o_orderkey = l_orderkey AND l_quantity > 45
WHERE o_orderkey % 10 = 0
""",
)
def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with an extra join-side predicate → real NULLs."""
    c = catalog(spark, sf_dir)
    orders = c.orders.filter(F.col("o_orderkey") % 10 == 0)
    li = c.lineitem
    cond = (F.col("o_orderkey") == F.col("l_orderkey")) & (F.col("l_quantity") > 45)
    return orders.join(li, cond, "left").select(
        "o_orderkey", "o_orderstatus", "l_linenumber", "l_quantity"
    )


@REGISTRY.register(
    "q_join_full",
    tags=("join",),
    oracle="""
WITH cust_n AS (
  SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust
  FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey
), supp_n AS (
  SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp
  FROM supplier GROUP BY s_nationkey
)
SELECT COALESCE(cust_n.nationkey, supp_n.nationkey) AS nationkey,
       n_cust, n_supp
FROM cust_n FULL OUTER JOIN supp_n USING (nationkey)
""",
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two aggregated sides (nulls on both)."""
    c = catalog(spark, sf_dir)
    cust_n = (
        c.customer.filter(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_cust"))
    )
    supp_n = c.supplier.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_supp")
    )
    joined = cust_n.join(supp_n, "nationkey", "full")
    # Spark's USING-style join already coalesces the key column.
    return joined.select("nationkey", "n_cust", "n_supp")


@REGISTRY.register(
    "q_join_semi",
    tags=("join",),
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
)
""",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join (EXISTS): customers with a very large order."""
    c = catalog(spark, sf_dir)
    big = c.orders.filter(F.col("o_totalprice") > 400000)
    return c.customer.join(
        big, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


@REGISTRY.register(
    "q_join_anti",
    tags=("join",),
    oracle="""
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P'
)
""",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join (NOT EXISTS): customers with no pending orders."""
    c = catalog(spark, sf_dir)
    pending = c.orders.filter(F.col("o_orderstatus") == "P")
    return c.customer.join(
        pending, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_mktsegment")


@REGISTRY.register(
    "q_join_broadcast",
    tags=("join",),
    oracle="""
SELECT s_suppkey, s_name, n_name, r_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name IN ('ASIA', 'EUROPE')
""",
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast hash join through two tiny dims (plan-level operator;
    values match the plain inner join oracle)."""
    c = catalog(spark, sf_dir)
    return (
        c.supplier.join(
            F.broadcast(c.nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(
            F.broadcast(c.region.filter(F.col("r_name").isin("ASIA", "EUROPE"))),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "n_name", "r_name")
    )


@REGISTRY.register(
    "q_join_theta",
    tags=("join",),
    oracle="""
SELECT s_suppkey, c_custkey
FROM supplier JOIN customer
  ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
""",
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join written equi-key + residual: hash join on nationkey
    with the inequality as a post-join filter (never a nested loop
    over the cross product — survives a 100× scale-up)."""
    c = catalog(spark, sf_dir)
    cond = (F.col("s_nationkey") == F.col("c_nationkey")) & (
        F.col("s_acctbal") > F.col("c_acctbal")
    )
    return c.supplier.join(c.customer, cond).select("s_suppkey", "c_custkey")


@REGISTRY.register(
    "q_self_join",
    tags=("join",),
    oracle="""
SELECT a.l_orderkey AS l_orderkey,
       a.l_linenumber AS ln_a, b.l_linenumber AS ln_b,
       ROUND(a.l_extendedprice + b.l_extendedprice, 4) AS pair_price
FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
""",
)
def q_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self join: pairs of lineitems within an order."""
    c = catalog(spark, sf_dir)
    a = c.lineitem.alias("a")
    b = c.lineitem.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_linenumber") < F.col("b.l_linenumber")),
        ).select(
            F.col("a.l_orderkey").alias("l_orderkey"),
            F.col("a.l_linenumber").alias("ln_a"),
            F.col("b.l_linenumber").alias("ln_b"),
            F.round(F.col("a.l_extendedprice") + F.col("b.l_extendedprice"), 4).alias(
                "pair_price"
            ),
        )
    )


@REGISTRY.register(
    "q_join_bloom",
    tags=("join", "runtime-filter"),
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 400000
GROUP BY l_returnflag
""",
)
def q_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning: the selective filter on the
    orders side is turned into a Bloom filter that Spark injects into
    the lineitem scan, so the fact table's shuffle carries only rows
    whose key *might* join — at 100 TB this is the difference between
    shuffling the whole fact table and shuffling the ~1% that survives
    the dimension's predicate. The MERGE hint keeps the join
    shuffle-shaped (broadcast joins prune inherently); the application-
    side threshold is lowered so the optimization fires at test scale
    (at production scale the 10 GB default fires on its own). Results
    are identical to the plain join — the oracle IS the plain join;
    the Bloom-filter plan shape is asserted in tests/test_plans.py."""
    # InjectRuntimeFilter only fires for probably-SHUFFLE joins (a
    # broadcast join prunes inherently), so disable auto-broadcast for
    # this query and zero the 10 GB application-side scan threshold so
    # the filter injects at test scale (at 100 TB the default fires on
    # its own). Both keys are in RUNTIME_CONF, so the next query's
    # tune() restores them.
    c = catalog(spark, sf_dir)  # catalog() runs tune(); overrides go after
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    urgent = c.orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 400000)
    ).select("o_orderkey")
    joined = c.lineitem.join(urgent, c.lineitem.l_orderkey == urgent.o_orderkey)
    return joined.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


@REGISTRY.register(
    "q_join_null_safe",
    tags=("join",),
    oracle="""
WITH a AS (
  SELECT NULLIF(o_custkey % 7, 6) AS k,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS order_cents
  FROM orders GROUP BY k
), b AS (
  SELECT NULLIF(c_custkey % 7, 6) AS k,
         CAST(COUNT(*) AS BIGINT) AS n_customers
  FROM customer GROUP BY k
)
SELECT CAST(a.k AS BIGINT) AS k, n_orders, order_cents, n_customers
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
""",
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equality JOIN (<=> / IS NOT DISTINCT FROM): the join
    surface where NULL keys MATCH each other instead of silently
    dropping — what you want when NULL is a real category ("unknown
    bucket") that both sides share. Plain equality would lose the
    NULL row on both sides; the null-safe row survives and is part of
    the hashed result.

    The NULL keys are derived deterministically (bucket 6 -> NULL) so
    the case is exercised at every scale factor. Both sides aggregate
    to their 7-row key tables first — the join is
    dimension-cardinality no matter the fact size.

    Note Spark plans <=> as a regular hash join (null-safe equality
    is still an equi-join key), not a nested loop."""
    c = catalog(spark, sf_dir)
    a = c.orders.groupBy(
        F.nullif((F.col("o_custkey") % 7).cast("bigint"), F.lit(6)).alias("k")
    ).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(half_up("o_totalprice", 100))
        .cast("bigint")
        .alias("order_cents"),
    )
    b = c.customer.groupBy(
        F.nullif((F.col("c_custkey") % 7).cast("bigint"), F.lit(6)).alias(
            "k2"
        )
    ).agg(F.count("*").cast("bigint").alias("n_customers"))
    return a.join(b, F.col("k").eqNullSafe(F.col("k2"))).select(
        "k", "n_orders", "order_cents", "n_customers"
    )
