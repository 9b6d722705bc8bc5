"""Modern Spark 4 SQL surfaces, exercised through the SQL entry point:
VARIANT (semi-structured), recursive CTEs, correlated LATERAL subqueries
with LIMIT, and collation-aware comparison. Each is verified by probe in
this environment (Spark 4.1.2):

- recursive CTEs accept UNION ALL only (UNION dedup raises
  UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so the registered recursion is
  a bounded-depth ladder, not a fixpoint closure — the engine's
  transitive-closure operator remains the iterative DataFrame
  connected_components (llm_dedup.py), whose oracle IS a DuckDB
  recursive CTE.
- VARIANT is the schema-on-read path for ragged JSON at 100 TB: parse
  once into a binary-encoded variant column, extract fields lazily —
  unlike from_json there is no upfront schema to maintain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from catenae_kafka_spark.catalog import register_views
from catenae_kafka_spark.functions.compat import half_up
from catenae_kafka_spark.registry import REGISTRY


@REGISTRY.register(
    "q_variant_funcs",
    tags=("functions", "json", "variant"),
    oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS INTEGER) AS k_val,
       CAST(json_extract(props, '$.k') AS VARCHAR) AS k_str,
       json_extract(props, '$.missing') IS NULL AS is_missing
FROM events
""",
)
def q_variant_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT ingestion of events.props: parse_json → variant_get typed
    extraction + missing-path null semantics. The variant column keeps
    the full document in a binary row format; extraction happens
    per-query with no declared schema (DuckDB oracle: JSON extraction)."""
    register_views(spark, sf_dir, ("events",))
    return spark.sql("""
      SELECT event_id,
             variant_get(parse_json(props), '$.k', 'int') AS k_val,
             variant_get(parse_json(props), '$.k', 'string') AS k_str,
             variant_get(parse_json(props), '$.missing', 'int') IS NULL
               AS is_missing
      FROM events
    """)


@REGISTRY.register(
    "q_recursive_cte",
    tags=("sql", "recursive"),
    oracle="""
WITH RECURSIVE base AS (
  SELECT l_returnflag, ROUND(SUM(l_extendedprice), 2) AS rev
  FROM lineitem GROUP BY l_returnflag
), proj(l_returnflag, rev, month_i, projected) AS (
  SELECT l_returnflag, rev, 0, rev FROM base
  UNION ALL
  SELECT l_returnflag, rev, month_i + 1,
         ROUND(rev * POWER(1.01, month_i + 1), 2)
  FROM proj WHERE month_i < 11
)
SELECT l_returnflag, month_i, projected FROM proj
""",
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): 12-month 1%-compounded
    revenue projection per returnflag — a bounded-depth recursion the
    parser/analyzer executes as an iterative union loop. Identical SQL
    text runs on both engines (UNION ALL form; see module docstring for
    the UNION limitation)."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql("""
      WITH RECURSIVE base AS (
        SELECT l_returnflag, ROUND(SUM(l_extendedprice), 2) AS rev
        FROM lineitem GROUP BY l_returnflag
      ), proj(l_returnflag, rev, month_i, projected) AS (
        SELECT l_returnflag, rev, 0, rev FROM base
        UNION ALL
        SELECT l_returnflag, rev, month_i + 1,
               ROUND(rev * POWER(1.01, month_i + 1), 2)
        FROM proj WHERE month_i < 11
      )
      SELECT l_returnflag, month_i, projected FROM proj
    """)


@REGISTRY.register(
    "q_lateral_subquery",
    tags=("sql", "join", "lateral"),
    oracle="""
SELECT r_name, top_nation, n_cust
FROM region,
LATERAL (
  SELECT n_name AS top_nation, CAST(COUNT(*) AS BIGINT) AS n_cust
  FROM nation JOIN customer ON c_nationkey = n_nationkey
  WHERE n_regionkey = r_regionkey
  GROUP BY n_name
  ORDER BY n_cust DESC, n_name
  LIMIT 1
) t
""",
)
def q_lateral_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT: per region,
    the nation with the most customers — the 'top-1 per outer row'
    idiom as the SQL standard writes it (the DataFrame twin is
    q_topk_per_group's WindowGroupLimit). Identical SQL on both
    engines."""
    register_views(spark, sf_dir, ("region", "nation", "customer"))
    return spark.sql("""
      SELECT r_name, top_nation, n_cust
      FROM region,
      LATERAL (
        SELECT n_name AS top_nation, COUNT(*) AS n_cust
        FROM nation JOIN customer ON c_nationkey = n_nationkey
        WHERE n_regionkey = r_regionkey
        GROUP BY n_name
        ORDER BY n_cust DESC, n_name
        LIMIT 1
      ) t
    """)


@REGISTRY.register(
    "q_collation_distinct",
    tags=("sql", "collation"),
    oracle="""
SELECT user_id % 10 AS bucket,
       CAST(COUNT(DISTINCT lower(CASE WHEN event_id % 2 = 0
                                      THEN upper(event_type)
                                      ELSE event_type END)) AS BIGINT)
         AS n_types_ci
FROM events
GROUP BY user_id % 10
""",
)
def q_collation_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware distinct (Spark 4 COLLATE): event types are
    case-mangled deterministically, then counted distinct under
    UTF8_LCASE — the collation, not an explicit lower(), performs the
    case-folding (oracle states the equivalent lower() semantics).
    Collations push the comparison rule into the type system, so joins/
    aggs/sorts inherit it without sprinkling normalizers."""
    register_views(spark, sf_dir, ("events",))
    return spark.sql("""
      SELECT user_id % 10 AS bucket,
             COUNT(DISTINCT CASE WHEN event_id % 2 = 0
                                 THEN upper(event_type)
                                 ELSE event_type END
                            COLLATE UTF8_LCASE) AS n_types_ci
      FROM events
      GROUP BY user_id % 10
    """)


_FILTER_CLAUSE_SQL = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_all,
       CAST(COUNT(*) FILTER (WHERE l_discount > 0.05) AS BIGINT)
         AS n_discounted,
       CAST(COUNT(*) FILTER (WHERE l_quantity >= 30) AS BIGINT) AS n_bulk,
       ROUND(SUM(l_extendedprice) FILTER (WHERE l_tax = 0), 2)
         AS rev_tax_free,
       CAST(COUNT(DISTINCT l_suppkey) FILTER (WHERE l_linestatus = 'F')
            AS BIGINT) AS n_supp_f
FROM lineitem
GROUP BY l_returnflag
"""


@REGISTRY.register(
    "q_agg_filter_clause",
    tags=("sql", "aggregation"),
    oracle=_FILTER_CLAUSE_SQL,
)
def q_agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI aggregate FILTER clause — per-aggregate predicates in one
    pass (the standard form of the CASE-WHEN conditional-agg idiom,
    including the FILTER + DISTINCT combination no CASE rewrite
    expresses cleanly). The same SQL text runs on Spark and DuckDB —
    dialect-shared, so the oracle IS the query. One scan, one shuffle,
    map-side partials for every filtered aggregate."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(_FILTER_CLAUSE_SQL)


_GROUP_BY_ALL_SQL = """
SELECT l_returnflag,
       l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(l_extendedprice), 2) AS revenue
FROM lineitem
GROUP BY ALL
ORDER BY ALL
"""


@REGISTRY.register(
    "q_group_by_all",
    tags=("sql", "aggregation"),
    oracle=_GROUP_BY_ALL_SQL,
)
def q_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL + ORDER BY ALL — the modern shorthand that infers
    grouping keys from the non-aggregate select list (no more
    positional GROUP BY 1,2 drift when columns are added). The same
    SQL text runs unchanged on Spark 4 and DuckDB; the plan is the
    ordinary two-phase hash aggregate."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(_GROUP_BY_ALL_SQL)


@REGISTRY.register(
    "q_sql_pivot_unpivot",
    tags=("sql-surface", "reshape"),
    oracle="""
WITH base AS (
  SELECT n_name, c_mktsegment,
         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
  FROM customer JOIN nation ON c_nationkey = n_nationkey
), wide AS (
  SELECT n_name,
         CAST(COALESCE(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE'
                                THEN cents END), 0) AS BIGINT)
           AS automobile,
         CAST(COALESCE(SUM(CASE WHEN c_mktsegment = 'BUILDING'
                                THEN cents END), 0) AS BIGINT) AS building,
         CAST(COALESCE(SUM(CASE WHEN c_mktsegment = 'MACHINERY'
                                THEN cents END), 0) AS BIGINT) AS machinery
  FROM base GROUP BY n_name
)
SELECT n_name, seg, bal_cents FROM (
  SELECT n_name, 'automobile' AS seg, automobile AS bal_cents FROM wide
  UNION ALL
  SELECT n_name, 'building', building FROM wide
  UNION ALL
  SELECT n_name, 'machinery', machinery FROM wide
) WHERE bal_cents <> 0
""",
)
def q_sql_pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark SQL PIVOT + UNPIVOT *syntax* round-trip: balances pivot
    wide by market segment (PIVOT ... FOR ... IN), then UNPIVOT folds
    the wide columns back to long form — the dialect surface a
    migrating SQL user reaches for first (the DataFrame .pivot() and
    .unpivot() APIs are covered by q_pivot / q_unpivot; THIS query
    proves the SQL statement forms parse and execute). The oracle is
    plain conditional aggregation + UNION ALL, the dialect-free
    equivalent.

    UNPIVOT drops zero rows to mirror its NULL-dropping semantics
    (empty cells never materialize in long form).

    Scale shape: one group-by over the joined dim; pivot columns are
    an explicit 3-item list (never dynamic at scale)."""
    from pyspark.sql import functions as F

    from catenae_kafka_spark.catalog import catalog

    c = catalog(spark, sf_dir)
    c.customer.join(
        F.broadcast(c.nation),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select(
        "n_name",
        "c_mktsegment",
        half_up("c_acctbal", 100).alias("cents"),
    ).createOrReplaceTempView("pivot_base")
    return spark.sql(
        """
        WITH wide AS (
          SELECT * FROM (SELECT n_name, c_mktsegment, cents FROM pivot_base)
          PIVOT (
            COALESCE(SUM(cents), 0)
            FOR c_mktsegment IN ('AUTOMOBILE' AS automobile,
                                 'BUILDING' AS building,
                                 'MACHINERY' AS machinery)
          )
        )
        SELECT n_name, seg, bal_cents
        FROM wide
        UNPIVOT (
          bal_cents FOR seg IN (automobile, building, machinery)
        )
        WHERE bal_cents <> 0
        """
    )


@REGISTRY.register(
    "q_sql_pipe_syntax",
    tags=("sql", "surface"),
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                     AS BIGINT)) AS BIGINT) AS rev_cents,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
WHERE l_quantity > 10
GROUP BY l_returnflag, l_linestatus
HAVING COUNT(*) >= 100
""",
)
def q_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL PIPE syntax (|>): the same pricing-summary rollup as
    a left-to-right operator chain — FROM |> WHERE |> AGGREGATE ...
    GROUP BY |> WHERE (post-aggregation, i.e. HAVING) |> SELECT. The
    pipe form parses to the identical logical plan as the classic
    query (the oracle is that classic form), so Catalyst optimizes
    both the same way; the surface matters because pipelined SQL is
    the natural authoring style for multi-stage transforms and the
    engine must accept it anywhere plain SQL is accepted.

    Verified in-environment: AGGREGATE requires its GROUP BY inline,
    post-aggregation filters are plain |> WHERE (there is no HAVING
    stage), and aliases bind left-to-right (a later stage sees only
    the previous stage's columns)."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql("""
      FROM lineitem
      |> WHERE l_quantity > 10
      |> AGGREGATE
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100
                               + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         GROUP BY l_returnflag, l_linestatus
      |> WHERE n_items >= 100
      |> SELECT l_returnflag, l_linestatus, rev_cents, n_items, sum_qty
    """)
