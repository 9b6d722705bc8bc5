"""Data-profiling operators: the "what is in this table" utilities a
100 TB ingest pipeline runs before anything else.

- ``q_profile_columns``: per-column null count / exact distinct count /
  min / max in ONE scan of the table (the oracle re-scans per column;
  Spark computes all measures in a single pass and unpivots the 1-row
  aggregate).
- ``q_hll_sketch``: mergeable HLL sketches (Spark 3.5+ ``hll_sketch_agg``
  / ``hll_union_agg``) — the partial-aggregate formulation that lets a
  1000-executor cluster sketch per partition and merge 32-byte-ish
  states instead of shuffling raw values. Approximate => weak oracle;
  tolerance vs exact distinct is asserted in tests/test_llm_ops.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from catenae_kafka_spark.catalog import catalog
from catenae_kafka_spark.functions.compat import half_up
from catenae_kafka_spark.registry import REGISTRY


def _fmt_or_null(spec: str, col):
    """printf-parity: DuckDB printf(spec, NULL) is NULL, but Java's
    String.format renders a null argument as the literal string
    "null" — guard so an empty table's min/max profiles as NULL on
    both engines (empty-fixture fuzz)."""
    return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(
        F.format_string(spec, col)
    )


@REGISTRY.register(
    "q_profile_columns",
    tags=("profiling",),
    oracle="""
SELECT 'o_orderstatus' AS col_name,
       CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct,
       MIN(o_orderstatus) AS min_s,
       MAX(o_orderstatus) AS max_s
FROM orders
UNION ALL
SELECT 'o_orderpriority',
       CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
       MIN(o_orderpriority), MAX(o_orderpriority)
FROM orders
UNION ALL
SELECT 'o_custkey',
       CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
       printf('%d', MIN(o_custkey)), printf('%d', MAX(o_custkey))
FROM orders
UNION ALL
SELECT 'o_totalprice',
       CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
       CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
       printf('%.2f', MIN(o_totalprice)), printf('%.2f', MAX(o_totalprice))
FROM orders
""",
)
def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of ``orders`` (nulls, exact distincts, min/max as
    printf-normalized strings) in a single table scan: all 4 columns'
    measures are one ``agg`` (Catalyst's Expand handles the multi-column
    COUNT DISTINCT), then the 1-row result is unpivoted driver-side-free
    via an array-of-structs explode. printf ('%d'/'%.2f') renders
    numeric min/max identically on both engines — raw double→string
    casts are not format-stable across engines."""
    c = catalog(spark, sf_dir)
    o = c.orders
    agg = o.agg(
        F.count("*").alias("n"),
        F.count("o_orderstatus").alias("c1"),
        F.countDistinct("o_orderstatus").alias("d1"),
        F.min("o_orderstatus").alias("mn1"),
        F.max("o_orderstatus").alias("mx1"),
        F.count("o_orderpriority").alias("c2"),
        F.countDistinct("o_orderpriority").alias("d2"),
        F.min("o_orderpriority").alias("mn2"),
        F.max("o_orderpriority").alias("mx2"),
        F.count("o_custkey").alias("c3"),
        F.countDistinct("o_custkey").alias("d3"),
        _fmt_or_null("%d", F.min("o_custkey")).alias("mn3"),
        _fmt_or_null("%d", F.max("o_custkey")).alias("mx3"),
        F.count("o_totalprice").alias("c4"),
        F.countDistinct("o_totalprice").alias("d4"),
        _fmt_or_null("%.2f", F.min("o_totalprice")).alias("mn4"),
        _fmt_or_null("%.2f", F.max("o_totalprice")).alias("mx4"),
    )

    def row(name: str, i: int):
        return F.struct(
            F.lit(name).alias("col_name"),
            (F.col("n") - F.col(f"c{i}")).alias("n_nulls"),
            F.col(f"d{i}").alias("n_distinct"),
            F.col(f"mn{i}").alias("min_s"),
            F.col(f"mx{i}").alias("max_s"),
        )

    profiles = F.array(
        row("o_orderstatus", 1),
        row("o_orderpriority", 2),
        row("o_custkey", 3),
        row("o_totalprice", 4),
    )
    return agg.select(F.explode(profiles).alias("p")).select("p.*")


@REGISTRY.register(
    "q_hll_sketch",
    tags=("profiling", "sketch"),
    oracle=None,  # approximate sketch estimates — tolerance-tested instead
)
def q_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches: HLL-sketch user_id per
    event_type, then union the per-type sketches into an overall
    estimate — the two-level partial-merge shape that works when the
    raw values are 100 TB: executors ship fixed-size sketch buffers,
    never user ids. Rows: one per event_type + one 'ALL' union row.
    Estimates are deterministic for a fixed dataset (HLL++ has no RNG)
    but engine-specific, hence no SQL oracle; tests assert <5% error
    vs exact."""
    c = catalog(spark, sf_dir)
    per_type = c.events.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    typed = per_type.select(
        "event_type", F.hll_sketch_estimate("sk").alias("approx_users")
    )
    overall = per_type.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.lit("ALL").alias("event_type"),
        F.hll_sketch_estimate("sk").alias("approx_users"),
    )
    return typed.unionByName(overall)


@REGISTRY.register(
    "q_histogram",
    tags=("profiling",),
    oracle="""
WITH mm AS (
  SELECT MIN(value) AS lo, MAX(value) AS hi FROM events
)
SELECT LEAST(CAST(FLOOR((value - mm.lo) * 16.0 / (mm.hi - mm.lo)) AS BIGINT),
             15) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(value), 4) AS bin_min,
       ROUND(MAX(value), 4) AS bin_max
FROM events, mm
GROUP BY 1
""",
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width 16-bin histogram with DATA-DRIVEN range: one tiny
    min/max aggregate broadcast to a second single-pass binning scan —
    the two-pass shape every distributed histogram uses (the range agg
    output is one row; the corpus never shuffles, the bin groupBy
    carries 16 groups). Bin arithmetic is written identically in both
    engines (IEEE double, same parenthesization) so boundary bins hash
    exactly; the top edge folds into the last bin via LEAST."""
    c = catalog(spark, sf_dir)
    mm = c.events.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    # try_divide: a constant column (hi = lo) makes the bin expression
    # 0/0 -> NULL on both engines, and both engines' least() SKIPS the
    # NULL so every row folds into bin 15 — identical one-bin result
    # (degenerate fuzz fixture; ANSI / would raise instead)
    binned = c.events.crossJoin(F.broadcast(mm)).select(
        F.least(
            F.floor(
                F.try_divide(
                    (F.col("value") - F.col("lo")) * 16.0,
                    F.col("hi") - F.col("lo"),
                )
            ).cast("bigint"),
            F.lit(15).cast("bigint"),
        ).alias("bin"),
        "value",
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.round(F.min("value"), 4).alias("bin_min"),
        F.round(F.max("value"), 4).alias("bin_max"),
    )


@REGISTRY.register(
    "q_dq_checks",
    tags=("profiling", "quality"),
    oracle="""
WITH m AS (
  SELECT CAST(COUNT(*) FILTER (o_custkey IS NULL) AS BIGINT) AS c_null,
         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS c_dup,
         CAST(COUNT(*) FILTER (o_totalprice <= 0) AS BIGINT) AS c_rng,
         CAST(COUNT(*) FILTER (o_orderstatus NOT IN ('O','F','P')) AS BIGINT) AS c_dom
  FROM orders
), fk AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS c_fk FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
)
SELECT 'null_custkey' AS check_name, c_null AS violations, c_null = 0 AS passed FROM m
UNION ALL SELECT 'dup_orderkey', c_dup, c_dup = 0 FROM m
UNION ALL SELECT 'nonpositive_totalprice', c_rng, c_rng = 0 FROM m
UNION ALL SELECT 'bad_orderstatus', c_dom, c_dom = 0 FROM m
UNION ALL SELECT 'fk_orphan_custkey', c_fk, c_fk = 0 FROM fk
""",
)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint suite (the deequ/dbt-test
    pattern): completeness, key uniqueness, value range, domain
    membership, and referential integrity, as one violations table.

    Scale shape: the four table-local checks are ONE aggregation pass
    over orders (no per-check rescans — a 100 TB audit cannot afford
    five scans); the FK orphan check is a broadcast LEFT ANTI join
    against the customer key column only. Every check is exact."""
    c = catalog(spark, sf_dir)
    m = c.orders.agg(
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("c_null"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("c_dup"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("c_rng"),
        F.count(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
        ).alias("c_dom"),
    )
    fk = (
        c.orders.join(
            F.broadcast(c.customer.select("c_custkey")),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .agg(F.count("*").alias("c_fk"))
    )
    checks = [
        ("null_custkey", m, "c_null"),
        ("dup_orderkey", m, "c_dup"),
        ("nonpositive_totalprice", m, "c_rng"),
        ("bad_orderstatus", m, "c_dom"),
        ("fk_orphan_custkey", fk, "c_fk"),
    ]
    out = None
    for name, src, col in checks:
        row = src.select(
            F.lit(name).alias("check_name"),
            F.col(col).cast("long").alias("violations"),
            (F.col(col) == 0).alias("passed"),
        )
        out = row if out is None else out.unionByName(row)
    return out


@REGISTRY.register(
    "q_observe_metrics",
    tags=("profiling", "observability"),
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(SUM(l_extendedprice), 2) AS sum_price,
       CAST(COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS BIGINT)
         AS n_discounted
FROM lineitem
""",
)
def q_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via the Observation API: accumulator-
    backed metrics (row count, value sum, predicate count) collected
    DURING the main action — at 100 TB this is how a pipeline reports
    row counts and quality tallies without a second scan of the input
    (df.observe rides the same pass; a separate .count() would double
    the IO). The observed values land driver-side as one metrics row;
    the oracle recomputes them as ordinary aggregates."""
    from pyspark.sql import Observation

    c = catalog(spark, sf_dir)
    obs = Observation("metrics")
    observed = c.lineitem.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
    )
    # one real action drives the scan; metrics ride along for free
    observed.write.format("noop").mode("overwrite").save()
    row = obs.get
    # NULL-safe: SUM over an empty scan observes None (the oracle's
    # SUM is NULL too); float(None) raised here (empty-fixture fuzz)
    sum_price = row["sum_price"]
    return spark.createDataFrame(
        [
            (
                row["n_rows"],
                float(sum_price) if sum_price is not None else None,
                row["n_discounted"],
            )
        ],
        "n_rows long, sum_price double, n_discounted long",
    )


@REGISTRY.register(
    "q_benford",
    tags=("profiling", "dq"),
    oracle="""
WITH digits AS MATERIALIZED (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS d
  FROM orders WHERE o_totalprice >= 1
)
SELECT d,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(COUNT(*) * 1.0 / (SELECT COUNT(*) FROM digits), 6) AS observed,
       ROUND(ln(1.0 + 1.0 / d) / ln(10.0), 6) AS benford
FROM digits GROUP BY d
""",
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit — the forensic data-quality screen for
    fabricated or truncated numeric columns (natural multi-magnitude
    amounts follow log10(1+1/d); uniform synthetics don't, which this
    fixture demonstrates). First digit extracted via integer-string
    prefix (map-side), one 9-row aggregate, the total broadcast back
    as a scalar subquery."""
    import math

    from pyspark.sql import Window

    c = catalog(spark, sf_dir)
    d = F.substring(
        F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
    ).cast("long")
    digits = c.orders.filter(F.col("o_totalprice") >= 1).select(d.alias("d"))
    benford = F.round(F.log(1.0 + 1.0 / F.col("d")) / math.log(10.0), 6)
    counted = digits.groupBy("d").agg(F.count("*").alias("n"))
    # the total comes from the <=9-row aggregate itself (unpartitioned
    # window over 9 rows), not a second scan of orders
    total = F.sum("n").over(Window.partitionBy())
    return counted.select(
        "d",
        "n",
        F.round(F.col("n") / total, 6).alias("observed"),
        benford.alias("benford"),
    )


@REGISTRY.register(
    "q_ri_audit",
    tags=("profiling", "dq"),
    oracle="""
SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
       CAST((SELECT COUNT(*) FROM lineitem WHERE NOT EXISTS
             (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey))
            AS BIGINT) AS n_orphans
UNION ALL
SELECT 'lineitem.l_partkey->part',
       CAST((SELECT COUNT(*) FROM lineitem WHERE NOT EXISTS
             (SELECT 1 FROM part WHERE p_partkey = l_partkey)) AS BIGINT)
UNION ALL
SELECT 'lineitem.l_suppkey->supplier',
       CAST((SELECT COUNT(*) FROM lineitem WHERE NOT EXISTS
             (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey)) AS BIGINT)
UNION ALL
SELECT 'orders.o_custkey->customer',
       CAST((SELECT COUNT(*) FROM orders WHERE NOT EXISTS
             (SELECT 1 FROM customer WHERE c_custkey = o_custkey)) AS BIGINT)
UNION ALL
SELECT 'customer.c_nationkey->nation',
       CAST((SELECT COUNT(*) FROM customer WHERE NOT EXISTS
             (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey)) AS BIGINT)
UNION ALL
SELECT 'events.user_id->customer',
       CAST((SELECT COUNT(*) FROM events WHERE NOT EXISTS
             (SELECT 1 FROM customer WHERE c_custkey = user_id)) AS BIGINT)
""",
)
def q_ri_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit of every foreign-key edge in the
    star schema in one pass: each edge is a left-anti join (orphan
    probe) counted — the post-load gate a 100 TB warehouse runs before
    publishing a snapshot. Anti joins shuffle only key columns; dim
    sides broadcast. (The events.user_id edge is intentionally
    included even though the fixture may violate it — an audit that
    can only pass is not an audit.)"""
    c = catalog(spark, sf_dir)
    edges = [
        ("lineitem.l_orderkey->orders", c.lineitem, "l_orderkey",
         c.orders, "o_orderkey"),
        ("lineitem.l_partkey->part", c.lineitem, "l_partkey",
         c.part, "p_partkey"),
        ("lineitem.l_suppkey->supplier", c.lineitem, "l_suppkey",
         c.supplier, "s_suppkey"),
        ("orders.o_custkey->customer", c.orders, "o_custkey",
         c.customer, "c_custkey"),
        ("customer.c_nationkey->nation", c.customer, "c_nationkey",
         c.nation, "n_nationkey"),
        ("events.user_id->customer", c.events, "user_id",
         c.customer, "c_custkey"),
    ]
    out = None
    for name, fact, fk, dim, pk in edges:
        orphans = fact.select(F.col(fk)).join(
            F.broadcast(dim.select(F.col(pk).alias(fk))), fk, "left_anti"
        )
        row = orphans.agg(
            F.lit(name).alias("fk_edge"),
            F.count("*").alias("n_orphans"),
        )
        out = row if out is None else out.unionByName(row)
    return out


@REGISTRY.register(
    "q_corr_matrix",
    tags=("profiling", "statistics"),
    oracle="""
WITH base AS (
  SELECT CAST(l_quantity AS BIGINT) AS x1,
         CAST(FLOOR(l_extendedprice) AS BIGINT) AS x2,
         CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS x3
  FROM lineitem
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
         CAST(SUM(x3) AS BIGINT) AS s3,
         CAST(SUM(x1 * x1) AS BIGINT) AS q11,
         CAST(SUM(x2 * x2) AS BIGINT) AS q22,
         CAST(SUM(x3 * x3) AS BIGINT) AS q33,
         CAST(SUM(x1 * x2) AS BIGINT) AS q12,
         CAST(SUM(x1 * x3) AS BIGINT) AS q13,
         CAST(SUM(x2 * x3) AS BIGINT) AS q23
  FROM base
)
SELECT pair, CAST(FLOOR(r * 1000000) AS BIGINT) AS r_micro FROM (
  SELECT 'quantity~price' AS pair,
         (CAST(n AS DOUBLE) * q12 - CAST(s1 AS DOUBLE) * s2)
         / (SQRT(CAST(n AS DOUBLE) * q11 - CAST(s1 AS DOUBLE) * s1)
            * SQRT(CAST(n AS DOUBLE) * q22 - CAST(s2 AS DOUBLE) * s2)) AS r
  FROM s
  UNION ALL
  SELECT 'quantity~discount',
         (CAST(n AS DOUBLE) * q13 - CAST(s1 AS DOUBLE) * s3)
         / (SQRT(CAST(n AS DOUBLE) * q11 - CAST(s1 AS DOUBLE) * s1)
            * SQRT(CAST(n AS DOUBLE) * q33 - CAST(s3 AS DOUBLE) * s3))
  FROM s
  UNION ALL
  SELECT 'price~discount',
         (CAST(n AS DOUBLE) * q23 - CAST(s2 AS DOUBLE) * s3)
         / (SQRT(CAST(n AS DOUBLE) * q22 - CAST(s2 AS DOUBLE) * s2)
            * SQRT(CAST(n AS DOUBLE) * q33 - CAST(s3 AS DOUBLE) * s3))
  FROM s
)
""",
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix (quantity, price, discount)
    in ONE pass: all ten power sums accumulate in a single map-side-
    combined aggregation, and every pairwise r derives from them — the
    profiling step that finds redundant/leaky columns before feature
    selection, at one-scan cost no matter how many pairs (vs calling
    corr() per pair = one scan each).

    Exactness: integer-quantized columns, exact BIGINT power sums, one
    shared IEEE expression per r (sqrt correctly rounded), micro
    floors.

    Scale shape: single aggregation, ten numbers cross the wire; the
    pair expansion is constant-width driver-side arithmetic."""
    c = catalog(spark, sf_dir)
    base = c.lineitem.select(
        F.col("l_quantity").cast("bigint").alias("x1"),
        F.floor("l_extendedprice").cast("bigint").alias("x2"),
        half_up("l_discount", 100).alias("x3"),
    )
    s = base.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("s1"),
        F.sum("x2").cast("bigint").alias("s2"),
        F.sum("x3").cast("bigint").alias("s3"),
        F.sum(F.col("x1") * F.col("x1")).cast("bigint").alias("q11"),
        F.sum(F.col("x2") * F.col("x2")).cast("bigint").alias("q22"),
        F.sum(F.col("x3") * F.col("x3")).cast("bigint").alias("q33"),
        F.sum(F.col("x1") * F.col("x2")).cast("bigint").alias("q12"),
        F.sum(F.col("x1") * F.col("x3")).cast("bigint").alias("q13"),
        F.sum(F.col("x2") * F.col("x3")).cast("bigint").alias("q23"),
    )

    def r(qxy: str, sx: str, sy: str, qxx: str, qyy: str):
        # try_divide: a constant column has zero variance and r is
        # undefined — NULL on both engines (DuckDB x/0 -> NULL, ANSI /
        # raises; degenerate fuzz fixture)
        return F.try_divide(
            F.col("n").cast("double") * F.col(qxy)
            - F.col(sx).cast("double") * F.col(sy),
            F.sqrt(
                F.col("n").cast("double") * F.col(qxx)
                - F.col(sx).cast("double") * F.col(sx)
            )
            * F.sqrt(
                F.col("n").cast("double") * F.col(qyy)
                - F.col(sy).cast("double") * F.col(sy)
            ),
        )

    rows = [
        ("quantity~price", r("q12", "s1", "s2", "q11", "q22")),
        ("quantity~discount", r("q13", "s1", "s3", "q11", "q33")),
        ("price~discount", r("q23", "s2", "s3", "q22", "q33")),
    ]
    out = None
    for name, expr in rows:
        part = s.select(
            F.lit(name).alias("pair"),
            F.floor(expr * 1000000).cast("bigint").alias("r_micro"),
        )
        out = part if out is None else out.unionByName(part)
    return out


@REGISTRY.register(
    "q_equiheight_histogram",
    tags=("profiling", "optimizer-stats"),
    oracle="""
WITH c AS (
  SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
  FROM lineitem
), bounds AS (
  SELECT CAST(quantile_disc(cents, 0.25) AS BIGINT) AS q1,
         CAST(quantile_disc(cents, 0.50) AS BIGINT) AS q2,
         CAST(quantile_disc(cents, 0.75) AS BIGINT) AS q3
  FROM c
), bucketed AS (
  SELECT CASE WHEN cents <= q1 THEN 1
              WHEN cents <= q2 THEN 2
              WHEN cents <= q3 THEN 3
              ELSE 4 END AS bucket_id,
         cents
  FROM c CROSS JOIN bounds
)
SELECT bucket_id,
       CAST(MIN(cents) AS BIGINT) AS lo_cents,
       CAST(MAX(cents) AS BIGINT) AS hi_cents,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT cents) AS BIGINT) AS n_distinct
FROM bucketed GROUP BY bucket_id
""",
)
def q_equiheight_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-height (equi-depth) column histogram over the price
    column — the ANALYZE-style statistic a cost-based optimizer uses
    for selectivity estimation: four quartile buckets, each with its
    value range, row count, and distinct count (the per-bucket NDV
    that makes range-predicate estimates sharp even on skewed data).

    Exact: boundaries are percentile_disc selections of actual BIGINT
    cent values (exact order statistics, no interpolation — portable
    by construction); bucketing is pure integer comparison against
    the broadcast 1-row boundary aggregate.

    Scale shape: one pass for boundaries (Spark evaluates
    percentile_disc as a tree aggregate), one map-side bucket
    assignment + 4-group count; the distinct count shuffles on
    (bucket, value) — at 100 TB swap in approx_count_distinct per
    bucket, same plan."""
    c0 = catalog(spark, sf_dir)
    c = c0.lineitem.select(
        half_up("l_extendedprice", 100).alias("cents")
    )
    bounds = c.agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY cents)")
        .cast("bigint")
        .alias("q1"),
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY cents)")
        .cast("bigint")
        .alias("q2"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY cents)")
        .cast("bigint")
        .alias("q3"),
    )
    bucketed = c.crossJoin(F.broadcast(bounds)).select(
        F.when(F.col("cents") <= F.col("q1"), 1)
        .when(F.col("cents") <= F.col("q2"), 2)
        .when(F.col("cents") <= F.col("q3"), 3)
        .otherwise(4)
        .alias("bucket_id"),
        "cents",
    )
    return bucketed.groupBy("bucket_id").agg(
        F.min("cents").cast("bigint").alias("lo_cents"),
        F.max("cents").cast("bigint").alias("hi_cents"),
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct("cents").cast("bigint").alias("n_distinct"),
    )
