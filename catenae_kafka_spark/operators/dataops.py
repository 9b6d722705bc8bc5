"""Data-operations / validation operators: table checksums, version
diffs, pseudonymization.

The ops half of running a 100 TB lakehouse: prove a migrated/replicated
table is identical without moving it (order-insensitive checksum),
explain HOW two versions differ (keyed diff), and tokenize identifiers
before data leaves a trust boundary (keyed-hash pseudonymization that
preserves joinability). All three are pure JVM expressions over one
scan per input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from catenae_kafka_spark.catalog import catalog
from catenae_kafka_spark.functions.compat import half_up
from catenae_kafka_spark.registry import REGISTRY


def _row_digest(cols) -> "F.Column":
    """First 8 md5 hex digits of the canonical row string as a BIGINT —
    summable into an order-insensitive table checksum. 32 bits per row
    keeps the sum far from BIGINT overflow below ~2^31 rows per
    partition scope; widen to two 8-digit words for bigger tables."""
    canon = F.concat_ws("|", *cols)
    return F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("long")


@REGISTRY.register(
    "q_checksum_table",
    tags=("dataops", "validation"),
    oracle="""
SELECT 'orders' AS tbl,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(('0x' || substr(md5(concat_ws('|',
             o_orderkey, o_custkey, o_orderstatus,
             ROUND(o_totalprice, 2), STRFTIME(o_orderdate, '%Y-%m-%d'),
             o_orderpriority)), 1, 8))::BIGINT) AS BIGINT) AS checksum
FROM orders
""",
)
def q_checksum_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table checksum: per-row md5 digest of a
    canonical column string, summed — equal checksums prove a
    migration/replication byte-identical WITHOUT sorting, shuffling, or
    co-locating the two copies (each side computes map-side partials +
    one scalar). The canonical string pins formatting (2dp money,
    date-only timestamps), so the check is engine-portable — the
    DuckDB oracle computes the same scalar from the same parquet."""
    c = catalog(spark, sf_dir)
    digest = _row_digest(
        [
            F.col("o_orderkey"),
            F.col("o_custkey"),
            F.col("o_orderstatus"),
            F.round("o_totalprice", 2),
            F.date_format("o_orderdate", "yyyy-MM-dd"),
            F.col("o_orderpriority"),
        ]
    )
    return c.orders.agg(
        F.lit("orders").alias("tbl"),
        F.count("*").alias("n_rows"),
        F.sum(digest).alias("checksum"),
    )


@REGISTRY.register(
    "q_table_diff",
    tags=("dataops", "validation"),
    oracle="""
WITH v2 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0
              THEN ROUND(o_totalprice * 1.05, 4) ELSE o_totalprice
         END AS o_totalprice
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_totalprice
  FROM orders WHERE o_orderkey % 1009 = 0
), j AS (
  SELECT v1.o_orderkey AS k1, v2.o_orderkey AS k2,
         v1.o_totalprice AS p1, v2.o_totalprice AS p2
  FROM orders v1 FULL JOIN v2 ON v1.o_orderkey = v2.o_orderkey
)
SELECT CASE WHEN k1 IS NULL THEN 'added'
            WHEN k2 IS NULL THEN 'removed'
            WHEN p1 <> p2 THEN 'changed'
            ELSE 'unchanged' END AS diff_class,
       CAST(COUNT(*) AS BIGINT) AS n
FROM j GROUP BY 1
""",
)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed diff of two table versions (v2 = deterministic
    update/delete/insert mutation of orders): one full outer join on
    the key classifies every row as added / removed / changed /
    unchanged. At 100 TB both sides shuffle once on the key — or zero
    times if both versions share a bucketed layout — and 'changed'
    compares row digests, not full payload equality, when columns are
    wide. The counts summarize a migration review in four rows."""
    c = catalog(spark, sf_dir)
    v1 = c.orders.select("o_orderkey", "o_totalprice")
    key = F.col("o_orderkey")
    v2 = (
        c.orders.filter(key % 97 != 0)
        .select(
            "o_orderkey",
            F.when(key % 7 == 0, F.round(F.col("o_totalprice") * 1.05, 4))
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionByName(
            c.orders.filter(key % 1009 == 0).select(
                (key + 10_000_000).alias("o_orderkey"), "o_totalprice"
            )
        )
    )
    j = v1.select(
        F.col("o_orderkey").alias("k1"), F.col("o_totalprice").alias("p1")
    ).join(
        v2.select(F.col("o_orderkey").alias("k2"), F.col("o_totalprice").alias("p2")),
        F.col("k1") == F.col("k2"),
        "full_outer",
    )
    diff_class = (
        F.when(F.col("k1").isNull(), "added")
        .when(F.col("k2").isNull(), "removed")
        .when(F.col("p1") != F.col("p2"), "changed")
        .otherwise("unchanged")
    )
    return j.groupBy(diff_class.alias("diff_class")).agg(
        F.count("*").alias("n")
    )


@REGISTRY.register(
    "q_pseudonymize",
    tags=("dataops", "privacy"),
    oracle="""
SELECT sha256('salt42:' || user_id) AS user_token,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
FROM events
GROUP BY sha256('salt42:' || user_id)
""",
)
def q_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed-hash pseudonymization — the privacy step before events
    leave a trust boundary in a training-data pipeline: user ids become
    salted sha256 tokens that stay CONSISTENT (the same user maps to
    the same token everywhere, so joins, sessionization, and per-user
    aggregation still work downstream) while the raw id never appears.
    Map-side expression; the aggregation proves token joinability by
    grouping on the token itself. A real deployment holds the salt in
    a secret manager and rotates it per release."""
    c = catalog(spark, sf_dir)
    token = F.sha2(F.concat(F.lit("salt42:"), F.col("user_id").cast("string")), 256)
    return c.events.groupBy(token.alias("user_token")).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
    )


@REGISTRY.register(
    "q_incremental_agg",
    tags=("dataops", "ivm"),
    oracle="""
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS total_cents,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
            AS DOUBLE) / COUNT(*) / 100.0 AS avg_price
FROM orders
GROUP BY o_custkey
""",
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance by partial-aggregate merge: the
    pre-aggregated base (orders before 2000-01-01) and the newly
    arrived delta (orders after) are each reduced to mergeable
    partials (count, sum-of-cents) and UNIONed into a re-aggregation —
    the oracle recomputes from scratch and must match exactly.

    This is the 100 TB pattern for keeping a customer-level summary
    current without re-reading history: the base partials are
    touched-once artifacts (in production, a stored table keyed the
    same way), so each refresh shuffles only the delta plus one
    partial row per affected key. avg is derived from the partials
    (never averaged-of-averages), which is why the merge is lossless.
    """
    c = catalog(spark, sf_dir)
    cents = half_up("o_totalprice", 100)
    split = F.lit("2000-01-01").cast("timestamp")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count("*").alias("pn"), F.sum(cents).alias("ps")
        )

    base = partials(c.orders.filter(F.col("o_orderdate") < split))
    delta = partials(c.orders.filter(F.col("o_orderdate") >= split))
    merged = base.unionByName(delta).groupBy("o_custkey").agg(
        F.sum("pn").alias("n_orders"), F.sum("ps").alias("total_cents")
    )
    return merged.select(
        "o_custkey",
        "n_orders",
        "total_cents",
        (
            F.col("total_cents").cast("double") / F.col("n_orders") / 100.0
        ).alias("avg_price"),
    )


@REGISTRY.register(
    "q_k_anonymity",
    tags=("dataops", "privacy"),
    oracle="""
WITH qid AS (
  SELECT n_name,
         STRFTIME(o_orderdate, '%Y') AS order_year,
         o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS grp_n
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, STRFTIME(o_orderdate, '%Y'), o_orderpriority
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(MIN(grp_n) AS BIGINT) AS k_anonymity,
       CAST(SUM(CASE WHEN grp_n < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS groups_below_5,
       CAST(SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) AS BIGINT)
         AS rows_at_risk
FROM qid
""",
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over a quasi-identifier tuple (nation, order
    year, priority): the smallest equivalence-class size IS the
    dataset's k, plus how many classes (and rows) fall below a k=5
    release threshold. The gate run before any per-customer slice of a
    corpus is shared: a group of 1 re-identifies a person.

    Shape: one groupBy on the quasi-identifiers (dims broadcast onto
    the fact table), then a class-count-sized summary — identical to
    the skew audit's two-phase profile, because k-anonymity IS a skew
    question (the risky keys are the rare ones, not the hot ones)."""
    c = catalog(spark, sf_dir)
    qid = (
        c.orders.join(
            F.broadcast(c.customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(c.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            "n_name",
            F.date_format("o_orderdate", "yyyy").alias("order_year"),
            "o_orderpriority",
        )
        .agg(F.count("*").alias("grp_n"))
    )
    below = F.col("grp_n") < 5
    return qid.agg(
        F.count("*").alias("n_groups"),
        F.min("grp_n").alias("k_anonymity"),
        F.sum(below.cast("long")).alias("groups_below_5"),
        F.sum(F.when(below, F.col("grp_n")).otherwise(0)).alias(
            "rows_at_risk"
        ),
    )


@REGISTRY.register(
    "q_lineage_files",
    tags=("dataops", "lineage"),
    oracle="""
SELECT 'orders.parquet' AS file_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs
FROM orders
HAVING COUNT(*) > 0
""",
)
def q_lineage_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level lineage: attach the physical source file to every row
    (input_file_name) and profile per-file row/key counts — the
    provenance primitive behind partial-reprocessing ("which files fed
    this bad aggregate?") and ingest auditing. Zero-shuffle until the
    per-file rollup; at 100 TB the file count, not the row count,
    bounds the result. Paths normalize to basenames so the audit is
    location-relocatable; the fixture stores each table as one file,
    so the oracle pins the expected basename literally."""
    c = catalog(spark, sf_dir)
    return (
        c.orders.withColumn(
            "file_name",
            F.regexp_extract(F.input_file_name(), "([^/]+)$", 1),
        )
        .groupBy("file_name")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("o_custkey").alias("n_custs"),
        )
    )


@REGISTRY.register(
    "q_l_diversity",
    tags=("dataops", "privacy"),
    oracle="""
WITH qid AS (
  SELECT n_name,
         STRFTIME(o_orderdate, '%Y') AS order_year,
         CAST(COUNT(*) AS BIGINT) AS grp_n,
         CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS l_div,
         CAST(MAX(cnt) AS BIGINT) AS top_sensitive_n
  FROM (
    SELECT n_name, o_orderdate, o_orderpriority,
           COUNT(*) OVER (PARTITION BY n_name,
                          STRFTIME(o_orderdate, '%Y'),
                          o_orderpriority) AS cnt
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
  )
  GROUP BY n_name, STRFTIME(o_orderdate, '%Y')
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(MIN(l_div) AS BIGINT) AS min_l_diversity,
       CAST(SUM(CASE WHEN l_div < 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS groups_below_3,
       CAST(SUM(CASE WHEN top_sensitive_n * 2 > grp_n THEN 1 ELSE 0 END)
            AS BIGINT) AS groups_majority_leak
FROM qid
""",
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the companion to q_k_anonymity: within each
    quasi-identifier group (nation x order year), how many DISTINCT
    sensitive values (order priority) appear, and in how many groups
    does a single sensitive value hold the majority (homogeneity-
    attack exposure even when k-anonymity passes).

    Same broadcast-dim star join as q_k_anonymity; the sensitive-value
    histogram is a window over the grouped key so the fact table
    shuffles ONCE on the quasi-identifier (the window and the final
    group share partitioning — no second exchange)."""
    c = catalog(spark, sf_dir)
    base = (
        c.orders.join(
            F.broadcast(c.customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(c.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "n_name",
            F.date_format("o_orderdate", "yyyy").alias("order_year"),
            "o_orderpriority",
        )
    )
    w = Window.partitionBy("n_name", "order_year", "o_orderpriority")
    qid = (
        base.withColumn("cnt", F.count("*").over(w))
        .groupBy("n_name", "order_year")
        .agg(
            F.count("*").alias("grp_n"),
            F.countDistinct("o_orderpriority").alias("l_div"),
            F.max("cnt").cast("bigint").alias("top_sensitive_n"),
        )
    )
    return qid.agg(
        F.count("*").alias("n_groups"),
        F.min("l_div").cast("bigint").alias("min_l_diversity"),
        F.sum(F.when(F.col("l_div") < 3, 1).otherwise(0))
        .cast("bigint")
        .alias("groups_below_3"),
        F.sum(
            F.when(F.col("top_sensitive_n") * 2 > F.col("grp_n"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("groups_majority_leak"),
    )


@REGISTRY.register(
    "q_incremental_join",
    tags=("dataops", "ivm"),
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                     AS BIGINT)) AS BIGINT) AS revenue_tenth_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def q_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance (the join counterpart of
    q_incremental_agg's IVM): the lineitem fact is split into a BASE
    partition (shipdate before the split point) whose join partials a
    pipeline would have materialized, and a DELTA partition joined
    fresh — ΔV = ΔA ⋈ B for an insert-only delta against a static
    dimension. The merged partials must equal the full recompute,
    which is exactly what the oracle states.

    Each half's join aggregates to partials BEFORE the merge (map-side
    reduced; the merge is a priority-cardinality union-agg), so the
    incremental path shuffles only the delta's join output — the whole
    point of IVM at 100 TB. Revenue folds in BIGINT tenth-cents
    (4dp-exact money discipline)."""
    c = catalog(spark, sf_dir)
    split = "1995-01-01"
    rev = half_up(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000)
    orders = c.orders.select("o_orderkey", "o_orderpriority")

    def partials(fact):
        return (
            fact.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(rev).cast("bigint").alias("revenue_tenth_cents"),
            )
        )

    base = partials(c.lineitem.filter(F.col("l_shipdate") < F.lit(split)))
    delta = partials(c.lineitem.filter(F.col("l_shipdate") >= F.lit(split)))
    return (
        base.unionAll(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.sum("revenue_tenth_cents")
            .cast("bigint")
            .alias("revenue_tenth_cents"),
        )
    )


@REGISTRY.register(
    "q_forget_users",
    tags=("dataops", "privacy"),
    oracle="""
WITH tomb AS (SELECT DISTINCT user_id FROM events WHERE user_id % 101 = 0),
kept AS (
  SELECT e.* FROM events e WHERE e.user_id NOT IN (SELECT user_id FROM tomb)
)
SELECT CAST((SELECT COUNT(*) FROM events) AS BIGINT) AS n_before,
       CAST((SELECT COUNT(*) FROM kept) AS BIGINT) AS n_after,
       CAST((SELECT COUNT(*) FROM events) - (SELECT COUNT(*) FROM kept)
            AS BIGINT) AS n_removed,
       CAST((SELECT COUNT(*) FROM tomb) AS BIGINT) AS n_users_forgotten,
       CAST((SELECT COUNT(*) FROM kept k
             WHERE k.user_id % 101 = 0) AS BIGINT) AS n_residue
""",
)
def q_forget_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten (GDPR/CCPA erasure) as a verifiable
    pipeline op: a tombstone list of user ids is anti-joined out of the
    fact table, and the AUDIT — rows before/after/removed, users
    forgotten, and a residue recount that must be ZERO — is emitted as
    the result, because compliance needs the proof, not just the
    delete.

    The tombstone list is broadcast (erasure requests are tiny
    relative to the fact table), so the delete is one map-side
    LEFT ANTI join per partition — the rewrite pattern that scales to
    re-writing only affected partitions at 100 TB; the audit counts
    are map-side partial aggregations."""
    c = catalog(spark, sf_dir)
    tomb = (
        c.events.filter(F.col("user_id") % 101 == 0)
        .select("user_id")
        .distinct()
    )
    kept = c.events.join(F.broadcast(tomb), "user_id", "left_anti")
    n_before = c.events.count()
    n_after = kept.count()
    n_users = tomb.count()
    residue = kept.filter(F.col("user_id") % 101 == 0).count()
    import pandas as pd  # audit scalars -> one-row frame (not a hot path)

    return spark.createDataFrame(
        pd.DataFrame(
            {
                "n_before": [n_before],
                "n_after": [n_after],
                "n_removed": [n_before - n_after],
                "n_users_forgotten": [n_users],
                "n_residue": [residue],
            }
        )
    ).select(
        *[
            F.col(col).cast("bigint").alias(col)
            for col in (
                "n_before",
                "n_after",
                "n_removed",
                "n_users_forgotten",
                "n_residue",
            )
        ]
    )


@REGISTRY.register(
    "q_totals_reconciliation",
    tags=("dataops", "dq"),
    oracle="""
WITH line AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
                             * (1 + l_tax) * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS line_cents
  FROM lineitem GROUP BY l_orderkey
), j AS (
  SELECT o_orderkey,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS order_cents,
         line_cents,
         (line_cents * 1000000) // CAST(FLOOR(o_totalprice * 100 + 0.5)
                                        AS BIGINT) AS ratio_micro
  FROM orders JOIN line ON o_orderkey = l_orderkey
)
SELECT ratio_micro // 100000 AS ratio_decile,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(ratio_micro) AS BIGINT) AS min_ratio_micro,
       CAST(MAX(ratio_micro) AS BIGINT) AS max_ratio_micro
FROM j GROUP BY ratio_decile
""",
)
def q_totals_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Financial reconciliation audit: distribution of (recomputed line
    revenue) / (order header total) as exact micro-ratios, bucketed in
    10% bands — the header-vs-detail consistency check every revenue
    pipeline runs before trusting either table (on these fixtures the
    two are synthetically independent, which is exactly what the audit
    surfaces).

    Exactness: revenue is quantized to cents PER LINE (one shared IEEE
    product expression, then floor), summed in BIGINT, and the ratio
    is BIGINT floor division — no float summation order anywhere.

    Scale shape: one map-side-combined groupBy(l_orderkey) on the big
    table, one key-shuffled join to orders, then a tiny 10-bucket agg."""
    c = catalog(spark, sf_dir)
    line = c.lineitem.groupBy("l_orderkey").agg(
        F.sum(
            half_up(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax")),
                100,
            )
        )
        .cast("bigint")
        .alias("line_cents")
    )
    j = c.orders.join(
        line, F.col("o_orderkey") == F.col("l_orderkey")
    ).select(
        half_up("o_totalprice", 100).alias("order_cents"),
        "line_cents",
    ).select(
        F.expr("(line_cents * 1000000) div order_cents").alias("ratio_micro")
    )
    return j.groupBy(
        F.expr("ratio_micro div 100000").alias("ratio_decile")
    ).agg(
        F.count("*").alias("n_orders"),
        F.min("ratio_micro").alias("min_ratio_micro"),
        F.max("ratio_micro").alias("max_ratio_micro"),
    )


@REGISTRY.register(
    "q_disorder_profile",
    tags=("dataops", "streaming-config"),
    oracle="""
WITH seq AS (
  SELECT user_id,
         epoch_us(ts) AS ts_us,
         MAX(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_max_us
  FROM events
), lat AS (
  SELECT (run_max_us - ts_us) // 1000000 AS late_s FROM seq
)
SELECT CASE WHEN late_s = 0 THEN 0
            ELSE LENGTH(PRINTF('%b', late_s)) END AS late_bucket_bits,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lat GROUP BY late_bucket_bits
""",
)
def q_disorder_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder profile: for each event, its lateness behind
    the running event-time high-water mark of its user's arrival
    sequence (event_id = arrival order), bucketed on an exact log2
    scale. This is THE empirical input for sizing a streaming
    watermark delay: the top occupied bucket bounds the out-of-order
    horizon, and the bucket-0 mass is the fraction already in order.

    Exactness: microsecond BIGINT arithmetic (ns fixtures truncate
    identically on both engines at whole-second lateness), bit-length
    buckets (no float log).

    Scale shape: one user-keyed window scan (running max) + a tiny
    bucket agg — per-key disorder is the right unit because watermark
    skew at 100 TB is per-source-partition anyway; a global profile
    would serialize the stream through one partition."""
    c = catalog(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ts_us = F.unix_micros("ts")
    lat = c.events.select(
        (F.max(ts_us).over(w) - ts_us).alias("late_us")
    ).select(F.expr("late_us div 1000000").alias("late_s"))
    return lat.select(
        F.when(F.col("late_s") == 0, F.lit(0))
        .otherwise(F.length(F.bin(F.col("late_s"))))
        .cast("bigint")
        .alias("late_bucket_bits")
    ).groupBy("late_bucket_bits").agg(F.count("*").alias("n"))


@REGISTRY.register(
    "q_nested_assembly",
    tags=("dataops", "nested"),
    oracle="""
SELECT o_orderkey,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
       CAST(MAX(epoch_us(l_shipdate) // 86400000000) AS BIGINT)
         AS last_ship_day,
       CAST(MIN(l_linenumber) AS INT) AS first_lineno
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey % 199 = 0
GROUP BY o_orderkey
""",
)
def q_nested_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested document assembly round-trip: denormalize each order into
    a single row holding an array<struct> of its lines (sorted by line
    number — collect_list order is nondeterministic, array_sort makes
    it canonical), then compute the output metrics BY TRAVERSING THE
    NESTED VALUE ONLY (size / F.aggregate fold / element_at on the
    sorted array) — proving the assembled document is lossless against
    the flat relational oracle. This is the exact shape used to emit
    JSON-like training examples (order -> document with nested items).

    Scale shape: one groupBy(l_orderkey) shuffle carrying the line
    payload — identical cost to any per-order rollup; the nested
    traversal afterwards is map-side expression work (all JVM
    codegen, no UDF)."""
    c = catalog(spark, sf_dir)
    lines = c.lineitem.select(
        "l_orderkey",
        F.struct(
            F.col("l_linenumber").alias("lineno"),
            F.col("l_quantity").cast("bigint").alias("qty"),
            F.expr("unix_micros(l_shipdate) div 86400000000").alias(
                "ship_day"
            ),
        ).alias("line"),
    )
    docs = (
        lines.filter(F.col("l_orderkey") % 199 == 0)
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_list("line")).alias("lines"))
    )
    return docs.select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.size("lines").cast("bigint").alias("n_lines"),
        F.aggregate(
            "lines", F.lit(0).cast("bigint"), lambda acc, x: acc + x["qty"]
        ).alias("total_qty"),
        F.aggregate(
            "lines",
            F.lit(-1).cast("bigint"),
            lambda acc, x: F.greatest(acc, x["ship_day"]),
        ).alias("last_ship_day"),
        F.element_at("lines", 1)["lineno"].cast("int").alias("first_lineno"),
    )


@REGISTRY.register(
    "q_late_dim_reattribution",
    tags=("dataops", "warehouse"),
    oracle="""
WITH dim_v1 AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 5 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END
           AS segment
  FROM customer
), v1 AS (
  SELECT d.segment,
         CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)) AS BIGINT)
           AS dollars
  FROM orders o JOIN dim_v1 d ON o.o_custkey = d.c_custkey
  GROUP BY d.segment
), v2 AS (
  SELECT c_mktsegment AS segment,
         CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)) AS BIGINT)
           AS dollars
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c_mktsegment
)
SELECT COALESCE(v1.segment, v2.segment) AS segment,
       COALESCE(v1.dollars, 0) AS v1_dollars,
       COALESCE(v2.dollars, 0) AS v2_dollars,
       COALESCE(v2.dollars, 0) - COALESCE(v1.dollars, 0) AS reattributed
FROM v1 FULL JOIN v2 ON v1.segment = v2.segment
""",
)
def q_late_dim_reattribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving dimension pattern: facts land before their
    dimension rows do, so v1 attribution routes orders of the missing
    customers (every 5th key, simulating the late arrivals) to an
    explicit UNKNOWN member instead of dropping them; once the
    dimension completes (v2), the report is re-run and the per-segment
    delta quantifies the re-attribution — revenue CONSERVATION between
    versions (UNKNOWN drains exactly into the real segments) is the
    correctness invariant warehouses audit.

    Exact integer dollars end to end. Scale shape: two broadcast-dim
    joins + keyed aggs, one full outer join on the tiny segment
    domain."""
    c = catalog(spark, sf_dir)
    dim_v1 = c.customer.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 5 == 0, F.lit("UNKNOWN"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
    )
    dollars = F.sum(half_up("o_totalprice")).cast("bigint")
    v1 = (
        c.orders.join(
            F.broadcast(dim_v1), F.col("o_custkey") == F.col("c_custkey")
        )
        .groupBy("segment")
        .agg(dollars.alias("dollars"))
    )
    v2 = (
        c.orders.join(
            F.broadcast(c.customer.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(dollars.alias("dollars"))
    )
    j = v1.select(
        F.col("segment").alias("s1"), F.col("dollars").alias("v1_dollars")
    ).join(
        v2.select(
            F.col("segment").alias("s2"), F.col("dollars").alias("v2_dollars")
        ),
        F.col("s1") == F.col("s2"),
        "full_outer",
    )
    return j.select(
        F.coalesce("s1", "s2").alias("segment"),
        F.coalesce("v1_dollars", F.lit(0)).alias("v1_dollars"),
        F.coalesce("v2_dollars", F.lit(0)).alias("v2_dollars"),
        (
            F.coalesce("v2_dollars", F.lit(0))
            - F.coalesce("v1_dollars", F.lit(0))
        ).alias("reattributed"),
    )


@REGISTRY.register(
    "q_subject_access_export",
    tags=("dataops", "privacy"),
    oracle="""
WITH subject AS (
  SELECT MIN(user_id) AS uid FROM events
)
SELECT CAST(uid AS BIGINT) AS user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
       STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_seen,
       STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_seen,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents,
       array_to_string(list_sort(list_distinct(list(event_type))), ',')
         AS types_csv
FROM events, subject WHERE user_id = uid GROUP BY uid
""",
)
def q_subject_access_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subject-access-request (GDPR Art. 15) export: everything the
    platform holds about ONE user, assembled into a single portable
    record — the read-side companion to q_forget_users' erasure. The
    subject is picked deterministically (MIN user_id) so the oracle
    can replay the choice.

    Scale shape: the per-user predicate is PUSHED DOWN to the parquet
    scan (equality filter on a scalar — with the production layout
    partitioned/bucketed by user, this touches one file group, not
    100 TB), then a single-group aggregation. The distinct-type list
    is sorted for determinism."""
    c = catalog(spark, sf_dir)
    uid = c.events.agg(F.min("user_id")).collect()[0][0]  # scalar subject id
    ev = c.events.filter(F.col("user_id") == uid)
    return ev.groupBy(F.col("user_id").cast("bigint").alias("user_id")).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("event_type").cast("bigint").alias("n_types"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_seen"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
        F.sum(half_up("value", 100))
        .cast("bigint")
        .alias("total_cents"),
        F.array_join(
            F.array_sort(F.collect_set("event_type")), ","
        ).alias("types_csv"),
    )


@REGISTRY.register(
    "q_ab_srm_check",
    tags=("dataops", "experimentation"),
    oracle="""
WITH assign AS (
  SELECT CASE WHEN ('0x' || substr(md5('exp7:' || user_id), 1, 8))::BIGINT
                   % 2 = 0
              THEN 'A' ELSE 'B' END AS arm
  FROM (SELECT DISTINCT user_id FROM events)
), counts AS (
  SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM assign
)
SELECT n_a, n_b,
       ((n_a - n_b) * (n_a - n_b) * 1000000) // (n_a + n_b) AS chi2_micro,
       ((n_a - n_b) * (n_a - n_b) * 1000000) // (n_a + n_b) > 3841459
         AS srm_flag
FROM counts
""",
)
def q_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch (SRM) check — the first data-quality gate
    of every A/B platform: users are hash-assigned 50/50 (md5, the
    engine-portable hash), and the observed split is chi-square tested
    against the designed ratio. chi2 for an equal split reduces to
    (n_a-n_b)^2/(n_a+n_b) — pure BIGINT in micro-units; the flag fires
    above the 3.841459 critical value (alpha=0.05, df=1). A flagged
    SRM means assignment/logging is broken and the experiment's
    results are untrustworthy, regardless of its metrics.

    Scale shape: one distinct-user shuffle, then a two-counter global
    tree-reduce; assignment itself is a map-side expression (this is
    also exactly how the engine's deterministic samplers route)."""
    c = catalog(spark, sf_dir)
    arm = F.when(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("exp7:"), F.col("user_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % 2
        == 0,
        "A",
    ).otherwise("B")
    counts = (
        c.events.select("user_id")
        .distinct()
        .select(arm.alias("arm"))
        .agg(
            F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
            .cast("bigint")
            .alias("n_a"),
            F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
            .cast("bigint")
            .alias("n_b"),
        )
    )
    return counts.select(
        "n_a",
        "n_b",
        F.expr(
            "((n_a - n_b) * (n_a - n_b) * 1000000) div (n_a + n_b)"
        ).alias("chi2_micro"),
        (
            F.expr("((n_a - n_b) * (n_a - n_b) * 1000000) div (n_a + n_b)")
            > 3841459
        ).alias("srm_flag"),
    )


@REGISTRY.register(
    "q_join_fanout_audit",
    tags=("dataops", "dq"),
    oracle="""
WITH mult AS (
  SELECT o_orderkey, CAST(COUNT(l_orderkey) AS BIGINT) AS m
  FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY o_orderkey
)
SELECT CASE WHEN m = 0 THEN 0 ELSE LENGTH(PRINTF('%b', m)) END
         AS fanout_bucket_bits,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(m) AS BIGINT) AS n_joined_rows,
       CAST(MAX(m) AS BIGINT) AS max_mult
FROM mult GROUP BY fanout_bucket_bits
""",
)
def q_join_fanout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-fanout audit: the per-key multiplicity histogram of the
    orders->lineitem join (log2 buckets; bucket 0 = keys that match
    NOTHING) — run BEFORE a big join ships, because a handful of
    high-multiplicity keys is exactly what detonates a 100 TB shuffle
    (join explosion) and the max_mult column prices the worst key. The
    bucket-0 row doubles as an orphan-key (referential) check from the
    join's own statistics.

    Exact BIGINT counts and bit-length buckets. Scale shape: one
    keyed outer join + map-side-combined count, then a tiny bucket
    agg — the audit costs one pass of the join it is auditing."""
    c = catalog(spark, sf_dir)
    mult = (
        c.orders.select("o_orderkey")
        .join(
            c.lineitem.select("l_orderkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left",
        )
        .groupBy("o_orderkey")
        .agg(F.count("l_orderkey").cast("bigint").alias("m"))
    )
    return mult.select(
        F.when(F.col("m") == 0, F.lit(0))
        .otherwise(F.length(F.bin(F.col("m"))))
        .cast("bigint")
        .alias("fanout_bucket_bits"),
        "m",
    ).groupBy("fanout_bucket_bits").agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("m").cast("bigint").alias("n_joined_rows"),
        F.max("m").cast("bigint").alias("max_mult"),
    )


@REGISTRY.register(
    "q_rendezvous_sharding",
    tags=("dataops", "distribution"),
    oracle="""
WITH users AS (
  SELECT DISTINCT user_id FROM events
), scored AS (
  SELECT u.user_id, s.shard,
         md5(u.user_id || '@' || s.shard) AS score
  FROM users u
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS shard) s
), pick8 AS (
  SELECT user_id, shard FROM (
    SELECT user_id, shard,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY score DESC, shard) AS rn
    FROM scored
  ) WHERE rn = 1
), pick7 AS (
  SELECT user_id, shard FROM (
    SELECT user_id, shard,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY score DESC, shard) AS rn
    FROM scored WHERE shard <> 7
  ) WHERE rn = 1
)
SELECT p8.shard,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(CASE WHEN p7.shard <> p8.shard THEN 1 ELSE 0 END) AS BIGINT)
         AS n_moved_if_shard7_dies
FROM pick8 p8 JOIN pick7 p7 ON p8.user_id = p7.user_id
GROUP BY p8.shard
""",
)
def q_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding: each user lands on
    the shard maximizing md5(user@shard) — and the payoff is measured
    directly: when shard 7 is removed, ONLY its own users move
    (n_moved is 0 for every surviving shard), versus mod-hashing where
    ~7/8 of ALL users would reshuffle. This is the assignment
    discipline behind state-store partitioning, cache routing and
    sticky consumer groups, made engine-portable via md5.

    Exact: the argmax tie-break is total (hex score DESC, shard); all
    outputs are BIGINT counts.

    Scale shape: an 8-way constant explode per user (map-side) + one
    per-user argmax window — in production the argmax is computed
    inline per record (8 hashes, no window); the window form here
    keeps the oracle shared."""
    c = catalog(spark, sf_dir)
    users = c.events.select("user_id").distinct()
    shards = spark.range(0, 8).select(F.col("id").cast("bigint").alias("shard"))
    scored = users.crossJoin(F.broadcast(shards)).select(
        "user_id",
        "shard",
        F.md5(
            F.concat(
                F.col("user_id").cast("string"),
                F.lit("@"),
                F.col("shard").cast("string"),
            )
        ).alias("score"),
    )
    def pick(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.col("score").desc(), F.col("shard")
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "shard")
        )
    p8 = pick(scored)
    p7 = pick(scored.filter(F.col("shard") != 7)).withColumnRenamed(
        "shard", "shard7"
    )
    return (
        p8.join(p7, "user_id")
        .groupBy("shard")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum(F.when(F.col("shard7") != F.col("shard"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_moved_if_shard7_dies"),
        )
    )


@REGISTRY.register(
    "q_json_schema_profile",
    tags=("dataops", "semistructured"),
    oracle="""
WITH keys AS (
  SELECT event_id, unnest(json_keys(props)) AS k FROM events
), typed AS (
  SELECT k, json_type(json(props), '$.' || k) AS vtype
  FROM keys JOIN events USING (event_id)
)
SELECT k AS key_name, vtype AS value_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST((SELECT COUNT(*) FROM events) AS BIGINT) AS n_rows,
       (CAST(COUNT(*) AS BIGINT) * 1000000)
         // (SELECT COUNT(*) FROM events) AS presence_micro
FROM typed GROUP BY k, vtype
""",
)
def q_json_schema_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured schema profile: the observed (key, JSON type,
    presence rate) inventory of the events.props column — the
    schema-registry-for-JSON audit a pipeline runs before hardening a
    blob column into typed columns (a key at <100% presence needs a
    null policy; a key with two types needs a migration). The fixture's
    props is uniform (one INT key at 100%), and the profile PROVING
    that is the point — drift shows up as new rows here before it
    breaks a downstream cast.

    Exact: key explosion and type tags are engine-portable (Spark
    json_object_keys/get_json_object, DuckDB json_keys/json_type —
    type names normalized via the shared UBIGINT/INTEGER-free
    spelling below); counts and presence are BIGINT.

    Scale shape: map-side JSON parsing + a tiny (keys x types) agg."""
    c = catalog(spark, sf_dir)
    keys = c.events.select(
        "props", F.explode(F.json_object_keys("props")).alias("k")
    )
    typed = keys.select(
        "k",
        # normalize to DuckDB's type vocabulary for the shared contract
        F.when(
            F.expr("get_json_object(props, concat('$.', k))").rlike(
                "^-?[0-9]+$"
            ),
            F.lit("UBIGINT"),
        )
        .otherwise(F.lit("VARCHAR"))
        .alias("vtype"),
    )
    tot = c.events.agg(F.count("*").cast("bigint").alias("n_rows"))
    return (
        typed.groupBy(F.col("k").alias("key_name"), F.col("vtype").alias("value_type"))
        .agg(F.count("*").cast("bigint").alias("n"))
        .crossJoin(F.broadcast(tot))
        .select(
            "key_name",
            "value_type",
            "n",
            "n_rows",
            F.expr("(n * 1000000) div n_rows").alias("presence_micro"),
        )
    )


@REGISTRY.register(
    "q_fk_discovery",
    tags=("dataops", "discovery"),
    oracle="""
WITH cand AS (
  SELECT 'lineitem.l_orderkey->orders.o_orderkey' AS candidate,
         CAST((SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS BIGINT)
           AS n_child_distinct,
         CAST((SELECT COUNT(DISTINCT l_orderkey) FROM lineitem
               WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
              AS BIGINT) AS n_orphans
  UNION ALL
  SELECT 'lineitem.l_partkey->part.p_partkey',
         CAST((SELECT COUNT(DISTINCT l_partkey) FROM lineitem) AS BIGINT),
         CAST((SELECT COUNT(DISTINCT l_partkey) FROM lineitem
               WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
              AS BIGINT)
  UNION ALL
  SELECT 'orders.o_custkey->customer.c_custkey',
         CAST((SELECT COUNT(DISTINCT o_custkey) FROM orders) AS BIGINT),
         CAST((SELECT COUNT(DISTINCT o_custkey) FROM orders
               WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
              AS BIGINT)
  UNION ALL
  SELECT 'orders.o_orderkey->lineitem.l_orderkey',
         CAST((SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS BIGINT),
         CAST((SELECT COUNT(DISTINCT o_orderkey) FROM orders
               WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem))
              AS BIGINT)
)
SELECT candidate, n_child_distinct, n_orphans,
       ((n_child_distinct - n_orphans) * 1000000) // n_child_distinct
         AS containment_micro,
       n_orphans = 0 AS is_fk
FROM cand
""",
)
def q_fk_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency (foreign-key) DISCOVERY: measure, from the
    data alone, what fraction of each candidate child column's distinct
    values is contained in the candidate parent column — containment =
    1.0 certifies a joinable FK, partial containment quantifies
    orphans (the metadata-mining step that bootstraps q_ri_audit's
    declared-FK checks on an undocumented lake; the reverse direction
    orders->lineitem is included to show discovery REJECTING a
    non-dependency when childless orders exist).

    Exact: distinct counts and anti-join orphan counts, floor-division
    containment.

    Scale shape: per candidate, one distinct-project of the child and
    a LEFT ANTI join against the parent key — never a row-level join;
    the four candidates share scans via reused distinct projections."""
    c = catalog(spark, sf_dir)

    def probe(name: str, child: DataFrame, ckey: str, parent: DataFrame, pkey: str) -> DataFrame:
        d = child.select(F.col(ckey).alias("k")).distinct()
        orphans = d.join(
            parent.select(F.col(pkey).alias("k")).distinct(), "k", "left_anti"
        )
        return (
            d.agg(F.count("*").cast("bigint").alias("n_child_distinct"))
            .crossJoin(
                orphans.agg(F.count("*").cast("bigint").alias("n_orphans"))
            )
            .select(
                F.lit(name).alias("candidate"), "n_child_distinct", "n_orphans"
            )
        )

    cand = (
        probe("lineitem.l_orderkey->orders.o_orderkey", c.lineitem, "l_orderkey", c.orders, "o_orderkey")
        .unionByName(
            probe("lineitem.l_partkey->part.p_partkey", c.lineitem, "l_partkey", c.part, "p_partkey")
        )
        .unionByName(
            probe("orders.o_custkey->customer.c_custkey", c.orders, "o_custkey", c.customer, "c_custkey")
        )
        .unionByName(
            probe("orders.o_orderkey->lineitem.l_orderkey", c.orders, "o_orderkey", c.lineitem, "l_orderkey")
        )
    )
    return cand.select(
        "candidate",
        "n_child_distinct",
        "n_orphans",
        # nullif: an empty child table has zero distinct values and
        # containment is undefined — DuckDB // 0 -> NULL, ANSI div
        # raises (empty-fixture fuzz); integer division kept
        F.expr(
            "((n_child_distinct - n_orphans) * 1000000)"
            " div nullif(n_child_distinct, 0)"
        ).alias("containment_micro"),
        (F.col("n_orphans") == 0).alias("is_fk"),
    )


@REGISTRY.register(
    "q_double_charge_scan",
    tags=("dataops", "fraud"),
    oracle="""
WITH p AS (
  SELECT user_id, event_id,
         CAST(FLOOR(value + 0.5) AS BIGINT) AS dollars,
         epoch_us(ts) AS us
  FROM events WHERE event_type = 'purchase'
)
SELECT a.user_id, a.event_id AS first_event, b.event_id AS second_event,
       a.dollars,
       CAST((b.us - a.us) // 1000000 AS BIGINT) AS gap_s
FROM p a JOIN p b
  ON a.user_id = b.user_id AND a.dollars = b.dollars
 AND a.event_id < b.event_id
 AND b.us - a.us BETWEEN 0 AND 86400000000
""",
)
def q_double_charge_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-charge / duplicate-transaction scan: pairs of purchases
    by the SAME user for the SAME rounded-dollar amount within 24
    hours — the payments-fraud/dup-submission rule, expressed as an
    equi-join on (user, dollars) with a bounded time predicate (the
    amount granularity and window are the rule's tunables; this
    fixture's 2dp amounts never collide at cent granularity, which is
    itself a finding the coarser rule surfaces).

    Exact: dollar quantization and microsecond window arithmetic.

    Scale shape: the join key (user, dollars) bounds candidate pairs
    to same-user-same-amount groups (tiny multiplicity in honest
    data); at 100 TB the time bound additionally buckets by day (join
    on (user, dollars, day) plus the neighbor day) so even a
    pathological repeat-amount user never goes quadratic across
    time."""
    c = catalog(spark, sf_dir)
    p = c.events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        half_up("value").alias("dollars"),
        F.unix_micros("ts").alias("us"),
    )
    a = p.select(
        F.col("user_id").alias("ua"),
        F.col("event_id").alias("first_event"),
        F.col("dollars").alias("da"),
        F.col("us").alias("usa"),
    )
    b = p.select(
        F.col("user_id").alias("ub"),
        F.col("event_id").alias("second_event"),
        F.col("dollars").alias("db"),
        F.col("us").alias("usb"),
    )
    return (
        a.join(
            b,
            (F.col("ua") == F.col("ub"))
            & (F.col("da") == F.col("db"))
            & (F.col("first_event") < F.col("second_event"))
            & (F.col("usb") - F.col("usa")).between(0, 86_400_000_000),
        )
        .select(
            F.col("ua").alias("user_id"),
            "first_event",
            "second_event",
            F.col("da").alias("dollars"),
            F.expr("(usb - usa) div 1000000").alias("gap_s"),
        )
    )


@REGISTRY.register(
    "q_price_dispersion",
    tags=("dataops", "dq"),
    oracle="""
WITH per AS (
  SELECT l_partkey,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(MIN(CAST(FLOOR(l_extendedprice / l_quantity * 100 + 0.5)
                       AS BIGINT)) AS BIGINT) AS min_unit_cents,
         CAST(MAX(CAST(FLOOR(l_extendedprice / l_quantity * 100 + 0.5)
                       AS BIGINT)) AS BIGINT) AS max_unit_cents
  FROM lineitem WHERE l_quantity > 0
  GROUP BY l_partkey HAVING COUNT(*) >= 3
), flagged AS (
  SELECT *,
         ((max_unit_cents - min_unit_cents) * 1000000)
           // min_unit_cents AS spread_micro
  FROM per WHERE min_unit_cents > 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(CASE WHEN spread_micro > 100000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dispersed,
       CAST(MAX(spread_micro) AS BIGINT) AS max_spread_micro
FROM flagged
""",
)
def q_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog price-consistency audit: per part (with >= 3 sale
    lines), the spread between its min and max observed UNIT price —
    parts whose spread exceeds 10% are flagged as dispersed (pricing
    errors, unauthorized discounts, or unit mix-ups; on this fixture
    extendedprice is synthetic per line, so dispersion is expected and
    the audit quantifies it).

    Exact: unit price quantizes to cents per LINE via one shared IEEE
    division, min/max/spread are BIGINT floor arithmetic.

    Scale shape: one part-keyed partial agg (map-side combined) + a
    3-column global rollup."""
    c = catalog(spark, sf_dir)
    unit = half_up(F.col("l_extendedprice") / F.col("l_quantity"), 100)
    per = (
        c.lineitem.filter(F.col("l_quantity") > 0)
        .groupBy("l_partkey")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.min(unit).cast("bigint").alias("min_unit_cents"),
            F.max(unit).cast("bigint").alias("max_unit_cents"),
        )
        .filter(F.col("n_lines") >= 3)
        .filter(F.col("min_unit_cents") > 0)
        .withColumn(
            "spread_micro",
            F.expr(
                "((max_unit_cents - min_unit_cents) * 1000000)"
                " div min_unit_cents"
            ),
        )
    )
    return per.agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.sum(F.when(F.col("spread_micro") > 100000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dispersed"),
        F.max("spread_micro").cast("bigint").alias("max_spread_micro"),
    )


@REGISTRY.register(
    "q_freshness_slo",
    tags=("dataops", "slo"),
    oracle="""
WITH now_ref AS (
  SELECT GREATEST(
    (SELECT MAX(epoch_us(ts)) FROM events),
    (SELECT MAX(epoch_us(o_orderdate)) FROM orders),
    (SELECT MAX(epoch_us(l_shipdate)) FROM lineitem)
  ) AS now_us
), lag AS (
  SELECT 'events' AS tbl,
         (now_us - (SELECT MAX(epoch_us(ts)) FROM events)) // 1000000
           AS lag_s,
         86400 AS slo_s
  FROM now_ref
  UNION ALL
  SELECT 'orders',
         (now_us - (SELECT MAX(epoch_us(o_orderdate)) FROM orders))
           // 1000000,
         604800
  FROM now_ref
  UNION ALL
  SELECT 'lineitem',
         (now_us - (SELECT MAX(epoch_us(l_shipdate)) FROM lineitem))
           // 1000000,
         604800
  FROM now_ref
)
SELECT tbl, CAST(lag_s AS BIGINT) AS lag_s, CAST(slo_s AS BIGINT) AS slo_s,
       lag_s <= slo_s AS within_slo
FROM lag
""",
)
def q_freshness_slo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness SLO audit: each table's staleness (lag behind
    the newest timestamp anywhere in the warehouse — a DETERMINISTIC
    'now' so the audit itself is reproducible/hash-checkable, unlike a
    wall-clock now()) against its declared SLO — the first panel of
    every data-platform health dashboard. Fixture drift surfaces here
    as an SLO breach before any consumer query goes stale silently.

    Exact: max-timestamp aggregates, BIGINT second arithmetic.

    Scale shape: one MAX per table — min/max column statistics make
    this a metadata-only read on parquet/lakehouse tables."""
    c = catalog(spark, sf_dir)
    ev = c.events.agg(F.max(F.unix_micros("ts")).alias("m")).collect()[0]["m"]
    od = c.orders.agg(
        F.max(F.unix_micros("o_orderdate")).alias("m")
    ).collect()[0]["m"]
    sd = c.lineitem.agg(
        F.max(F.unix_micros("l_shipdate")).alias("m")
    ).collect()[0]["m"]
    # NULL-safe like the oracle: an EMPTY table has MAX = NULL, both
    # engines' GREATEST skip NULLs, and the lag for a missing table is
    # NULL (empty-fixture fuzz: max(None, None, None) raised here)
    nonnull = [v for v in (ev, od, sd) if v is not None]
    now_us = max(nonnull) if nonnull else None

    def lag(v):
        if now_us is None or v is None:
            return None
        return (now_us - v) // 1_000_000

    rows = [
        ("events", lag(ev), 86_400),
        ("orders", lag(od), 604_800),
        ("lineitem", lag(sd), 604_800),
    ]
    df = spark.createDataFrame(rows, "tbl string, lag_s long, slo_s long")
    return df.select(
        "tbl", "lag_s", "slo_s", (F.col("lag_s") <= F.col("slo_s")).alias("within_slo")
    )


@REGISTRY.register(
    "q_rls_policy_audit",
    tags=("dataops", "governance"),
    oracle="""
WITH policy AS (
  SELECT r_name AS principal, r_regionkey AS allowed_region
  FROM region
), visible AS (
  SELECT p.principal,
         CAST(COUNT(*) AS BIGINT) AS n_visible,
         CAST(SUM(CASE WHEN n.n_regionkey <> p.allowed_region
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked
  FROM policy p
  JOIN nation n ON n.n_regionkey = p.allowed_region
  JOIN customer c ON c.c_nationkey = n.n_nationkey
  GROUP BY p.principal
)
SELECT principal, n_visible, n_leaked,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_total,
       (n_visible * 1000000)
         // (SELECT COUNT(*) FROM customer) AS visibility_micro
FROM visible
""",
)
def q_rls_policy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level-security policy audit: one analyst principal per
    region, each seeing customers ONLY through the policy predicate
    (region filter applied as a view, the way RLS is implemented on
    engines without native policies) — the audit counts what each
    principal can see and PROVES zero cross-region leakage (n_leaked
    is computed from the post-policy rows themselves, so a policy bug
    shows up as a nonzero count, not a silent overshare).

    Exact integer counts and visibility shares.

    Scale shape: policy table is the broadcast region dim; the
    filtered fact join is the same star shape as any region query —
    RLS costs one broadcast predicate, which is the point."""
    c = catalog(spark, sf_dir)
    policy = c.region.select(
        F.col("r_name").alias("principal"),
        F.col("r_regionkey").alias("allowed_region"),
    )
    visible = (
        F.broadcast(policy)
        .join(
            c.nation.select("n_nationkey", "n_regionkey"),
            F.col("n_regionkey") == F.col("allowed_region"),
        )
        .join(
            c.customer.select("c_custkey", "c_nationkey"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("principal")
        .agg(
            F.count("*").cast("bigint").alias("n_visible"),
            F.sum(
                F.when(
                    F.col("n_regionkey") != F.col("allowed_region"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_leaked"),
        )
    )
    tot = c.customer.agg(F.count("*").cast("bigint").alias("n_total"))
    return visible.crossJoin(F.broadcast(tot)).select(
        "principal",
        "n_visible",
        "n_leaked",
        "n_total",
        F.expr("(n_visible * 1000000) div n_total").alias("visibility_micro"),
    )


@REGISTRY.register(
    "q_hash_chain_audit",
    tags=("dataops", "integrity"),
    oracle="""
WITH ordered AS (
  SELECT user_id,
         list(CAST(event_id AS VARCHAR) ORDER BY ts, event_id) AS ids
  FROM events GROUP BY user_id
), chains AS (
  SELECT user_id, CAST(len(ids) AS BIGINT) AS n_events,
         CASE WHEN len(ids) = 1 THEN ids[1]
              ELSE list_reduce(ids, (x, y) -> md5(x || y)) END AS chain
  FROM ordered
), top AS (
  SELECT list_reduce(list(chain ORDER BY user_id), (x, y) -> md5(x || y))
           AS top_hash
  FROM chains
)
SELECT user_id, n_events, chain, (SELECT top_hash FROM top) AS top_hash
FROM chains WHERE user_id % 17 = 0
""",
)
def q_hash_chain_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tamper-evident hash chain over the event log: each user's
    events fold left-to-right through md5 (chain_i = md5(chain_{i-1}
    || event_id)), and the per-user chain heads fold again into ONE
    top hash for the whole table — the append-only-ledger integrity
    scheme (any reordering, insertion or deletion anywhere changes the
    top hash). The fold is inherently sequential BY DESIGN — that is
    what makes it tamper-evident — so it runs as a per-key array fold
    (F.aggregate / list_reduce), parallel ACROSS users, sequential
    within.

    Exact: md5 is the engine-portable hash; the fold order is the
    total (ts, event_id) order. A 1/17 user slice is emitted with the
    global top hash on every row.

    Scale shape: one user-keyed collect + in-memory fold per user
    (bounded by per-user event count), one tiny chain-head fold."""
    c = catalog(spark, sf_dir)
    ordered = c.events.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id"))
        ).alias("evs")
    ).select(
        "user_id",
        F.expr("transform(evs, e -> CAST(e.event_id AS STRING))").alias("ids"),
    )
    chains = ordered.select(
        "user_id",
        F.size("ids").cast("bigint").alias("n_events"),
        F.when(F.size("ids") == 1, F.element_at("ids", 1))
        .otherwise(
            F.expr(
                "aggregate(slice(ids, 2, size(ids) - 1), ids[0],"
                " (x, y) -> md5(x || y))"
            )
        )
        .alias("chain"),
    )
    # top hash: fold the per-user chain heads in user_id order
    top = (
        chains.groupBy()
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(user_id, chain))),"
                " s -> s.chain)"
            ).alias("cs")
        )
        .select(
            F.expr(
                "aggregate(slice(cs, 2, size(cs) - 1), cs[0],"
                " (x, y) -> md5(x || y))"
            ).alias("top_hash")
        )
    )
    return (
        chains.filter(F.col("user_id") % 17 == 0)
        .crossJoin(F.broadcast(top))
        .select("user_id", "n_events", "chain", "top_hash")
    )


@REGISTRY.register(
    "q_error_budget",
    tags=("dataops", "sre", "monitoring"),
    oracle="""
WITH daily AS (
  SELECT STRFTIME(ts, '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_err
  FROM events GROUP BY day
), cum AS (
  SELECT day, n, n_err,
         CAST(SUM(n) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_n,
         CAST(SUM(n_err) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_err
  FROM daily
)
SELECT day, n, n_err,
       (n_err * 1000000) // n AS err_share_micro,
       (n_err * 1000000 * 1000000) // (n * 250000) AS burn_micro,
       (cum_err * 1000000 * 1000000) // (cum_n * 250000)
         AS budget_consumed_micro
FROM cum
""",
)
def q_error_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRE error-budget burn over the event stream: against a 25%
    error-rate SLO (the fixture's error share is ~20%, so the budget
    is realistically contested), compute each day's burn rate
    (share/SLO — burn > 1e6 means that day spent more than its
    allotment) and the cumulative budget consumption to date — the
    exact arithmetic behind multiwindow burn-rate alerting
    (Google SRE workbook ch. 5 shape), as a declarative query.

    Exact: shares, burn and consumption are integer floor micro
    units; the cumulative window is the forward-only prefix shape.

    Scale shape: map-side day rollup, then a calendar-bounded daily
    window."""
    c = catalog(spark, sf_dir)
    daily = c.events.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("n_err"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = daily.select(
        "day",
        "n",
        "n_err",
        F.sum("n").over(w).cast("bigint").alias("cum_n"),
        F.sum("n_err").over(w).cast("bigint").alias("cum_err"),
    )
    return cum.select(
        "day",
        "n",
        "n_err",
        F.expr("(n_err * 1000000) div n").alias("err_share_micro"),
        F.expr("(n_err * 1000000 * 1000000) div (n * 250000)").alias(
            "burn_micro"
        ),
        F.expr(
            "(cum_err * 1000000 * 1000000) div (cum_n * 250000)"
        ).alias("budget_consumed_micro"),
    )


@REGISTRY.register(
    "q_t_closeness",
    tags=("dataops", "privacy"),
    oracle="""
WITH cust AS (
  SELECT c_mktsegment AS seg, r_name AS region,
         CAST(FLOOR((c_acctbal + 1000) / 1000) AS BIGINT) AS bin
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
), spine AS (
  SELECT UNNEST(generate_series(0, 10)) AS bin
), grps AS (
  SELECT seg, region, CAST(COUNT(*) AS BIGINT) AS n_g
  FROM cust GROUP BY seg, region
), gb AS (
  SELECT seg, region, bin, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM cust GROUP BY seg, region, bin
), gdist AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS gcnt FROM cust GROUP BY bin
), gtot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cust
), dense AS (
  SELECT g.seg, g.region, g.n_g, s.bin,
         COALESCE(gb.cnt, 0) AS cnt,
         COALESCE(gl.gcnt, 0) AS gcnt
  FROM grps g CROSS JOIN spine s
  LEFT JOIN gb ON gb.seg = g.seg AND gb.region = g.region
             AND gb.bin = s.bin
  LEFT JOIN gdist gl ON gl.bin = s.bin
), cum AS (
  SELECT seg, region, n_g, bin,
         (CAST(SUM(cnt) OVER (PARTITION BY seg, region ORDER BY bin)
               AS BIGINT) * 1000000) // n_g AS cp_micro,
         (CAST(SUM(gcnt) OVER (PARTITION BY seg, region ORDER BY bin)
               AS BIGINT) * 1000000) // (SELECT n FROM gtot) AS cq_micro
  FROM dense
)
SELECT seg, region, n_g,
       CAST(SUM(ABS(cp_micro - cq_micro)) // 10 AS BIGINT) AS emd_micro,
       SUM(ABS(cp_micro - cq_micro)) // 10 > 150000 AS t_breach
FROM cum GROUP BY seg, region, n_g
""",
)
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third rung of the anonymity ladder
    after q_k_anonymity (group size) and q_l_diversity (distinct
    sensitive values): within each quasi-identifier group (market
    segment x region), the Earth Mover's Distance between the
    group's distribution of the ORDERED sensitive attribute (account
    balance, 1k-wide bins) and the global distribution. A group can
    be k-anonymous and l-diverse yet still leak (all its balances in
    the top bin); EMD catches exactly that. For a 1-D ordered
    attribute, EMD = mean |cumulative difference| over bins
    (normalized by m-1 bin steps).

    Exactness: cumulative fractions are floored micro units of exact
    BIGINT counts (floor bias < 1e-6 per bin, identical on both
    engines); the bin spine is the fixed 0..10 domain so every group
    densifies to the same 11 rows. Threshold t = 0.15.

    Scale shape: one (group, bin) count over the broadcast-dim star
    join, a 25-group x 11-bin dense grid, windows over the grid —
    nothing after the first aggregate scales with data volume."""
    c = catalog(spark, sf_dir)
    cust = (
        c.customer.join(
            F.broadcast(c.nation.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(c.region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.col("r_name").alias("region"),
            F.floor((F.col("c_acctbal") + 1000) / 1000)
            .cast("bigint")
            .alias("bin"),
        )
    )
    spine = spark.range(0, 11).select(F.col("id").alias("bin"))
    grps = cust.groupBy("seg", "region").agg(
        F.count("*").cast("bigint").alias("n_g")
    )
    gb = cust.groupBy("seg", "region", "bin").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    glob = cust.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("gcnt")
    )
    gtot = cust.agg(F.count("*").cast("bigint").alias("n"))
    dense = (
        grps.crossJoin(F.broadcast(spine))
        .join(F.broadcast(gb), ["seg", "region", "bin"], "left")
        .join(F.broadcast(glob), "bin", "left")
        .crossJoin(F.broadcast(gtot))
        .select(
            "seg",
            "region",
            "n_g",
            "bin",
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
            F.coalesce("gcnt", F.lit(0)).alias("gcnt"),
            "n",
        )
    )
    wcum = Window.partitionBy("seg", "region").orderBy("bin")
    cum = dense.select(
        "seg",
        "region",
        "n_g",
        (F.sum("cnt").over(wcum).cast("bigint") * 1000000).alias("cpn"),
        (F.sum("gcnt").over(wcum).cast("bigint") * 1000000).alias("cqn"),
        "n",
    ).select(
        "seg",
        "region",
        "n_g",
        F.expr("cpn div n_g").alias("cp_micro"),
        F.expr("cqn div n").alias("cq_micro"),
    )
    return cum.groupBy("seg", "region", "n_g").agg(
        F.expr(
            "CAST(sum(abs(cp_micro - cq_micro)) div 10 AS BIGINT)"
        ).alias("emd_micro"),
        F.expr(
            "sum(abs(cp_micro - cq_micro)) div 10 > 150000"
        ).alias("t_breach"),
    )
