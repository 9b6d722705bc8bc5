"""Sources & sinks (SURVEY §2B): parquet/CSV/JSON scans, partitioned sink.

Catenae analog: none — catenae had no file-format layer at all (messages
came only from Kafka). Spark's readers give columnar scans with
predicate pushdown, column pruning, and partition pruning for free.

CSV/JSON here round-trip a dimension table through text formats with an
*explicit* schema (schema inference is a full extra pass at 100 TB —
never on by default in this engine).
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from catenae_kafka_spark.catalog import catalog
from catenae_kafka_spark.functions.compat import half_up
from catenae_kafka_spark.registry import REGISTRY


def _work_dir(sf_dir: str, name: str) -> str:
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), "catenae_kafka_spark", tag, name)
    os.makedirs(d, exist_ok=True)
    return d


@REGISTRY.register(
    "q_scan_parquet",
    tags=("scan",),
    oracle="""
SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2000-01-01' AND l_quantity > 40
""",
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet scan with pushed filter + pruned columns (PushedFilters /
    4-column ReadSchema in the plan — the scan never materializes the
    other 7 columns)."""
    c = catalog(spark, sf_dir)
    return c.lineitem.filter(
        (F.col("l_shipdate") >= "2000-01-01") & (F.col("l_quantity") > 40)
    ).select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")


NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)

REGION_SCHEMA = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]
)


@REGISTRY.register(
    "q_scan_csv_json",
    tags=("scan",),
    oracle="""
SELECT n_nationkey, n_name, r_name
FROM nation JOIN region ON n_regionkey = r_regionkey
""",
)
def q_scan_csv_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV + JSON scan with explicit schemas: nation→CSV, region→JSON
    (text round-trip is lossless for int/string, so the plain-join
    oracle is exact)."""
    c = catalog(spark, sf_dir)
    base = _work_dir(sf_dir, "csv_json")
    csv_path = os.path.join(base, "nation_csv")
    json_path = os.path.join(base, "region_json")
    c.nation.coalesce(1).write.mode("overwrite").option("header", True).csv(csv_path)
    c.region.coalesce(1).write.mode("overwrite").json(json_path)
    nation = spark.read.schema(NATION_SCHEMA).option("header", True).csv(csv_path)
    region = spark.read.schema(REGION_SCHEMA).json(json_path)
    return nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name", "r_name")


@REGISTRY.register(
    "q_sink_parquet",
    tags=("sink",),
    oracle="""
SELECT l_returnflag,
       CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS ship_year,
       ROUND(SUM(l_extendedprice), 2) AS sum_price,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag, CAST(EXTRACT(year FROM l_shipdate) AS INTEGER)
""",
)
def q_sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink + read-back: write the agg partitioned by
    (l_returnflag, ship_year) — the layout a 100 TB pipeline would use so
    downstream readers partition-prune — then scan it back. Round-trip
    is exact, so the agg itself is the oracle."""
    c = catalog(spark, sf_dir)
    out = os.path.join(_work_dir(sf_dir, "sink"), "agg_parquet")
    agg = (
        c.lineitem.withColumn("ship_year", F.year("l_shipdate"))
        .groupBy("l_returnflag", "ship_year")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.count("*").alias("n"),
        )
    )
    agg.write.mode("overwrite").partitionBy("l_returnflag", "ship_year").parquet(out)
    # explicit schema on read-back: an EMPTY write leaves no footers
    # to infer from (empty-fixture fuzz), and at scale it skips the
    # footer-sampling inference job anyway
    back = spark.read.schema(agg.schema).parquet(out)
    # partition columns come back typed by directory inference; restore
    # exact types + column order
    return back.select(
        F.col("l_returnflag").cast("string"),
        F.col("ship_year").cast("int"),
        "sum_price",
        "n",
    )


def avro_available(spark: SparkSession) -> bool:
    """True when the spark-avro connector is on the classpath (NOT in
    this image — only the core avro jars ship, which don't provide the
    `avro` DataFrame format). Same gating discipline as Kafka: the
    format stays a pluggable edge, tests/test_gated_integrations.py
    runs the real round-trip wherever the jar appears."""
    try:
        # functional probe: the AvroFileFormat CLASS ships in the base
        # image without the DataSource registration, so Class.forName
        # false-positives; a 1-row write exercises the real lookup
        probe = os.path.join(tempfile.gettempdir(), "cks_avro_probe")
        spark.range(1).write.mode("overwrite").format("avro").save(probe)
        return True
    except Exception:
        return False


@REGISTRY.register(
    "q_scan_orc",
    tags=("scan", "sink"),
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY event_type
""",
)
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan read-back: the third columnar round-trip format
    (parquet/CSV+JSON/ORC). ORC write/read is lossless for
    long/string/double, so the plain agg over the source is the exact
    oracle; the read-back path gets ORC's vectorized reader + pushdown
    just like parquet."""
    c = catalog(spark, sf_dir)
    out = os.path.join(_work_dir(sf_dir, "orc"), "events_orc")
    c.events.select("event_id", "event_type", "value").write.mode(
        "overwrite"
    ).orc(out)
    back = spark.read.orc(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


@REGISTRY.register(
    "q_scan_custom_source",
    tags=("scan", "source"),
    oracle="""
WITH gen AS (
  SELECT i AS event_id,
         i % 1000 AS user_id,
         ['click','view','signup','purchase','error'][(i % 5) + 1] AS event_type,
         ((i * 2654435761) % 10000) / 100.0 AS value
  FROM (SELECT unnest(generate_series(0, 9999)) AS i)
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       ROUND(SUM(value), 2) AS total_value
FROM gen
GROUP BY event_type
""",
)
def q_scan_custom_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python data source (Spark 4 pyspark.sql.datasource API):
    a partition-parallel synthetic-events generator registered as a
    real spark.read.format(...) source — the pluggable-edge mechanism
    for wrapping any in-house feed without JVM code. Deterministic
    arithmetic generation means even a *custom source* is fully
    oracle-checkable (DuckDB generate_series builds the same table)."""
    from catenae_kafka_spark.sources.synthetic import register

    register(spark)
    gen = (
        spark.read.format("synthetic_events")
        .option("rows", 10_000)
        .option("partitions", 8)
        .load()
    )
    return gen.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@REGISTRY.register(
    "q_sink_custom_kv",
    tags=("sink", "source"),
    oracle="""
SELECT n_nationkey, n_name, n_regionkey
FROM nation
""",
)
def q_sink_custom_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python sink with two-phase commit (the KV-connector
    analog): tasks spool partitions, the driver commit publishes them
    atomically — then read the committed store back. Round-trip equals
    the source table exactly (the oracle)."""
    import shutil

    from catenae_kafka_spark.sources.synthetic import register_kv

    register_kv(spark)
    c = catalog(spark, sf_dir)
    out = os.path.join(_work_dir(sf_dir, "kv_store"), "nation_kv")
    shutil.rmtree(out, ignore_errors=True)
    c.nation.write.format("kv_store").option("path", out).mode("append").save()
    back = spark.read.schema(NATION_SCHEMA).json(os.path.join(out, "committed"))
    return back.select("n_nationkey", "n_name", "n_regionkey")


@REGISTRY.register(
    "q_scan_schema_evolution",
    tags=("scan",),
    oracle="""
SELECT n_nationkey, n_name, CAST(NULL AS BIGINT) AS region_code
FROM nation WHERE n_nationkey < 13
UNION ALL
SELECT n_nationkey, n_name, CAST(n_regionkey * 10 AS BIGINT)
FROM nation WHERE n_nationkey >= 13
""",
)
def q_scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet batches written with different
    schemas (a column added mid-stream — the normal life of a 100 TB
    ingest table) unified by ``mergeSchema``; pre-evolution rows surface
    NULL for the added column.

    mergeSchema reconciles footers at planning time; per-file reads
    still prune to each file's physical columns. For very wide tables
    pin the merged schema explicitly instead of paying footer
    reconciliation on every read."""
    c = catalog(spark, sf_dir)
    base = _work_dir(sf_dir, "schema_evo")
    v1 = os.path.join(base, "data", "batch=1")
    v2 = os.path.join(base, "data", "batch=2")
    old = c.nation.filter(F.col("n_nationkey") < 13).select(
        "n_nationkey", "n_name"
    )
    new = c.nation.filter(F.col("n_nationkey") >= 13).select(
        "n_nationkey",
        "n_name",
        (F.col("n_regionkey").cast("long") * 10).alias("region_code"),
    )
    old.write.mode("overwrite").parquet(v1)
    new.write.mode("overwrite").parquet(v2)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(base, "data"))
        .select("n_nationkey", "n_name", "region_code")
    )


@REGISTRY.register(
    "q_scan_binaryfile",
    tags=("scan", "multimodal"),
    oracle="""
SELECT 'doc_' || doc_id || '.txt' AS fname,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       md5(text) AS digest
FROM documents WHERE doc_id < 20
""",
)
def q_scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary ingest via Spark's ``binaryFile`` source — the
    entry point of the multimodal pipeline (images/audio/video land as
    files; this scan turns a directory of them into (path, length,
    content) rows that the llm_multimodal operators consume). Staging
    writes each sample document's bytes to its own file (one-time
    fixture setup, 20 files); the scan itself is the real distributed
    format — partitioned file listing, content read as a binary
    column, length/path from file metadata without touching content.
    Output hashes the bytes (md5) so the oracle checks true byte-level
    round-trip, not just names."""
    import os as _os

    stage = _os.path.join(_work_dir(sf_dir, "binfiles"), "docs")
    marker = _os.path.join(stage, "_STAGED")
    if not _os.path.exists(marker):
        _os.makedirs(stage, exist_ok=True)
        sample = (
            catalog(spark, sf_dir)
            .documents.filter(F.col("doc_id") < 20)
            .select("doc_id", "text")
            .collect()  # fixture staging only: 20 rows, never data-path
        )
        for row in sample:
            with open(_os.path.join(stage, f"doc_{row.doc_id}.txt"), "wb") as fh:
                fh.write(row.text.encode("utf-8"))
        with open(marker, "w") as fh:
            fh.write("ok")
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(stage)
    )
    return files.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("fname"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("digest"),
    )


@REGISTRY.register(
    "q_scan_xml",
    tags=("scan", "format"),
    oracle="""
SELECT n_nationkey, n_name, n_regionkey FROM nation
""",
)
def q_scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + scan round-trip (Spark 4's built-in xml format — the
    fourth interchange format after parquet/csv+json/orc): write the
    nation dim as <row> elements, read it back with an EXPLICIT schema
    (inference on XML is doubly expensive — a schema-discovery pass
    over every file before the real scan — so production readers always
    declare). Round-trip is exact, so the source table is the oracle."""
    import os as _os

    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    c = catalog(spark, sf_dir)
    out = _os.path.join(_work_dir(sf_dir, "xml"), "nation_xml")
    (
        c.nation.select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite")
        .format("xml")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .save(out)
    )
    schema = StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
        ]
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema(schema)
        .load(out)
    )


@REGISTRY.register(
    "q_scan_text",
    tags=("source", "format"),
    oracle="""
SELECT doc_id, lang,
       CAST(LENGTH(text) AS BIGINT) AS n_chars,
       CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_words
FROM documents
""",
)
def q_scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text-format round-trip (``spark.read.text`` — the format
    every raw-corpus ingest starts from): documents stage to
    tab-delimited lines, read back as one ``value`` column per line,
    and parse map-side back into typed columns. The oracle reads the
    original parquet, so the round-trip proves the line encode/decode
    is lossless for the corpus (fixture texts contain no tabs or
    newlines; a production ingest escapes or length-prefixes instead).

    Line-oriented text splits by file block exactly like any other
    splittable source — the parse is a narrow projection, so the scan
    parallelizes at any size with zero shuffle."""
    import os as _os

    c = catalog(spark, sf_dir)
    base = _os.path.join(_work_dir(sf_dir, "textfmt"), "docs")
    c.documents.select(
        F.concat_ws(
            "\t",
            F.col("doc_id").cast("string"),
            F.col("lang"),
            F.col("text"),
        ).alias("value")
    ).write.mode("overwrite").text(base)
    lines = spark.read.text(base)
    parts = F.split(F.col("value"), "\t", 3)
    return lines.select(
        parts.getItem(0).cast("long").alias("doc_id"),
        parts.getItem(1).alias("lang"),
        F.length(parts.getItem(2)).cast("long").alias("n_chars"),
        F.size(F.split(parts.getItem(2), " ")).cast("long").alias(
            "n_words"
        ),
    )


@REGISTRY.register(
    "q_federated_join",
    tags=("source", "format", "join"),
    oracle="""
SELECT n_name,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS cents
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)
def q_federated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-format federation in one query: the fact table stays
    parquet, the customer dimension is re-staged as CSV and the nation
    dimension as JSON-lines, and the join plan treats all three as
    peers — the everyday lakehouse reality where reference data
    arrives in whatever format the upstream team ships.

    Format never changes the plan shape: both non-parquet dims still
    broadcast onto the parquet fact scan, and the oracle (reading the
    single-source parquet) certifies the staged copies are lossless.
    CSV/JSON pay a parse cost per read at scale — the documented
    remedy is exactly this staging step in reverse (convert once to
    parquet), which q_scan_csv_json's docstring covers."""
    import os as _os

    c = catalog(spark, sf_dir)
    base = _work_dir(sf_dir, "federated")
    csv_dir = _os.path.join(base, "customer_csv")
    json_dir = _os.path.join(base, "nation_json")
    c.customer.select("c_custkey", "c_nationkey").write.mode(
        "overwrite"
    ).option("header", True).csv(csv_dir)
    c.nation.select("n_nationkey", "n_name").write.mode(
        "overwrite"
    ).json(json_dir)
    cust = spark.read.option("header", True).schema(
        "c_custkey long, c_nationkey long"
    ).csv(csv_dir)
    nat = spark.read.schema("n_nationkey long, n_name string").json(
        json_dir
    )
    cents = half_up("o_totalprice", 100)
    return (
        c.orders.join(
            F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
        )
        .join(
            F.broadcast(nat),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(cents).alias("cents"),
        )
    )


@REGISTRY.register(
    "q_scan_csv_corrupt",
    tags=("scan",),
    oracle="""
SELECT CAST(COUNT(*) + SUM(CASE WHEN n_nationkey % 5 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_rows_total,
       CAST(COUNT(*) AS BIGINT) AS n_good,
       CAST(SUM(CASE WHEN n_nationkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_corrupt,
       CAST(SUM(n_nationkey) AS BIGINT) AS good_key_sum
FROM nation
""",
)
def q_scan_csv_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row ingest contract: PERMISSIVE CSV parsing with a
    ``_corrupt_record`` column — the real-world raw-feed path where a
    100 TB ingest cannot abort on one bad line and must instead
    quarantine it for a dead-letter audit.

    The staged file interleaves well-formed nation rows with
    deterministically derived garbage lines (one per nationkey
    divisible by 5: a single unparseable field), all composed and
    written DISTRIBUTED via concat_ws + text — no driver-side row
    building. Reading back with an explicit schema + PERMISSIVE mode
    yields typed rows with NULL-and-quarantined corrupt lines; the
    oracle states the expected good/corrupt accounting straight from
    the source table. Spark only populates _corrupt_record when the
    parsed row is selected WITH the column present in the schema
    (documented caching caveat: the count must come off the same
    selected frame)."""
    c = catalog(spark, sf_dir)
    base = _work_dir(sf_dir, "csv_corrupt")
    path = os.path.join(base, "nation_lines")
    good = c.nation.select(
        F.concat_ws(
            ",",
            F.col("n_nationkey").cast("string"),
            F.col("n_name"),
            F.col("n_regionkey").cast("string"),
        ).alias("value")
    )
    bad = c.nation.filter(F.col("n_nationkey") % 5 == 0).select(
        F.concat(F.lit("<<GARBAGE//"), F.col("n_name"), F.lit(">>")).alias("value")
    )
    good.unionAll(bad).coalesce(1).write.mode("overwrite").text(path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
        .cache()
    )
    # NULL-shape mirrors the oracle on an EMPTY source (fuzz): its
    # n_good is COUNT(*) (0), its n_corrupt is a SUM (NULL), and its
    # n_rows_total is COUNT + SUM (NULL) — so count the good rows with
    # COUNT and derive the total as good + corrupt
    n_good = F.count(F.when(F.col("_corrupt_record").isNull(), 1)).cast(
        "bigint"
    )
    n_corrupt = F.sum(
        F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0)
    ).cast("bigint")
    return parsed.agg(
        (n_good + n_corrupt).alias("n_rows_total"),
        n_good.alias("n_good"),
        n_corrupt.alias("n_corrupt"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("n_nationkey"))
        )
        .cast("bigint")
        .alias("good_key_sum"),
    )


@REGISTRY.register(
    "q_write_audit_publish",
    tags=("sink", "lakehouse"),
    oracle="""
SELECT STRFTIME(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents
FROM events GROUP BY day, event_type
""",
)
def q_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish (WAP) sink pattern: the daily rollup is (1)
    WRITTEN to a staging path invisible to readers, (2) AUDITED by
    re-reading the staged files and checking row count + exact cents
    checksum against an independent recomputation, and only then (3)
    PUBLISHED by an atomic directory swap — the lakehouse discipline
    that guarantees consumers never observe a partial or failed write.
    A failed audit raises and leaves the published path untouched.

    The returned DataFrame reads from the PUBLISHED path, so the
    oracle (the rollup itself) also proves the staged->published
    round-trip is lossless.

    Scale shape: the rollup is one map-side-combined groupBy; audit
    cost is one scan of the (tiny) staged output; publish is a
    metadata operation (at 100 TB: an atomic table-pointer/manifest
    swap, e.g. Iceberg/Delta commit — here the filesystem rename that
    models it)."""
    import shutil

    c = catalog(spark, sf_dir)
    rollup = (
        c.events.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(half_up("value", 100))
            .cast("bigint")
            .alias("cents"),
        )
    )
    base = _work_dir(sf_dir, "wap")
    staging = os.path.join(base, "_staging")
    published = os.path.join(base, "published")
    # 1. WRITE to staging (never the live path)
    rollup.write.mode("overwrite").parquet(staging)
    # 2. AUDIT the staged bytes against an independent recomputation
    staged = spark.read.parquet(staging)
    audit = staged.agg(
        F.count("*").alias("rows"), F.sum("cents").alias("checksum")
    ).collect()[0]
    expect = rollup.agg(
        F.count("*").alias("rows"), F.sum("cents").alias("checksum")
    ).collect()[0]
    # the audit contract is staged == independently-recomputed, not
    # staged-nonempty: a legitimately EMPTY rollup (empty source —
    # fuzz fixture) must publish, while a lost/partial staging still
    # aborts because its (rows, checksum) cannot match a non-empty
    # expectation
    if (audit["rows"], audit["checksum"]) != (
        expect["rows"],
        expect["checksum"],
    ):
        raise RuntimeError(
            f"WAP audit failed: staged={tuple(audit)} expected={tuple(expect)};"
            " publish aborted, previous version remains live"
        )
    # 3. PUBLISH atomically (swap the directory pointer)
    tmp_old = published + "_old"
    if os.path.exists(published):
        os.rename(published, tmp_old)
    os.rename(staging, published)
    shutil.rmtree(tmp_old, ignore_errors=True)
    return spark.read.parquet(published)


@REGISTRY.register(
    "q_csv_roundtrip_quoting",
    tags=("scan", "format-edge"),
    oracle="""
SELECT n_nationkey,
       'name,"' || n_name || '"
line2' AS tricky,
       CAST(n_regionkey AS BIGINT) AS n_regionkey
FROM nation
""",
)
def q_csv_roundtrip_quoting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV quoting torture round-trip: a column is constructed to
    contain the three things that break naive CSV pipelines — a comma,
    embedded double quotes, and an EMBEDDED NEWLINE — written to CSV
    and read back with multiLine parsing. The returned DataFrame is
    the read-back; matching the oracle (which builds the same values
    directly) proves quoting, escaping and multiline-record handling
    are lossless, the contract an interchange format must honor before
    anyone ships 100 TB of it. (Parquet needs no such proof — one of
    several reasons it is the default interchange format here.)

    Scale note: multiLine CSV parsing is NOT splittable (a file can't
    be chunked at arbitrary newlines when newlines appear inside
    quotes) — a real ingest keeps multiline CSVs small or converts to
    parquet at the edge, which is exactly what this round-trip
    models."""
    c = catalog(spark, sf_dir)
    out = os.path.join(_work_dir(sf_dir, "csv_quoting"), "nation_tricky")
    tricky = c.nation.select(
        "n_nationkey",
        F.concat(
            F.lit('name,"'), F.col("n_name"), F.lit('"\nline2')
        ).alias("tricky"),
        F.col("n_regionkey").cast("bigint").alias("n_regionkey"),
    )
    tricky.write.mode("overwrite").option("header", True).option(
        "quoteAll", True
    ).csv(out)
    return (
        spark.read.option("header", True)
        .option("multiLine", True)
        .schema("n_nationkey bigint, tricky string, n_regionkey bigint")
        .csv(out)
    )


@REGISTRY.register(
    "q_scan_csv_gzip",
    tags=("scan", "format"),
    oracle="""
SELECT n_nationkey, n_name, n_regionkey,
       CAST(COUNT(*) AS BIGINT) AS n
FROM nation GROUP BY n_nationkey, n_name, n_regionkey
""",
)
def q_scan_csv_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-CSV round trip: write the nation dim as gzip CSV
    (codec picked via option, .gz suffix appended by the writer) and
    read it back through the same schema — the "someone handed us
    gzipped exports" ingest path. Gzip is NOT splittable: one file =
    one task regardless of size, which is why the docstring-level
    guidance is bzip2/zstd (splittable/seekable) or re-staging to
    parquet for anything bigger than an export drop; the read-back
    here proves the codec path, the aggregate proves content.

    Scale: dimension-sized by construction."""
    import glob as _glob
    import os as _os

    c = catalog(spark, sf_dir)
    out = _os.path.join(_work_dir(sf_dir, "csv_gzip_v1"), "nation_csv")
    c.nation.write.mode("overwrite").option("compression", "gzip").option(
        "header", True
    ).csv(out)
    assert _glob.glob(_os.path.join(out, "*.csv.gz")), "gzip codec not applied"
    back = (
        spark.read.option("header", True)
        .schema("n_nationkey int, n_name string, n_regionkey int")
        .csv(out)
    )
    return back.groupBy("n_nationkey", "n_name", "n_regionkey").agg(
        F.count("*").cast("bigint").alias("n")
    )


@REGISTRY.register(
    "q_scan_file_metadata",
    tags=("scan", "source", "lineage"),
    oracle="""
SELECT 'lineitem.parquet' AS file_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
       CAST(MAX(l_orderkey) AS BIGINT) AS max_orderkey
FROM lineitem
HAVING COUNT(*) > 0
""",
)
def q_scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hidden ``_metadata`` struct column of file-based scans:
    per-FILE row counts and key ranges straight from the reader
    (file_path/file_name/file_size/row_index with no extra scan or
    join) — the lineage primitive behind incremental pipelines
    ("which files feed this partition") that q_lineage_files builds
    with input_file_name(); _metadata is the typed, documented
    successor and also carries row_index for stable intra-file row
    ids. The fixture stores each table as ONE parquet file, so the
    oracle states that expectation as a constant file name over the
    registered view — if the layout ever splits, the Spark side will
    return one row per file and the row-count mismatch flags it.

    Scale shape: metadata columns are populated by the scan itself —
    the aggregate is the only operator, map-side-combinable on the
    file-name key (bounded by file count, not rows)."""
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        df.select(
            F.col("_metadata.file_name").alias("file_name"),
            "l_orderkey",
        )
        .groupBy("file_name")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("l_orderkey").cast("bigint").alias("min_orderkey"),
            F.max("l_orderkey").cast("bigint").alias("max_orderkey"),
        )
    )
