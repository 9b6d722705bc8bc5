"""Storage-layout operators: multi-dimensional clustering (Z-order).

At 100 TB, data layout IS the query optimizer's best friend: parquet
row-group min/max stats only prune scans when rows with similar values
are physically adjacent. A table range-partitioned by one column prunes
that column only; interleaving the bits of TWO columns into a Z-value
and range-partitioning by it gives both columns locality — each file
covers a small rectangle of the (custkey, totalprice) plane, so
predicates on EITHER dimension skip most files.

``q_zorder_layout`` computes the Z-values and proves the locality
property: grouping by the top-6 Z-bits (64 rectangles) shows each
bucket spans a narrow range of BOTH dimensions. The write-side usage is
``df.repartitionByRange(64, col("z")).write.parquet(...)`` — same
Z-expression, files become the buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from catenae_kafka_spark.catalog import catalog
from catenae_kafka_spark.functions.compat import half_up
from catenae_kafka_spark.registry import REGISTRY

BITS = 10  # each dimension scaled to [0, 1023]


def _interleave_sql(xa: str, xb: str) -> str:
    """DuckDB expression interleaving the low 10 bits of two ints
    (xa gets even bit positions, xb odd)."""
    terms = []
    for i in range(BITS):
        terms.append(f"((({xa} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({xb} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


def zvalue(xa: Column, xb: Column) -> Column:
    """Spark column: interleave the low 10 bits of two int columns."""
    z = F.lit(0)
    for i in range(BITS):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(xa, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(xb, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


@REGISTRY.register(
    "q_zorder_layout",
    tags=("layout",),
    oracle=f"""
WITH ext AS (
  SELECT MIN(o_custkey) AS mnc, MAX(o_custkey) AS mxc,
         MIN(o_totalprice) AS mnp, MAX(o_totalprice) AS mxp
  FROM orders
), scaled AS (
  SELECT CAST(floor((o_custkey - mnc) * 1023.0 / (mxc - mnc)) AS BIGINT) AS nx,
         CAST(floor((o_totalprice - mnp) * 1023.0 / (mxp - mnp)) AS BIGINT) AS ny,
         o_custkey, o_totalprice
  FROM orders CROSS JOIN ext
), z AS (
  SELECT o_custkey, o_totalprice,
         ({_interleave_sql('nx', 'ny')}) >> 14 AS bucket
  FROM scaled
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(o_custkey) AS BIGINT) AS min_cust,
       CAST(MAX(o_custkey) AS BIGINT) AS max_cust,
       ROUND(MIN(o_totalprice), 2) AS min_price,
       ROUND(MAX(o_totalprice), 2) AS max_price
FROM z GROUP BY bucket
""",
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering: scale (o_custkey, o_totalprice) to 10-bit
    grid coordinates, interleave into a 20-bit Z-value, and aggregate
    per top-6-bit bucket — each of the 64 buckets covers a small
    rectangle of the 2-D space (narrow min/max span in BOTH columns),
    which is exactly the row-group-stats pruning property a Z-ordered
    write gives a 100 TB table. The extrema join is a 1-row broadcast;
    everything else is map-side expression work + one aggregate."""
    c = catalog(spark, sf_dir)
    ext = c.orders.agg(
        F.min("o_custkey").alias("mnc"),
        F.max("o_custkey").alias("mxc"),
        F.min("o_totalprice").alias("mnp"),
        F.max("o_totalprice").alias("mxp"),
    )
    # try_divide: a constant key column (max = min) has no grid to
    # scale onto — 0/0 is NULL on both engines and the NULL coordinate
    # propagates through the interleave into a single NULL bucket
    # (degenerate fuzz fixture; ANSI / would raise)
    scaled = c.orders.crossJoin(F.broadcast(ext)).select(
        "o_custkey",
        "o_totalprice",
        F.floor(
            F.try_divide(
                (F.col("o_custkey") - F.col("mnc")) * 1023.0,
                F.col("mxc") - F.col("mnc"),
            )
        ).alias("nx"),
        F.floor(
            F.try_divide(
                (F.col("o_totalprice") - F.col("mnp")) * 1023.0,
                F.col("mxp") - F.col("mnp"),
            )
        ).alias("ny"),
    )
    z = scaled.select(
        "o_custkey",
        "o_totalprice",
        F.shiftright(zvalue(F.col("nx"), F.col("ny")), 14).alias("bucket"),
    )
    return z.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.min("o_custkey").alias("min_cust"),
        F.max("o_custkey").alias("max_cust"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


@REGISTRY.register(
    "q_compact_small_files",
    tags=("layout", "maintenance"),
    oracle="""
SELECT event_id, user_id, event_type,
       STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, value
FROM events
""",
)
def q_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction: rewrite a fragmented table (64 tiny
    files — the classic streaming-ingest pathology) into a handful of
    right-sized files, returning the compacted content so the oracle
    proves compaction is content-identical.

    At 100 TB the same two lines are the maintenance job: read,
    ``repartition(target)`` (or coalesce when shrinking without a
    shuffle is safe), write; target sized so files land near the
    128-256 MB row-group sweet spot (`spark.sql.files.maxRecordsPerFile`
    caps stragglers). tests/test_bucketing.py asserts the file count
    actually shrank."""
    import glob as _glob
    import os as _os

    from catenae_kafka_spark.sources.scans import _work_dir

    c = catalog(spark, sf_dir)
    base = _work_dir(sf_dir, "compact")
    frag_dir = _os.path.join(base, "fragmented")
    compact_dir = _os.path.join(base, "compacted")
    ev = c.events.select("event_id", "user_id", "event_type", "ts", "value")
    ev.repartition(64).write.mode("overwrite").parquet(frag_dir)
    # explicit schemas: an EMPTY source writes no part files at all,
    # which would fail schema inference on read-back (fuzz)
    spark.read.schema(ev.schema).parquet(frag_dir).repartition(
        4
    ).write.mode("overwrite").parquet(compact_dir)
    n_frag = len(_glob.glob(_os.path.join(frag_dir, "part-*")))
    n_compact = len(_glob.glob(_os.path.join(compact_dir, "part-*")))
    # reduction is only claimable when the input actually exceeds the
    # target: an EMPTY source writes one schema-only part file on both
    # sides (fuzz fixture), and an input already at/below 4 files has
    # nothing to shrink
    assert n_frag <= 4 or n_compact < n_frag, (
        "compaction did not reduce file count"
    )
    out = spark.read.schema(ev.schema).parquet(compact_dir)
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "value",
    )


@REGISTRY.register(
    "q_partition_prune",
    tags=("layout", "pruning"),
    oracle="""
SELECT STRFTIME(ts, '%Y-%m-%d') AS day,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents
FROM events
WHERE event_type = 'click'
GROUP BY STRFTIME(ts, '%Y-%m-%d')
""",
)
def q_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition pruning end to end: write events
    partitioned by event_type (the layout a 100 TB event table ships
    with), then read back ONE partition — the filter must resolve at
    planning time to a directory listing, never a data scan of the
    other partitions. Proven at runtime, not just asserted in a plan
    test: every file feeding the result must come from the
    ``event_type=click`` directory (input_file_name check, computed
    distributively and reduced to one offending-file count).

    The rollup after the prune aggregates exact cents per day, so the
    oracle (a WHERE on the unpartitioned source) certifies the
    partitioned copy is content-complete for the selected key."""
    import os as _os

    from catenae_kafka_spark.sources.scans import _work_dir

    c = catalog(spark, sf_dir)
    base = _os.path.join(_work_dir(sf_dir, "partlayout"), "by_type")
    ev = c.events.select("event_id", "ts", "event_type", "value")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(base)
    # explicit schema: an EMPTY source writes zero partition dirs and
    # read-back inference fails (fuzz); partition columns resolve by
    # name against the provided schema
    pruned = spark.read.schema(ev.schema).parquet(base).filter(
        F.col("event_type") == "click"
    )
    offenders = (
        pruned.select(F.input_file_name().alias("f"))
        .filter(~F.col("f").contains("event_type=click"))
        .count()
    )
    assert offenders == 0, "partition pruning read a non-matching file"
    cents = half_up("value", 100)
    return pruned.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").alias("n"), F.sum(cents).alias("cents"))


@REGISTRY.register(
    "q_dynamic_partition_pruning",
    tags=("layout", "scale"),
    oracle="""
WITH dim AS (
  SELECT DISTINCT o_orderpriority AS prio,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 'expedite' ELSE 'standard' END AS urgency
  FROM orders
)
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)) AS BIGINT)
         AS dollars
FROM orders o JOIN dim ON o.o_orderpriority = dim.prio
WHERE dim.urgency = 'expedite'
GROUP BY o.o_orderpriority
""",
)
def q_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (DPP): the fact table is laid out
    partitioned by o_orderpriority (staged once); the query filters a
    DIMENSION attribute (urgency = expedite) — the fact-side partition
    values are only known at RUNTIME, after the dim filter runs, and
    Spark injects a dynamicpruning subquery into the fact scan so only
    the 2 matching partition directories are read. At 100 TB this is
    the difference between scanning 40% and 100% of the table whenever
    the selective predicate lives on the dim, which is most star-schema
    queries. The plan shape (PartitionFilters: dynamicpruning#...) is
    asserted in tests/test_round3_ops.py.

    Exact integer dollars; the staged copy is the same rows re-laid-out,
    so the orders-table oracle applies unchanged."""
    import os as _os

    c = catalog(spark, sf_dir)
    base = _dpp_dir(sf_dir)
    marker = _os.path.join(base, "_STAGED")
    if not _os.path.exists(marker):
        c.orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(
            _os.path.join(base, "orders_part")
        )
        with open(marker, "w") as fh:
            fh.write("ok")
    # explicit schema (same empty-write inference gap as above); DPP
    # injection is unaffected by a provided schema
    fact = spark.read.schema(c.orders.schema).parquet(
        _os.path.join(base, "orders_part")
    )
    dim = (
        c.orders.select(F.col("o_orderpriority").alias("prio"))
        .distinct()
        .withColumn(
            "urgency",
            F.when(
                F.col("prio").isin("1-URGENT", "2-HIGH"), "expedite"
            ).otherwise("standard"),
        )
    )
    j = fact.join(
        F.broadcast(dim.filter(F.col("urgency") == "expedite")),
        fact["o_orderpriority"] == F.col("prio"),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(half_up("o_totalprice"))
        .cast("bigint")
        .alias("dollars"),
    )


def _dpp_dir(sf_dir: str) -> str:
    import hashlib
    import os as _os
    import tempfile

    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
    d = _os.path.join(tempfile.gettempdir(), "catenae_kafka_spark", tag, "dpp")
    _os.makedirs(d, exist_ok=True)
    return d


@REGISTRY.register(
    "q_rle_compressibility",
    tags=("layout", "scale"),
    oracle="""
WITH seq AS (
  SELECT event_type,
         LAG(event_type) OVER (ORDER BY event_id) AS prev_type,
         user_id,
         LAG(user_id) OVER (ORDER BY event_id) AS prev_user,
         LAG(event_id) OVER (ORDER BY event_id) AS prev_id
  FROM events
), runs AS (
  SELECT CAST(COUNT(*) - SUM(CASE WHEN prev_id IS NOT NULL
                  AND event_type IS NOT DISTINCT FROM prev_type
                  THEN 1 ELSE 0 END) AS BIGINT) AS type_runs_natural,
         CAST(COUNT(*) - SUM(CASE WHEN prev_id IS NOT NULL
                  AND user_id IS NOT DISTINCT FROM prev_user
                  THEN 1 ELSE 0 END) AS BIGINT) AS user_runs_natural,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM seq
)
SELECT n, type_runs_natural,
       CAST((SELECT COUNT(DISTINCT event_type) FROM events) AS BIGINT)
         AS type_runs_sorted,
       user_runs_natural,
       CAST((SELECT COUNT(DISTINCT user_id) FROM events) AS BIGINT)
         AS user_runs_sorted,
       (type_runs_natural * 1000)
         // (SELECT COUNT(DISTINCT event_type) FROM events)
         AS type_sort_gain_milli,
       (user_runs_natural * 1000)
         // (SELECT COUNT(DISTINCT user_id) FROM events)
         AS user_sort_gain_milli
FROM runs
""",
)
def q_rle_compressibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length compressibility audit: for event_type and user_id,
    the RLE run count in the table's NATURAL (event_id) order versus
    after sorting by that column (where runs = distinct values) — the
    gain ratio is exactly the factor parquet's RLE/dictionary encoding
    would shrink by if the layout sorted on that column. This is the
    measurement behind layout choices (q_zorder_layout orders by it;
    a gain near 1x says the column is already clustered and re-sorting
    buys nothing).

    Exact: run boundaries are NULL-SAFE comparisons against LAG over
    the total event_id order (NULL<->NULL extends a run, value<->NULL
    breaks one — matching the oracle's IS NOT DISTINCT FROM, so the
    audit stays correct if the fact columns ever admit NULLs); gains
    are floor-division milli-units.

    Scale shape: the run count DECOMPOSES over id-range blocks —
    runs = n − (adjacent equal pairs), and every adjacent pair either
    lies within one block (a PARTITIONED lag counts it in parallel) or
    spans two consecutive non-empty blocks (the per-block first/last
    summary, ~n/65536 rows, catches it with one summary-ordered lag).
    No unpartitioned window ever sees raw rows — this IS the per-row-
    group formulation parquet statistics would use at 100 TB."""
    c = catalog(spark, sf_dir)
    blk = F.expr("event_id div 65536")
    blocked = c.events.select(
        "event_type", "user_id", "event_id", blk.alias("blk")
    )
    # Null-safe run boundaries: a pair counts as "same run" only when a
    # previous row EXISTS (lag of the never-null event_id) AND the values
    # are null-safe equal — so a NULL<->NULL adjacency extends a run and
    # a non-null<->NULL adjacency breaks one, matching the oracle's
    # IS NOT DISTINCT FROM. (Plain == made any NULL adjacency a boundary.)
    w = Window.partitionBy("blk").orderBy("event_id")
    has_prev = F.lag("event_id").over(w).isNotNull()
    within = blocked.select(
        (
            has_prev
            & F.col("event_type").eqNullSafe(F.lag("event_type").over(w))
        ).alias("eq_t"),
        (
            has_prev
            & F.col("user_id").eqNullSafe(F.lag("user_id").over(w))
        ).alias("eq_u"),
    ).agg(
        F.sum(F.col("eq_t").cast("long")).alias("eq_t"),
        F.sum(F.col("eq_u").cast("long")).alias("eq_u"),
        F.count("*").cast("bigint").alias("n"),
    )
    edges = blocked.groupBy("blk").agg(
        F.expr("min_by(event_type, event_id)").alias("first_t"),
        F.expr("max_by(event_type, event_id)").alias("last_t"),
        F.expr("min_by(user_id, event_id)").alias("first_u"),
        F.expr("max_by(user_id, event_id)").alias("last_u"),
    )
    wb = Window.orderBy("blk")
    has_prev_blk = F.lag("blk").over(wb).isNotNull()
    cross = edges.select(
        (
            has_prev_blk
            & F.col("first_t").eqNullSafe(F.lag("last_t").over(wb))
        ).alias("eq_t"),
        (
            has_prev_blk
            & F.col("first_u").eqNullSafe(F.lag("last_u").over(wb))
        ).alias("eq_u"),
    ).agg(
        F.coalesce(F.sum(F.col("eq_t").cast("long")), F.lit(0)).alias("xt"),
        F.coalesce(F.sum(F.col("eq_u").cast("long")), F.lit(0)).alias("xu"),
    )
    runs = within.crossJoin(F.broadcast(cross)).select(
        (F.col("n") - F.col("eq_t") - F.col("xt"))
        .cast("bigint")
        .alias("type_runs_natural"),
        (F.col("n") - F.col("eq_u") - F.col("xu"))
        .cast("bigint")
        .alias("user_runs_natural"),
        "n",
    )
    d = c.events.agg(
        F.countDistinct("event_type").cast("bigint").alias("type_runs_sorted"),
        F.countDistinct("user_id").cast("bigint").alias("user_runs_sorted"),
    )
    return runs.crossJoin(F.broadcast(d)).select(
        "n",
        "type_runs_natural",
        "type_runs_sorted",
        "user_runs_natural",
        "user_runs_sorted",
        F.expr("(type_runs_natural * 1000) div type_runs_sorted").alias(
            "type_sort_gain_milli"
        ),
        F.expr("(user_runs_natural * 1000) div user_runs_sorted").alias(
            "user_sort_gain_milli"
        ),
    )


@REGISTRY.register(
    "q_compaction_plan",
    tags=("layout", "maintenance"),
    oracle="""
WITH parts AS (
  SELECT STRFTIME(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS part_hour,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM events GROUP BY part_hour
), packed AS (
  SELECT part_hour, n_rows,
         CAST(COALESCE(SUM(n_rows) OVER (
           ORDER BY part_hour
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) // 300 AS bin_id
  FROM parts
)
SELECT bin_id, CAST(COUNT(*) AS BIGINT) AS n_partitions,
       CAST(SUM(n_rows) AS BIGINT) AS total_rows,
       MIN(part_hour) AS from_hour, MAX(part_hour) AS to_hour
FROM packed GROUP BY bin_id
""",
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction PLANNER: assign time-adjacent hourly partitions of
    the event stream to target-sized output bins (greedy next-fit by
    exclusive prefix sum div target) — the manifest a table-
    maintenance service computes BEFORE running the rewrite that
    q_compact_small_files executes. Packing adjacent hours (never a
    size-sorted shuffle of partitions) preserves time-locality, so
    every compacted file still prunes on event-time predicates.

    Exact: bin assignment is an integer floor of an exact running
    row count; the row-count weight stands in for bytes (row width is
    near-constant per table; a real deployment multiplies by the
    table's measured bytes-per-row).

    Scale shape: the fact scan reduces to one row per hour map-side;
    the prefix-sum window runs over the calendar-bounded hour series.
    The 300-row target is fixture-scaled; production uses
    target_bytes/bytes_per_row."""
    c = catalog(spark, sf_dir)
    parts = c.events.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias(
            "part_hour"
        )
    ).agg(F.count("*").cast("bigint").alias("n_rows"))
    packed = parts.select(
        "part_hour",
        "n_rows",
        F.expr(
            "CAST(coalesce(sum(n_rows) OVER (ORDER BY part_hour"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
            " AS BIGINT) div 300"
        ).alias("bin_id"),
    )
    return packed.groupBy("bin_id").agg(
        F.count("*").cast("bigint").alias("n_partitions"),
        F.sum("n_rows").cast("bigint").alias("total_rows"),
        F.min("part_hour").alias("from_hour"),
        F.max("part_hour").alias("to_hour"),
    )


@REGISTRY.register(
    "q_orphan_file_audit",
    tags=("layout", "maintenance", "governance"),
    oracle="""
WITH com AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS committed_rows
  FROM events WHERE event_type <> 'error'
), orp AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS orphan_rows
  FROM events WHERE event_type = 'error'
)
SELECT committed_rows, orphan_rows,
       committed_rows + orphan_rows AS listed_rows
FROM com CROSS JOIN orp
""",
)
def q_orphan_file_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-file audit: files present in a table directory but
    absent from the commit manifest — the lakehouse janitor query
    behind VACUUM/orphan-cleanup (a failed writer leaves data files
    no snapshot references; they cost storage and, worse, get swept
    into naive directory-listing reads).

    The harness stages the pathology deterministically: committed
    rows (non-error events) are written WITH a manifest entry per
    file; orphan rows (error events) are written into the same
    directory bypassing the manifest. Detection is a LEFT ANTI join
    of the directory listing against the manifest — the orphans'
    row count must equal exactly the error-event count, proving the
    audit found precisely the unmanifested files.

    Scale shape: listing and manifest are file-grain (tiny vs data);
    the anti join is broadcast; only the final orphan row count
    touches data files, and reads just the orphans."""
    import os as _os

    from catenae_kafka_spark.sources.scans import _work_dir

    c = catalog(spark, sf_dir)
    base = _work_dir(sf_dir, "orphan_audit_v1")
    data_dir = _os.path.join(base, "table")
    committed = c.events.filter(F.col("event_type") != "error")
    orphans = c.events.filter(F.col("event_type") == "error")
    committed.repartition(4).write.mode("overwrite").parquet(data_dir)
    # manifest = the files the "commit" knows about (captured NOW,
    # before the rogue writer appends)
    manifest = [
        f for f in _os.listdir(data_dir) if f.startswith("part-")
    ]
    # rogue writer: appends files to the directory, no manifest entry
    orphan_dir = _os.path.join(base, "orphan_stage")
    orphans.repartition(2).write.mode("overwrite").parquet(orphan_dir)
    import shutil as _shutil

    for f in _os.listdir(orphan_dir):
        if f.startswith("part-"):
            _shutil.copy(
                _os.path.join(orphan_dir, f),
                _os.path.join(data_dir, "orphan-" + f),
            )
    listing = spark.createDataFrame(
        [(f,) for f in _os.listdir(data_dir) if ".parquet" in f],
        "file_name string",
    )
    manifest_df = spark.createDataFrame(
        [(f,) for f in manifest], "file_name string"
    )
    orphan_files = listing.join(
        F.broadcast(manifest_df), "file_name", "left_anti"
    )
    orphan_paths = [
        _os.path.join(data_dir, r.file_name)
        for r in orphan_files.collect()
    ]
    orphan_rows = (
        spark.read.parquet(*orphan_paths).count() if orphan_paths else 0
    )
    committed_rows = (
        spark.read.parquet(
            *[_os.path.join(data_dir, f) for f in manifest]
        ).count()
        if manifest
        else 0
    )
    return spark.createDataFrame(
        [(committed_rows, orphan_rows, committed_rows + orphan_rows)],
        "committed_rows long, orphan_rows long, listed_rows long",
    )


@REGISTRY.register(
    "q_distribute_by_layout",
    tags=("layout", "sql-surface"),
    oracle="""
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS total_cents
FROM orders GROUP BY o_custkey
""",
)
def q_distribute_by_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTE BY + SORT BY physical-layout SQL: co-locate every
    customer's orders in one partition and sort within partitions by
    (customer, date) — the write-side layout that makes a downstream
    merge read ("all of customer X's orders, in time order") a single
    partition-local scan with no shuffle. The aggregation over the
    laid-out data proves content equality; the companion test asserts
    the physical property itself: one partition per customer key and
    within-partition sortedness (via spark_partition_id + a
    monotonicity window).

    Scale note: DISTRIBUTE BY hashes into
    spark.sql.shuffle.partitions; pair with bucketed writes
    (q_join_bucketed) to persist the layout across jobs."""
    return distributed_layout_frame(spark, sf_dir).groupBy("o_custkey").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )


def distributed_layout_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The laid-out (pre-aggregation) frame q_distribute_by_layout
    aggregates; the physical-property test reads it directly."""
    c = catalog(spark, sf_dir)
    c.orders.select(
        "o_custkey",
        "o_orderdate",
        half_up("o_totalprice", 100).alias("cents"),
    ).createOrReplaceTempView("orders_for_layout")
    return spark.sql(
        """
        SELECT o_custkey, o_orderdate, cents
        FROM orders_for_layout
        DISTRIBUTE BY o_custkey
        SORT BY o_custkey, o_orderdate
        """
    )


@REGISTRY.register(
    "q_snapshot_rollback",
    tags=("layout", "lakehouse", "governance"),
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents
FROM events
GROUP BY event_type
""",
)
def q_snapshot_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot rollback (poor-man's time travel on plain parquet):
    version v1 (the good rollup) and v2 (a corrupted rewrite that
    drops a whole event type) are both retained as immutable snapshot
    directories; a one-line pointer file names the live version.
    Rolling back = rewriting the pointer to v1 — no data movement,
    exactly how table formats implement RESTORE. The query reads
    THROUGH the pointer after rollback and must hash-match the
    uncorrupted oracle, proving (a) old snapshots stay readable and
    (b) the pointer flip restores them atomically.

    Scale note: snapshot dirs + a metadata pointer is the layout
    Iceberg/Delta formalize (manifests + version log); retention GC
    is then q_orphan_file_audit's job."""
    import os as _os

    from catenae_kafka_spark.sources.scans import _work_dir

    c = catalog(spark, sf_dir)
    base = _work_dir(sf_dir, "snapshot_rb_v1")
    v1 = _os.path.join(base, "v1")
    v2 = _os.path.join(base, "v2")
    ptr = _os.path.join(base, "CURRENT")
    good = c.events.select(
        "event_id",
        "event_type",
        half_up("value", 100).alias("cents"),
    )
    good.write.mode("overwrite").parquet(v1)
    # v2: a bad rewrite silently loses every 'purchase' row
    good.filter(F.col("event_type") != "purchase").write.mode(
        "overwrite"
    ).parquet(v2)
    with open(ptr, "w") as fh:
        fh.write("v2\n")  # deploy the bad version...
    with open(ptr, "w") as fh:
        fh.write("v1\n")  # ...and ROLL BACK
    with open(ptr) as fh:
        live = fh.read().strip()
    return (
        spark.read.parquet(_os.path.join(base, live))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
    )
