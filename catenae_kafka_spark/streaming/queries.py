"""Streaming queries for the driver contract.

Each runs a REAL Structured Streaming pipeline — multi-micro-batch file
replay of the events table, watermarks, state-store aggregation/joins —
drained synchronously by ``sinks.drain`` (processAllAvailable on a
session clone), returning the materialized result as a batch
DataFrame. The DuckDB oracle states the same result in batch SQL over
the same events, so streaming execution is value-hash-checked, not just
rows-counted.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from catenae_kafka_spark.catalog import catalog
from catenae_kafka_spark.functions.compat import half_up
from catenae_kafka_spark.registry import REGISTRY
from catenae_kafka_spark.streaming import ops
from catenae_kafka_spark.streaming.link import Link
from catenae_kafka_spark.streaming.sinks import (
    drain,
    foreach_batch_sink,
    in_session,
    memory_sink,
    parquet_sink,
    run_available_now,
)
from catenae_kafka_spark.streaming.sources import replay_events

from catenae_kafka_spark.streaming.stateful import (
    circular_dedup,
    streaming_ema,
    streaming_ema_tws,
    tws_available,
)

WIN_FMT = "yyyy-MM-dd HH:mm:ss"

#: Driver-side collect cap for the batch-invariance proof: its results
#: are one row per (hour window, event_type), so even a year of hourly
#: windows x a 10-type domain is < 100k rows; anything above this means
#: the aggregation isn't aggregating and must not reach the driver.
_INVARIANCE_COLLECT_CAP = 100_000


def _name(prefix: str) -> str:
    return f"{prefix}_{uuid.uuid4().hex[:8]}"


@REGISTRY.register(
    "q_stream_tumbling",
    tags=("streaming",),
    bench=True,
    oracle="""
SELECT STRFTIME(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 4) AS total_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event_type, computed by a
    real streaming query over a multi-micro-batch replay with a 10-minute
    watermark; oracle = batch GROUP BY hour."""
    stream = replay_events(spark, sf_dir)
    agg = ops.tumbling_window_agg(
        stream,
        "1 hour",
        [F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value")],
        keys=["event_type"],
    )
    out = agg.select(
        F.date_format(F.col("window.start"), WIN_FMT).alias("win_start"),
        "event_type",
        "n",
        "total_value",
    )
    return run_available_now(out, "complete", _name("tumbling"))


@REGISTRY.register(
    "q_stream_sliding",
    tags=("streaming",),
    oracle="""
WITH starts AS (
  SELECT value,
         unnest([
           TIMESTAMP '1970-01-01 00:00:00'
             + to_seconds(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT)),
           TIMESTAMP '1970-01-01 00:00:00'
             + to_seconds(CAST(floor(epoch(ts) / 1800) * 1800 - 1800 AS BIGINT))
         ]) AS win_start
  FROM events
)
SELECT STRFTIME(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
       COUNT(*) AS n
FROM starts
GROUP BY win_start
""",
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows every 30 minutes (each event lands in 2
    windows); oracle materializes both window-starts per event."""
    stream = replay_events(spark, sf_dir)
    agg = ops.sliding_window_agg(
        stream, "1 hour", "30 minutes", [F.count("*").alias("n")]
    )
    out = agg.select(
        F.date_format(F.col("window.start"), WIN_FMT).alias("win_start"), "n"
    )
    return run_available_now(out, "complete", _name("sliding"))


@REGISTRY.register(
    "q_stream_session",
    tags=("streaming",),
    oracle="""
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 2 HOUR
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), s AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
)
SELECT user_id,
       STRFTIME(date_trunc('second', MIN(ts)), '%Y-%m-%d %H:%M:%S')
         AS session_start,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, session_id
""",
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (2-hour gap) per user via the streaming
    session_window operator; oracle = batch gaps-and-islands. catenae
    had no session concept at all — new semantics.

    Append mode + watermark-flushing sentinel: sessions emit exactly
    once when the watermark closes them (complete mode silently drops
    evicted session state — verified empirically)."""
    stream = replay_events(spark, sf_dir, with_sentinel=True)
    agg = ops.session_window_agg(
        stream, "2 hours", [F.count("*").alias("n_events")], keys=["user_id"]
    )
    # Drop the sentinel AFTER aggregation via the window column: a
    # filter on the user_id GROUP KEY would be pushed through the agg
    # into the scan, silently filtering the sentinel row out before it
    # can advance the watermark (observed: trailing sessions unflushed).
    out = agg.filter(F.year(F.col("session_window.start")) < 2030).select(
        "user_id",
        F.date_format(F.col("session_window.start"), WIN_FMT).alias("session_start"),
        "n_events",
    )
    return run_available_now(out, "append", _name("session"))


@REGISTRY.register(
    "q_stream_dedup",
    tags=("streaming",),
    oracle="""
SELECT DISTINCT user_id, event_type FROM events
""",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-seen dedup on (user_id, event_type) with GLOBAL
    state (exact; oracle = DISTINCT) — state grows with key cardinality,
    appropriate only when the key space is bounded. The 100 TB-honest
    watermark-bounded variant is q_stream_dedup_within_wm (exactly
    oracled via its day-bucketed key) and is also state-bound-asserted
    in tests/test_streaming.py."""
    stream = replay_events(spark, sf_dir)
    deduped = stream.dropDuplicates(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    return run_available_now(deduped, "append", _name("dedup"))


@REGISTRY.register(
    "q_stream_dedup_within_wm",
    tags=("streaming", "stateful"),
    oracle="""
SELECT DISTINCT user_id, event_type, STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS day FROM events
""",
)
def q_stream_dedup_within_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-BOUNDED streaming dedup (dropDuplicatesWithinWatermark —
    catenae's CircularOrderedSet with principled event-time eviction),
    exactly SQL-oracled: the dedup key includes a day bucket, so every
    duplicate of a key arrives <= 24 h after its first occurrence; with a
    25 h delay over the event-time-ordered replay the key's state is
    provably still live when each duplicate arrives (eviction of first
    requires watermark = max_seen_ts - 25 h > first_ts + 25 h, but
    first_ts >= dup_ts - 24 h >= max_seen_ts - 24 h — contradiction), so
    the output is exactly DISTINCT (user, type, day). Unlike
    q_stream_dedup's global-state dropDuplicates, total state here is
    bounded by the watermark horizon — the 100 TB-honest variant."""
    stream = replay_events(spark, sf_dir).withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    deduped = (
        stream.withWatermark("ts", "25 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "day"])
        .select("user_id", "event_type", "day")
    )
    return run_available_now(deduped, "append", _name("dedup_wm"))


@REGISTRY.register(
    "q_stream_distinct_users",
    tags=("streaming", "stateful"),
    oracle="""
SELECT STRFTIME(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY date_trunc('hour', ts)
""",
)
def q_stream_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per hour via CHAINED STATEFUL OPERATORS in one
    streaming pipeline (Spark 4 multi-stateful support): watermark →
    dropDuplicatesWithinWatermark on (user_id, hour) → tumbling window
    count. The dedup stage makes the downstream count an EXACT distinct
    (each (user, hour) pair survives exactly once — duplicates of a pair
    are <1 h apart, far inside the 25 h delay), with both stages' state
    watermark-bounded; the sentinel batches flush the trailing windows
    (append mode), then sentinel windows are dropped by their far-future
    year."""
    stream = replay_events(spark, sf_dir, with_sentinel=True).withColumn(
        "hour", F.date_trunc("hour", F.col("ts"))
    )
    uniq = stream.withWatermark("ts", "25 hours").dropDuplicatesWithinWatermark(
        ["user_id", "hour"]
    )
    agg = uniq.groupBy(F.window("ts", "1 hour")).agg(
        F.count("*").alias("n_users")
    )
    out = agg.filter(F.year(F.col("window.start")) < 2030).select(
        F.date_format(F.col("window.start"), WIN_FMT).alias("win_start"),
        "n_users",
    )
    return run_available_now(out, "append", _name("distinct_users"))


@REGISTRY.register(
    "q_stream_enrich",
    tags=("streaming",),
    oracle="""
SELECT c_mktsegment,
       COUNT(*) AS n,
       ROUND(SUM(value), 4) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
""",
)
def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment (the Aerospike/Mongo-lookup replacement):
    every micro-batch broadcast-joins the customer dim, then a running
    aggregation per segment; built with the Link facade."""
    c = catalog(spark, sf_dir)
    link = (
        Link(replay_events(spark, sf_dir))
        .enrich(c.customer, F.col("user_id") == F.col("c_custkey"))
        .map(
            lambda df: df.groupBy("c_mktsegment").agg(
                F.count("*").alias("n"),
                F.round(F.sum("value"), 4).alias("total_value"),
            )
        )
    )
    return link.run_available("complete")


@REGISTRY.register(
    "q_stream_join",
    tags=("streaming",),
    oracle="""
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       c.user_id AS user_id
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
""",
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream time-bounded join: purchases within 2h after a
    click, per user. Both sides watermarked → bounded join buffer;
    impossible in catenae without hand-rolled cross-message state."""
    clicks = (
        replay_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    purchases = (
        replay_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    # watermark delay must cover the join window (2h) plus cross-source
    # micro-batch arrival skew, or buffered rows are evicted before
    # their partner arrives; one replay file spans days → delay
    # generously exceeds window + one batch's time span
    l = clicks.withWatermark("c_ts", "8 days")
    r = purchases.withWatermark("p_ts", "8 days")
    joined = l.join(
        r,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 2 HOURS")),
    ).select("click_id", "purchase_id", "user_id")
    return run_available_now(joined, "append", _name("ssjoin"))


@REGISTRY.register(
    "q_stream_join_outer",
    tags=("streaming", "join"),
    oracle="""
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       c.user_id AS user_id
FROM (SELECT * FROM events WHERE event_type = 'click') c
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
""",
)
def q_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER time-bounded join: every click, matched
    purchases within 2 h, NULL when none. The null side of an outer
    stream-stream join can only be emitted once the watermark proves no
    partner can still arrive — the trailing far-future sentinel batches
    advance the watermark past every real row when the finite replay
    drains, so unmatched clicks flush (same mechanism as
    q_stream_session); sentinel-derived rows are dropped afterwards by
    their -1 ids. State on both sides is watermark-bounded."""
    # the sentinel row copies the max-ts event, whose event_type is
    # arbitrary — a plain type filter could drop it and stall the
    # watermark (no flush batch); let event_id = -1 through on BOTH
    # sides so each source's watermark advances
    clicks = (
        replay_events(spark, sf_dir, with_sentinel=True)
        .filter((F.col("event_type") == "click") | (F.col("event_id") == -1))
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    purchases = (
        replay_events(spark, sf_dir, with_sentinel=True)
        .filter((F.col("event_type") == "purchase") | (F.col("event_id") == -1))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    # same delay rationale as q_stream_join: cover join window + slice
    # arrival skew; the sentinel, not the delay, is what closes state
    l = clicks.withWatermark("c_ts", "8 days")
    r = purchases.withWatermark("p_ts", "8 days")
    joined = l.join(
        r,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 2 HOURS")),
        "leftOuter",
    ).select("click_id", "purchase_id", "user_id")
    out = run_available_now(joined, "append", _name("ssjoin_outer"))
    return out.filter(
        (F.col("click_id") >= 0)
        & (F.col("purchase_id").isNull() | (F.col("purchase_id") >= 0))
    )


@REGISTRY.register(
    "q_stream_ema",
    tags=("streaming", "stateful"),
    oracle="""
WITH ordered AS (
  SELECT user_id, list(value ORDER BY ts, event_id) AS vals,
         COUNT(*) AS n_seen
  FROM events GROUP BY user_id
)
SELECT user_id,
       ROUND(list_reduce(vals, (acc, x) -> 0.9 * acc + 0.1 * x), 6) AS ema,
       n_seen
FROM ordered
""",
)
def q_stream_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful op via applyInPandasWithState: per-user
    exponential moving average folded across micro-batches (order-
    dependent — no builtin aggregate can express it; catenae analog is
    Link instance state mutated per message). The oracle folds the same
    recurrence with DuckDB list_reduce. Update mode emits one row per
    (user, batch); the max-n_seen row per user is the final state."""
    stream = replay_events(spark, sf_dir)
    updates = run_available_now(streaming_ema(stream), "update", _name("ema"))
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_seen").desc())
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", F.round("ema", 6).alias("ema"), "n_seen")
    )


def q_stream_ema_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q_stream_ema recurrence on Spark 4's transformWithState API
    v2 (named state variables, timers, TTL) — the modernized successor
    to applyInPandasWithState. Needs the RocksDB state store (the only
    provider transformWithState supports), set here as a runtime conf.
    Registered only where protobuf is importable (tws_available) — this
    container lacks it, so tests assert the clear gated error instead."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = replay_events(spark, sf_dir)
    updates = run_available_now(
        streaming_ema_tws(stream), "update", _name("ematws")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_seen").desc())
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", F.round("ema", 6).alias("ema"), "n_seen")
    )


if tws_available():  # pragma: no cover — protobuf absent in this container
    REGISTRY.register(
        "q_stream_ema_tws",
        tags=("streaming", "stateful"),
        oracle="""
WITH ordered AS (
  SELECT user_id, list(value ORDER BY ts, event_id) AS vals,
         COUNT(*) AS n_seen
  FROM events GROUP BY user_id
)
SELECT user_id,
       ROUND(list_reduce(vals, (acc, x) -> 0.9 * acc + 0.1 * x), 6) AS ema,
       n_seen
FROM ordered
""",
    )(q_stream_ema_tws)


@REGISTRY.register(
    "q_stream_circular_dedup",
    tags=("streaming", "stateful"),
    oracle=None,  # FIFO-capacity eviction is order-dependent state-
    # machine semantics; verified against a python reference model in
    # tests/test_stateful.py (weak rows-only check here).
)
def q_stream_circular_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """catenae CircularOrderedSet re-created as managed streaming state:
    first-seen dedup per user over a FIFO window of the last 3 distinct
    event types — capacity-bounded eviction, the exact semantics of the
    reference's bounded structures (vs watermark-bounded
    dropDuplicatesWithinWatermark)."""
    stream = replay_events(spark, sf_dir)
    return run_available_now(circular_dedup(stream), "update", _name("cdedup"))


@REGISTRY.register(
    "q_stream_multi_source",
    tags=("streaming", "source"),
    oracle="""
SELECT 'conversions' AS topic, event_type,
       CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 4) AS total_value
FROM events WHERE event_type IN ('purchase', 'signup')
GROUP BY event_type
UNION ALL
SELECT 'engagement' AS topic, event_type,
       CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 4) AS total_value
FROM events WHERE event_type IN ('click', 'view')
GROUP BY event_type
""",
)
def q_stream_multi_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-topic consumption (catenae A1 ``parity`` mode: one Link
    subscribed to N topics): two per-topic streams — filtered replays
    standing in for Kafka topics — tagged and merged with ``Link.union``
    (unionByName), one downstream aggregation over the merged stream.
    Spark plans the union as one streaming query reading both sources
    per micro-batch; catenae's ``exp`` prioritization mode has no Spark
    analog and is a documented semantic delta (SURVEY 2A A1)."""
    conversions = (
        Link(replay_events(spark, sf_dir))
        .filter(F.col("event_type").isin("purchase", "signup"))
        .with_column("topic", F.lit("conversions"))
    )
    engagement = (
        Link(replay_events(spark, sf_dir))
        .filter(F.col("event_type").isin("click", "view"))
        .with_column("topic", F.lit("engagement"))
    )
    merged = conversions.union(engagement).map(
        lambda df: df.groupBy("topic", "event_type").agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    return merged.run_available("complete")


@REGISTRY.register(
    "q_stream_route",
    tags=("streaming", "routing"),
    oracle="""
SELECT 'money' AS branch, event_type, COUNT(*) AS n,
       ROUND(SUM(value), 4) AS total_value
FROM events WHERE event_type IN ('purchase', 'signup')
GROUP BY event_type
UNION ALL
SELECT 'errors' AS branch, event_type, COUNT(*) AS n,
       ROUND(SUM(value), 4) AS total_value
FROM events WHERE event_type = 'error'
GROUP BY event_type
""",
)
def q_stream_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-output routing (catenae's Electron-destination-topic
    semantics, SURVEY 2A A5): one replayed source stream fans out into
    predicate branches, each branch aggregates independently, results
    land in per-branch sinks (memory here; Kafka topics in production).
    Spark plans the branches as independent streaming queries over one
    source — the fan-out is N filtered writeStreams, not N re-reads of
    the upstream system when the source supports multiplexing."""
    branches = Link(replay_events(spark, sf_dir, n_files=4)).route(
        money=F.col("event_type").isin("purchase", "signup"),
        errors=F.col("event_type") == "error",
    )
    outs = []
    for name, link in branches.items():
        agg = link.df.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        routed = agg.select(
            F.lit(name).alias("branch"), "event_type", "n", "total_value"
        )
        outs.append(run_available_now(routed, "complete", _name(f"route_{name}")))
    result = outs[0]
    for df in outs[1:]:
        result = result.unionByName(df)
    return result


@REGISTRY.register(
    "q_stream_sink_parquet",
    tags=("streaming", "sink"),
    oracle="""
SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY event_type
""",
)
def q_stream_sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming parquet file sink with checkpointed exactly-once file
    commits: the replayed stream appends micro-batch files under a
    transaction log (_spark_metadata), the batch read-back sees exactly
    the committed files, and the per-type aggregate over the read-back
    equals the batch oracle — i.e. no event is lost or doubled across
    micro-batch commits."""
    import tempfile

    stream = replay_events(spark, sf_dir, n_files=4).select(
        "event_id", "event_type", "value"
    )
    out = tempfile.mkdtemp(prefix="cks_stream_pq_")
    drain(stream, lambda s: parquet_sink(s, out))
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


@REGISTRY.register(
    "q_stream_custom_source",
    tags=("streaming", "source"),
    oracle="""
WITH gen AS (
  SELECT i AS event_id,
         ['click','view','signup','purchase','error'][(i % 5) + 1] AS event_type,
         ((i * 2654435761) % 10000) / 100.0 AS value
  FROM (SELECT unnest(generate_series(0, 9999)) AS i)
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 2) AS total_value
FROM gen
GROUP BY event_type
""",
)
def q_stream_custom_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python STREAMING source (SimpleDataSourceStreamReader):
    row-index offsets, deterministic regeneration between any two
    offsets (exact replay on recovery), drained through a multi-batch
    aggregation. The oracle is the batch SQL over the same arithmetic
    generation — a custom streaming source, value-hash-checked."""
    from catenae_kafka_spark.sources.synthetic import register

    register(spark)
    gen = (
        spark.readStream.format("synthetic_events")
        .option("rows", 10_000)
        .option("batchRows", 2_500)
        .load()
    )
    agg = gen.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return run_available_now(agg, "complete", _name("custom_src"))


@REGISTRY.register(
    "q_stream_sink_custom_kv",
    tags=("streaming", "sink"),
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY event_type
""",
)
def q_stream_sink_custom_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python STREAMING sink (DataSourceStreamWriter): the
    replayed stream commits each micro-batch epoch atomically into the
    KV store (per-epoch two-phase commit, idempotent on re-delivery);
    the read-back aggregate equals the batch oracle — no event lost or
    doubled across epochs."""
    import shutil
    import tempfile

    from catenae_kafka_spark.sources.synthetic import register_kv

    register_kv(spark)
    out = tempfile.mkdtemp(prefix="cks_stream_kv_")
    shutil.rmtree(out, ignore_errors=True)
    stream = replay_events(spark, sf_dir, n_files=4).select(
        "event_id", "event_type"
    )
    drain(
        stream,
        lambda s: s.writeStream.format("kv_store")
        .option("path", out)
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="cks_stream_kv_ckpt_")
        )
        .outputMode("append")
        .start(),
    )
    back = spark.read.json(f"{out}/committed/*/", schema="event_id long, event_type string")
    return back.groupBy("event_type").agg(F.count("*").alias("n"))


@REGISTRY.register(
    "q_stream_state_ttl",
    tags=("streaming", "stateful"),
    oracle="""
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
              OR ts - LAG(ts) OVER w > INTERVAL 2 HOUR THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       CAST(SUM(new_s) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) AS BIGINT) AS total_events
FROM g GROUP BY user_id
""",
)
def q_stream_state_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-TTL lifecycle: per-user session accumulators evicted by
    event-time timeout (watermark passes last-seen + 2 h) or an in-batch
    gap > 2 h, each eviction emitting a closed-session row; the trailing
    sentinel batches push the watermark far ahead so every key's state
    is flushed and the stream ends with ZERO retained state. Because the
    replay is event-time-ordered, the closed sessions equal the batch
    TTL-gap partition exactly (see ttl_sessions) — full SQL oracle.
    Output: per-user session count + total events."""
    from catenae_kafka_spark.streaming.stateful import ttl_sessions

    stream = replay_events(spark, sf_dir, n_files=4, with_sentinel=True).withWatermark(
        "ts", "1 hour"
    )
    closed = run_available_now(ttl_sessions(stream), "append", _name("ttl"))
    # sentinel key (-1) dropped AFTER the stateful op: a group-key
    # filter would be pushed below the watermark node and the flush
    # batches would never arrive (same lesson as q_stream_session)
    return (
        closed.filter(F.col("user_id") >= 0)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("total_events"),
        )
    )


@REGISTRY.register(
    "q_stream_topk",
    tags=("streaming",),
    oracle="""
WITH counts AS (
  SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n
  FROM events GROUP BY date_trunc('hour', ts), event_type
), ranked AS (
  SELECT h, event_type, n,
         ROW_NUMBER() OVER (PARTITION BY h
                            ORDER BY n DESC, event_type) AS rn
  FROM counts
)
SELECT STRFTIME(h, '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type, CAST(n AS BIGINT) AS n, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 2
""",
)
def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending items: top-2 event types per hour over the stream. The
    per-(window, type) counts are maintained INCREMENTALLY by the
    watermarked streaming agg (append mode — each window's counts are
    final when emitted, state evicted after the 25 h delay; sentinel
    batches flush the trailing windows); the rank itself runs as a tiny
    batch pass over the emitted counts, which is windows x types rows —
    ranking is not incrementally maintainable in append semantics
    (a late-but-in-watermark event could reorder an already-emitted
    rank), so emit-final-counts-then-rank is the honest decomposition
    at any scale."""
    stream = replay_events(spark, sf_dir, with_sentinel=True)
    agg = (
        stream.withWatermark("ts", "25 hours")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    out = agg.filter(F.year(F.col("window.start")) < 2030).select(
        F.date_format(F.col("window.start"), WIN_FMT).alias("win_start"),
        "event_type",
        "n",
    )
    counts = run_available_now(out, "append", _name("topk"))
    from pyspark.sql import Window

    w = Window.partitionBy("win_start").orderBy(
        F.col("n").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 2)
    )


@REGISTRY.register(
    "q_stream_join_full",
    tags=("streaming", "join"),
    oracle="""
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       COALESCE(c.user_id, p.user_id) AS user_id
FROM (SELECT * FROM events WHERE event_type = 'click') c
FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
""",
)
def q_stream_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER time-bounded join: clicks matched to
    purchases within 2 h AND unmatched rows from BOTH sides as null
    partners. Each side's null emission waits until its watermark
    proves no partner can arrive; the far-future sentinel rows (passed
    through on both sides, dropped afterwards by id) advance both
    watermarks when the finite replay drains, flushing all buffered
    state — the stream ends with every unmatched row emitted and zero
    retained state."""
    clicks = (
        replay_events(spark, sf_dir, with_sentinel=True)
        .filter((F.col("event_type") == "click") | (F.col("event_id") == -1))
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    purchases = (
        replay_events(spark, sf_dir, with_sentinel=True)
        .filter((F.col("event_type") == "purchase") | (F.col("event_id") == -1))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    l = clicks.withWatermark("c_ts", "8 days")
    r = purchases.withWatermark("p_ts", "8 days")
    joined = l.join(
        r,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 2 HOURS")),
        "fullOuter",
    ).select(
        "click_id",
        "purchase_id",
        F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
    )
    out = run_available_now(joined, "append", _name("ssjoin_full"))
    # sentinel rows (id -1) matched nothing real; drop them from both
    # null-padded sides
    return out.filter(
        (F.col("click_id").isNull() | (F.col("click_id") >= 0))
        & (F.col("purchase_id").isNull() | (F.col("purchase_id") >= 0))
    )


@REGISTRY.register(
    "q_stream_pattern",
    tags=("streaming", "stateful"),
    oracle="""
WITH s AS (
  SELECT user_id, MIN(ts) AS s_ts
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), nxt AS (
  SELECT e.user_id,
         MIN(ts) FILTER (event_type = 'purchase') AS p_ts,
         MIN(ts) FILTER (event_type = 'error') AS e_ts
  FROM events e JOIN s ON e.user_id = s.user_id AND e.ts > s.s_ts
  GROUP BY e.user_id
)
SELECT s.user_id,
       STRFTIME(s_ts, '%Y-%m-%d %H:%M:%S') AS signup_ts,
       STRFTIME(p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
FROM s JOIN nxt ON s.user_id = nxt.user_id
WHERE p_ts IS NOT NULL
  AND p_ts <= s_ts + INTERVAL 7 DAY
  AND (e_ts IS NULL OR e_ts > p_ts)
""",
)
def q_stream_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING pattern detection with negation: the q_pattern_negation
    state machine (first signup → first subsequent purchase, poisoned
    by an error in between) carried across micro-batches as per-user
    GroupState via applyInPandasWithState. The event-time-ordered
    replay makes the incremental run equal the batch semantics exactly,
    so the full SQL oracle applies; the 7-day window and the immutable-
    once-converted emission are filtered/deduped in the tiny post-pass.
    The purchase-first edge case (machine records p_ts only when a
    purchase follows signup un-poisoned) mirrors the oracle's
    e_ts > p_ts clause."""
    from catenae_kafka_spark.streaming.stateful import funnel_state_machine

    stream = replay_events(spark, sf_dir)
    converted = run_available_now(
        funnel_state_machine(stream), "update", _name("pattern")
    )
    fmt = "yyyy-MM-dd HH:mm:ss"
    s_ts = F.timestamp_micros(F.col("s_ts_us"))
    p_ts = F.timestamp_micros(F.col("p_ts_us"))
    return (
        converted.distinct()
        .filter(p_ts <= s_ts + F.expr("INTERVAL 7 DAYS"))
        .select(
            "user_id",
            F.date_format(s_ts, fmt).alias("signup_ts"),
            F.date_format(p_ts, fmt).alias("purchase_ts"),
        )
    )


@REGISTRY.register(
    "q_stream_anomaly",
    tags=("streaming", "stateful"),
    oracle="""
WITH seq AS (
  SELECT user_id,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts, event_id) - 1 AS n_prev,
         COALESCE(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s_prev,
         COALESCE(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                      * CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ss_prev
  FROM events
), flagged AS (
  SELECT user_id,
         CASE WHEN n_prev >= 10
                   AND (CAST(ss_prev AS DOUBLE)
                        - CAST(s_prev AS DOUBLE) * s_prev / n_prev)
                       / (n_prev - 1) > 0
                   AND (c - CAST(s_prev AS DOUBLE) / n_prev)
                       * (c - CAST(s_prev AS DOUBLE) / n_prev)
                     > 9.0 * (CAST(ss_prev AS DOUBLE)
                              - CAST(s_prev AS DOUBLE) * s_prev / n_prev)
                           / (n_prev - 1)
              THEN 1 ELSE 0 END AS is_anomaly
  FROM seq
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(is_anomaly) AS BIGINT) AS n_anomalies
FROM flagged GROUP BY user_id
""",
)
def q_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming prequential anomaly detection: each event is z-scored
    against the user's running mean/variance BEFORE the event, state
    folded across micro-batches via applyInPandasWithState (four exact
    BIGINT counters per user). Order-dependent by construction — the
    oracle replays the identical fold as exclusive prefix sums over
    the event-time order, exact to the bit because every float derives
    from the same integer sums. Update mode emits cumulative counters
    per (user, batch); the max-n_events row per user is the final
    answer."""
    from pyspark.sql import Window

    from catenae_kafka_spark.streaming.stateful import streaming_anomaly

    stream = replay_events(spark, sf_dir)
    updates = run_available_now(
        streaming_anomaly(stream), "update", _name("anomaly")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_events", "n_anomalies")
    )


@REGISTRY.register(
    "q_kappa_unified_view",
    tags=("streaming", "architecture"),
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents
FROM events
""",
)
def q_kappa_unified_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kappa/lambda unified serving view: the batch HISTORY (events
    before Jan 16) and a STREAMING TAIL (the rest, replayed through a
    checkpointed exactly-once parquet sink) merge at query time into
    one logical table, deduplicated by event_id — the read path of
    every "stream feeds the lake, queries see one table" deployment.

    The overlap is real, not simulated: the tail replays WITH three
    days of history re-delivered (late/duplicate delivery), so the
    event_id dedup is load-bearing — drop it and the oracle (plain
    batch over the source) catches the double count. The dedup is a
    hash aggregate on the id, the only shuffle beyond the streaming
    sink's own commit."""
    import tempfile

    from catenae_kafka_spark.catalog import catalog

    cut = F.lit("2024-01-16").cast("timestamp")
    redeliver_from = F.lit("2024-01-13").cast("timestamp")
    c = catalog(spark, sf_dir)
    cols = ["event_id", "user_id", "event_type", "value"]
    history = c.events.filter(F.col("ts") < cut).select(*cols)
    tail_stream = replay_events(spark, sf_dir, n_files=4).filter(
        F.col("ts") >= redeliver_from
    ).select(*cols)
    out = tempfile.mkdtemp(prefix="cks_kappa_")
    drain(tail_stream, lambda s: parquet_sink(s, out))
    tail = spark.read.parquet(out)
    unified = history.unionByName(tail)
    deduped = unified.groupBy("event_id").agg(
        F.first("user_id").alias("user_id"),
        F.first("event_type").alias("event_type"),
        F.first("value").alias("value"),
    )
    cents = half_up("value", 100)
    return deduped.agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(cents).alias("cents"),
    )


@REGISTRY.register(
    "q_stream_progress_metrics",
    tags=("streaming", "observability"),
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS total_input_rows,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS distinct_ids
FROM events
""",
)
def q_stream_progress_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming observability contract: the sum of numInputRows over
    every micro-batch progress report must equal the batch row count
    of the source — rows are neither dropped nor double-counted across
    micro-batch boundaries. This is the accounting invariant an
    operations team alerts on (progress metrics ARE the production
    visibility into a stream); here it is value-checked against the
    batch oracle instead of eyeballed.

    The distinct-id count rides along through the memory sink to prove
    the data path agrees with the metrics path. The sink's temp view
    lives in the drain's session clone and is read from there."""
    stream = replay_events(spark, sf_dir).select("event_id")
    name = _name("progress")
    clone: list[SparkSession] = []

    def start(s: DataFrame):
        clone.append(s.sparkSession)
        return memory_sink(s, name)

    q = drain(stream, start)
    metric_rows = sum(p["numInputRows"] for p in (q.recentProgress or []))
    sunk = in_session(spark, clone[0].table(name))
    return sunk.agg(
        F.lit(metric_rows).cast("long").alias("total_input_rows"),
        F.countDistinct("event_id").alias("distinct_ids"),
    )


@REGISTRY.register(
    "q_stream_window_chain",
    tags=("streaming", "stateful"),
    oracle="""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, event_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY date_trunc('hour', ts), event_type
)
SELECT STRFTIME(TIMESTAMP '1970-01-01 00:00:00'
         + to_seconds(CAST(floor(epoch(h) / 21600) * 21600 AS BIGINT)),
         '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type,
       CAST(SUM(n) AS BIGINT) AS total_n,
       CAST(MAX(n) AS BIGINT) AS peak_hour_n,
       CAST(COUNT(*) AS BIGINT) AS n_hours
FROM hourly GROUP BY 1, 2
""",
)
def q_stream_window_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED WINDOWED AGGREGATIONS in one streaming pipeline (Spark 4
    multi-stateful): tumbling 1-hour counts per event_type, re-windowed
    into 6-hour rollups (total / peak-hour / hour count) by passing the
    inner window struct straight into the outer ``window()`` — the
    streaming form of a time-hierarchy rollup (hypertable continuous
    aggregate chaining). Both stages' state is watermark-bounded; the
    6-hour stage consumes FINALIZED hourly windows only (append mode),
    so the rollup never sees a partial hour. Counts stay BIGINT-exact
    end to end — the oracle is the equivalent two-level batch GROUP BY.
    Sentinel events flush the trailing windows and are dropped by their
    far-future year."""
    stream = replay_events(spark, sf_dir, with_sentinel=True)
    hourly = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
    )
    rollup = hourly.groupBy(
        F.window(F.col("window"), "6 hours"), F.col("event_type")
    ).agg(
        F.sum("n").cast("bigint").alias("total_n"),
        F.max("n").alias("peak_hour_n"),
        F.count("*").alias("n_hours"),
    )
    out = rollup.filter(F.year(F.col("window.start")) < 2030).select(
        F.date_format(F.col("window.start"), WIN_FMT).alias("win_start"),
        "event_type",
        "total_n",
        "peak_hour_n",
        "n_hours",
    )
    return run_available_now(out, "append", _name("window_chain"))


@REGISTRY.register(
    "q_stream_sample_k",
    tags=("streaming", "stateful"),
    oracle="""
SELECT event_type, CAST(pos AS INT) AS pos, event_id FROM (
  SELECT event_type, event_id,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY md5(CAST(event_id AS VARCHAR)), event_id)
           AS pos
  FROM events
) WHERE pos <= 20
""",
)
def q_stream_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deterministic exact-k sample (k=20 per event type):
    bounded k-pair state per key maintained across micro-batches
    (streaming_sample_k). Because membership is min-k of a fixed md5
    rank, the sample is arrival-order-independent and matches the
    batch QUALIFY row_number() <= k oracle EXACTLY — the streaming
    sampler a pipeline can leave running forever and still audit
    against a batch recompute. Update mode emits a snapshot per
    (key, batch); the max-n_seen snapshot per key is final, then the
    arrays explode back to rows."""
    from catenae_kafka_spark.streaming.stateful import streaming_sample_k

    stream = replay_events(spark, sf_dir)
    updates = run_available_now(
        streaming_sample_k(stream), "update", _name("sample_k")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.col("n_seen").desc())
    final = (
        updates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("event_type", F.posexplode("ids").alias("pos0", "event_id"))
    )
    return final.select(
        "event_type", (F.col("pos0") + 1).cast("int").alias("pos"), "event_id"
    )


@REGISTRY.register(
    "q_stream_ohlc",
    tags=("streaming",),
    oracle="""
WITH ranked AS (
  SELECT date_trunc('hour', ts) AS h, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts), event_type
                            ORDER BY ts, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts), event_type
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT STRFTIME(h, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open_v,
       MAX(value) AS high_v,
       MIN(value) AS low_v,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close_v,
       COUNT(*) AS n
FROM ranked
GROUP BY h, event_type
""",
)
def q_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC candlesticks: per (1-hour tumbling window,
    event_type), the first/max/min/last `value` plus the event count,
    computed incrementally by min_by/max_by over a (ts, event_id)
    ordering key inside the watermark-windowed state — the canonical
    market-data rollup, but on the event stream.

    first()/last() in a streaming agg are arrival-order-dependent;
    min_by/max_by on the total (ts, event_id) order make open/close
    deterministic regardless of micro-batch boundaries, which is what
    lets a DuckDB window oracle hash-match a real multi-batch run.

    Scale shape: pure declarative streaming aggregation — per-key
    running state is 4 scalars + 2 ordering keys, merged map-side per
    micro-batch; state is evicted by the watermark. No
    applyInPandas, no Python in the loop.
    """
    stream = replay_events(spark, sf_dir)
    order_key = F.struct(F.col("ts"), F.col("event_id"))
    agg = ops.tumbling_window_agg(
        stream,
        "1 hour",
        [
            F.min_by("value", order_key).alias("open_v"),
            F.max("value").alias("high_v"),
            F.min("value").alias("low_v"),
            F.max_by("value", order_key).alias("close_v"),
            F.count("*").alias("n"),
        ],
        keys=["event_type"],
    )
    out = agg.select(
        F.date_format(F.col("window.start"), WIN_FMT).alias("win_start"),
        "event_type",
        "open_v",
        "high_v",
        "low_v",
        "close_v",
        "n",
    )
    return run_available_now(out, "complete", _name("ohlc"))


@REGISTRY.register(
    "q_stream_argmax",
    tags=("streaming", "stateful"),
    oracle="""
WITH m AS (
  SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
         event_id,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY FLOOR(value * 100 + 0.5) DESC,
                                     event_id DESC) AS rn
  FROM events
)
SELECT event_type, cents AS max_cents, event_id AS argmax_event_id
FROM m WHERE rn = 1
""",
)
def q_stream_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming running argmax per key: the event_id holding the
    maximum value (cents) seen so far for each event_type, maintained
    across micro-batches as a single struct-max state row per key —
    the leaderboard/record-tracking primitive.

    Determinism: a bare max_by is tie-arbitrary; max over the
    struct (cents, event_id) makes the tie-break total (highest
    event_id among equal cents), so the final state after ANY
    micro-batch partitioning equals the batch window oracle exactly.

    Scale shape: declarative global streaming agg, state = one
    16-byte struct per key (no watermark needed — state is keyed by
    the type domain, not time), merged map-side each batch."""
    stream = replay_events(spark, sf_dir)
    agg = (
        stream.withColumn("cents", half_up("value", 100))
        .groupBy("event_type")
        .agg(F.max(F.struct("cents", "event_id")).alias("m"))
        .select(
            "event_type",
            F.col("m.cents").alias("max_cents"),
            F.col("m.event_id").alias("argmax_event_id"),
        )
    )
    return run_available_now(agg, "complete", _name("argmax"))


@REGISTRY.register(
    "q_stream_percentile",
    tags=("streaming", "stateful", "sketch"),
    oracle="""
WITH b AS (
  SELECT event_type,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) // 1000 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, bucket
), c AS (
  SELECT event_type, bucket, n,
         SUM(n) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
         SUM(n) OVER (PARTITION BY event_type) AS total
  FROM b
)
SELECT event_type,
       CAST(MIN(CASE WHEN cum * 2 >= total THEN bucket * 1000 END) AS BIGINT)
         AS p50_floor_cents,
       CAST(MIN(CASE WHEN cum * 10 >= total * 9 THEN bucket * 1000 END)
            AS BIGINT) AS p90_floor_cents,
       CAST(MIN(CASE WHEN cum * 100 >= total * 99 THEN bucket * 1000 END)
            AS BIGINT) AS p99_floor_cents
FROM c GROUP BY event_type
""",
)
def q_stream_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantiles via an exact fixed-width histogram: the
    stream maintains per-(type, 10-dollar-bucket) counts as mergeable
    state (a declarative streaming groupBy — the histogram IS the
    sketch), and p50/p90/p99 are read off the cumulative histogram as
    bucket lower bounds after the run. Bucketed quantiles trade
    resolution for EXACTNESS and mergeability — unlike t-digest/KLL the
    answer is deterministic, so the driver hash-checks it; the rank
    inequalities (2*cum >= total etc.) are pure BIGINT.

    Scale shape: state is bounded by types x occupied buckets (value
    domain / 10 dollars), shuffle carries partial counts map-combined
    per micro-batch; the quantile extraction is a tiny batch window
    over the final histogram."""
    stream = replay_events(spark, sf_dir)
    hist = (
        stream.withColumn(
            "bucket",
            F.expr(
                "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) div 1000"
            ),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    final = run_available_now(hist, "complete", _name("percentile"))
    from pyspark.sql import Window

    wc = Window.partitionBy("event_type").orderBy("bucket")
    wt = Window.partitionBy("event_type")
    c = final.select(
        "event_type",
        "bucket",
        F.sum("n").over(wc).alias("cum"),
        F.sum("n").over(wt).alias("total"),
    )
    pick = lambda num, den, name: F.min(
        F.when(
            F.col("cum") * num >= F.col("total") * den,
            F.col("bucket") * 1000,
        )
    ).cast("bigint").alias(name)
    return c.groupBy("event_type").agg(
        pick(2, 1, "p50_floor_cents"),
        pick(10, 9, "p90_floor_cents"),
        pick(100, 99, "p99_floor_cents"),
    )


@REGISTRY.register(
    "q_stream_idempotent_sink",
    tags=("streaming", "sink"),
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents
FROM events GROUP BY event_type
""",
)
def q_stream_idempotent_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming file sink, PROVEN by double-drain: the
    event stream is appended to a parquet sink with a STABLE
    checkpoint, drained to completion, then the SAME query is started
    again on the same checkpoint — the second run finds all offsets
    committed and writes nothing, and the function raises if the sink
    row count moved. The returned aggregate is computed FROM THE SINK
    (via its _spark_metadata commit log), so matching the batch oracle
    certifies end-to-end exactly-once delivery, not just absence of
    crashes. This is the recovery semantics a 100 TB pipeline leans on
    when a driver dies mid-stream: restart from checkpoint, no dups,
    no loss.

    Scale shape: map-only projection (no state at all); sink commit
    cost is the per-batch metadata append."""
    import hashlib
    import os as _os
    import tempfile

    from catenae_kafka_spark.streaming.sources import replay_tag

    # the checkpoint pins the replay staging path it first saw — fold
    # the staging tag in so a replay re-layout invalidates it in lockstep
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
    base = _os.path.join(
        tempfile.gettempdir(), "catenae_kafka_spark", tag,
        f"idem_sink_{replay_tag(sf_dir)}"
    )
    sink = _os.path.join(base, "data")
    ckpt = _os.path.join(base, "ckpt")
    _os.makedirs(base, exist_ok=True)

    def drain_once() -> None:
        proj = replay_events(spark, sf_dir).select(
            "event_id",
            "event_type",
            half_up("value", 100).alias("cents"),
        )
        drain(proj, lambda s: parquet_sink(s, sink, checkpoint=ckpt))

    drain_once()
    n1 = spark.read.parquet(sink).count()
    drain_once()  # same checkpoint: must be a no-op
    n2 = spark.read.parquet(sink).count()
    if n1 != n2:
        raise RuntimeError(
            f"exactly-once violated: sink grew {n1} -> {n2} on re-drain"
        )
    return (
        spark.read.parquet(sink)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
    )


@REGISTRY.register(
    "q_stream_batch_invariance",
    tags=("streaming", "correctness"),
    oracle="""
SELECT STRFTIME(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents
FROM events GROUP BY win_start, event_type
""",
)
def q_stream_batch_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batch-boundary invariance proof: the SAME tumbling
    watermark aggregation is executed twice — once with fine-grained
    micro-batches (1 file per trigger → 8 batches) and once with the
    whole replay in a single batch — and the function raises unless the
    two results are row-identical. Streaming correctness means the
    answer depends on the DATA and the watermark, never on where the
    engine happened to cut batches (the invariant that lets you retune
    trigger intervals / backfill in one shot without changing results).

    The returned (fine-grained) result is additionally hash-checked
    against the batch SQL oracle.

    Scale shape: the declarative windowed agg of q_stream_tumbling; the
    double execution is the PROOF harness, not the production shape."""
    from catenae_kafka_spark.streaming.sources import FileReplaySource

    def run(files_per_trigger: int) -> DataFrame:
        stream = FileReplaySource(
            sf_dir=sf_dir, files_per_trigger=files_per_trigger
        ).load(spark)
        agg = ops.tumbling_window_agg(
            stream,
            "1 hour",
            [
                F.count("*").cast("bigint").alias("n"),
                F.sum(half_up("value", 100))
                .cast("bigint")
                .alias("cents"),
            ],
            keys=["event_type"],
        ).select(
            F.date_format(F.col("window.start"), WIN_FMT).alias("win_start"),
            "event_type",
            "n",
            "cents",
        )
        return run_available_now(
            agg, "complete", _name(f"inv{files_per_trigger}")
        )

    fine = run(1)
    coarse = run(8)
    key = ["win_start", "event_type", "n", "cents"]
    # The set comparison collects AGGREGATED rows, bounded by the
    # (hour-window x event_type) domain, never by corpus size — make
    # that bound self-enforcing so a fixture/schema change that breaks
    # the aggregation fails here, not by OOMing the driver (VERDICT r6).
    for side, label in ((fine, "fine"), (coarse, "coarse")):
        n = side.count()
        if n > _INVARIANCE_COLLECT_CAP:
            raise RuntimeError(
                f"batch-invariance {label} result has {n} rows, over the "
                f"domain-bound cap {_INVARIANCE_COLLECT_CAP}; refusing to "
                "collect a data-sized result to the driver"
            )
    a = {tuple(r) for r in fine.select(*key).collect()}
    b = {tuple(r) for r in coarse.select(*key).collect()}
    if a != b:
        raise RuntimeError(
            "micro-batch boundary changed the result: "
            f"{len(a ^ b)} differing rows between 8-batch and 1-batch runs"
        )
    return fine


@REGISTRY.register(
    "q_stream_cusum",
    tags=("streaming", "stateful", "monitoring"),
    oracle="""
WITH seq AS (
  SELECT user_id, ts, event_id,
         SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT) - 5000) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
  FROM events
), cusum AS (
  SELECT user_id,
         p - LEAST(MIN(p) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS s
  FROM seq
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(s) AS BIGINT) AS max_cusum,
       CAST(SUM(CASE WHEN s > 50000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_over_threshold
FROM cusum GROUP BY user_id
""",
)
def q_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CUSUM change detection: the q_cusum_alarm recursion as
    live per-user state (four BIGINT counters in
    applyInPandasWithState, folded across micro-batches) — the alarm
    that actually pages someone runs HERE, on the stream; the batch
    twin's prefix-sum closed form is the backfill/audit path, and the
    shared oracle proves they agree exactly on the ordered replay.
    Update mode emits cumulative counters per (user, batch); the
    max-n_events snapshot per user is final."""
    from catenae_kafka_spark.streaming.stateful import streaming_cusum

    from pyspark.sql import Window

    stream = replay_events(spark, sf_dir)
    updates = run_available_now(
        streaming_cusum(stream), "update", _name("cusum")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_events", "max_cusum", "n_over_threshold")
    )


@REGISTRY.register(
    "q_stream_sink_partitioned",
    tags=("streaming", "sink"),
    oracle="""
SELECT event_type,
       CAST(EXTRACT(day FROM ts) AS BIGINT) AS day_of_month,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY event_type, day_of_month
""",
)
def q_stream_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PARTITIONED file sink: the event stream lands in a
    parquet layout partitioned by event_type (checkpointed,
    exactly-once via the sink's _spark_metadata log), and the
    read-back aggregates per partition directory — the layout that
    lets every downstream batch reader partition-prune the streamed
    data (the streaming half of q_dynamic_partition_pruning's story).

    Scale note: streaming partitionBy multiplies open files per
    micro-batch by the partition-value count — keep the partition
    column low-cardinality (type/date, never user)."""
    import hashlib
    import os as _os
    import tempfile

    from catenae_kafka_spark.streaming.sources import replay_tag

    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
    base = _os.path.join(
        tempfile.gettempdir(), "catenae_kafka_spark", tag,
        f"part_sink_{replay_tag(sf_dir)}"
    )
    sink = _os.path.join(base, "data")
    ckpt = _os.path.join(base, "ckpt")
    _os.makedirs(base, exist_ok=True)
    proj = replay_events(spark, sf_dir).select(
        "event_id", "event_type", F.dayofmonth("ts").alias("day_of_month")
    )
    drain(
        proj,
        lambda s: parquet_sink(
            s, sink, checkpoint=ckpt, partition_by=("event_type",)
        ),
    )
    # explicit schema: an EMPTY stream commits no part files and
    # read-back inference fails (empty-fixture fuzz); also skips the
    # footer-sampling job on the non-empty path
    return (
        spark.read.schema(proj.schema).parquet(sink)
        .groupBy(
            F.col("event_type").cast("string").alias("event_type"),
            F.col("day_of_month").cast("bigint").alias("day_of_month"),
        )
        .agg(F.count("*").cast("bigint").alias("n"))
    )


@REGISTRY.register(
    "q_stream_gap_alarm",
    tags=("streaming", "stateful", "monitoring"),
    oracle="""
WITH seq AS (
  SELECT event_type,
         epoch_us(ts) AS us,
         LAG(epoch_us(ts)) OVER (PARTITION BY event_type
                                 ORDER BY ts, event_id) AS prev_us
  FROM events
)
SELECT event_type,
       CAST(prev_us AS BIGINT) AS gap_start_us,
       CAST((us - prev_us) // 1000000 AS BIGINT) AS gap_s
FROM seq
WHERE prev_us IS NOT NULL AND (us - prev_us) // 1000000 > 600
""",
)
def q_stream_gap_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING heartbeat/outage detection: per event type, alarm on
    any silence longer than 10 minutes — state is a single timestamp
    per key carried across micro-batches, so the detector runs forever
    at constant memory, and the ordered replay makes its alarm set
    EQUAL the batch LAG oracle (a monitoring rule you can backtest
    batch-side with the same semantics).

    The gap that matters most — source died mid-stream and nothing
    arrives again — surfaces at the next event or, on a live stream,
    via a processing-time timeout on this same state (GroupState
    timeout; not exercised by the finite replay)."""
    from catenae_kafka_spark.streaming.stateful import streaming_gap_alarm

    stream = replay_events(spark, sf_dir)
    out = run_available_now(
        streaming_gap_alarm(stream), "append", _name("gap_alarm")
    )
    return out.select("event_type", "gap_start_us", "gap_s")


@REGISTRY.register(
    "q_stream_restart_recovery",
    tags=("streaming", "fault-tolerance"),
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents
FROM events GROUP BY event_type
""",
)
def q_stream_restart_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint RESTART/RECOVERY proof: a stateful streaming
    aggregation is run to completion on HALF the input files, the
    query is stopped (simulating a driver death), the remaining files
    arrive, and a NEW query object on the SAME checkpoint resumes —
    recovering both source offsets and aggregation state. Each
    micro-batch upserts its counters to a keyed parquet log via
    foreachBatch; the final per-key row (max batch_id wins) must equal
    the batch oracle, and batch ids CONTINUE across the restart
    (asserted in tests) — the recovery semantics a 100 TB pipeline
    actually relies on, demonstrated rather than assumed.

    Scale shape: declarative streaming agg (update mode), state =
    2 counters per key; the foreachBatch upsert log is the idempotent
    sink pattern for aggregates (file sinks can't take updates)."""
    import glob
    import hashlib
    import os as _os
    import shutil
    import tempfile

    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
    base = _os.path.join(
        tempfile.gettempdir(), "catenae_kafka_spark", tag, "restart_v1"
    )
    src = _os.path.join(base, "src")
    live = _os.path.join(base, "live")
    ckpt = _os.path.join(base, "ckpt")
    log = _os.path.join(base, "log")
    marker = _os.path.join(base, "_STAGED")
    if not _os.path.exists(marker):
        ev = spark.read.parquet(_os.path.join(sf_dir, "events.parquet"))
        ev.repartitionByRange(4, "ts").write.mode("overwrite").parquet(src)
        with open(marker, "w") as fh:
            fh.write("ok")
    # fresh run each invocation: the proof is the restart, so the log,
    # checkpoint and live dir reset (cheap — the STAGED src persists)
    for d in (live, ckpt, log):
        shutil.rmtree(d, ignore_errors=True)
    _os.makedirs(live, exist_ok=True)
    files = sorted(glob.glob(_os.path.join(src, "part-*")))
    schema = spark.read.parquet(src).schema

    def run_until_drained() -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(live)
        )
        agg = (
            stream.withColumn("cents", half_up("value", 100))
            .groupBy("event_type")
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.sum("cents").cast("bigint").alias("cents"),
            )
        )

        def upsert(batch_df, batch_id: int) -> None:
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(log)

        drain(agg, lambda s: foreach_batch_sink(s, upsert, checkpoint=ckpt))

    # phase 1: half the data arrives, query runs, then "dies"
    for f in files[:2]:
        shutil.copy(f, live)
    run_until_drained()
    # phase 2: rest of the data arrives; NEW query, SAME checkpoint
    for f in files[2:]:
        shutil.copy(f, live)
    run_until_drained()
    from pyspark.sql import Window

    final = spark.read.parquet(log)
    w = Window.partitionBy("event_type").orderBy(F.col("batch_id").desc())
    return (
        final.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("event_type", "n", "cents")
    )


@REGISTRY.register(
    "q_stream_drawdown",
    tags=("streaming", "stateful", "finance"),
    oracle="""
WITH flows AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase'
              THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
              WHEN event_type = 'click'
              THEN -CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
              ELSE 0 END AS flow_cents
  FROM events
), bal AS (
  SELECT user_id, ts, event_id,
         CAST(SUM(flow_cents) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS balance
  FROM flows
), dd AS (
  SELECT user_id, balance,
         CAST(MAX(balance) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) - balance AS drawdown
  FROM bal
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_flows,
       CAST(MAX(balance) AS BIGINT) AS peak_cents,
       CAST(MAX(drawdown) AS BIGINT) AS max_drawdown_cents
FROM dd GROUP BY user_id
""",
)
def q_stream_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING maximum drawdown per user: the q_max_drawdown ledger
    as live per-key state (balance / high-water mark / deepest fall,
    three exact BIGINTs in applyInPandasWithState) — the risk monitor
    runs on the stream; the batch twin's stacked running-sum/running-
    max windows are the backfill path, and the shared oracle proves
    they agree exactly on the ordered replay.

    Update mode emits cumulative counters per (user, batch); the
    max-n_flows snapshot per user is final."""
    from pyspark.sql import Window

    from catenae_kafka_spark.streaming.stateful import streaming_drawdown

    stream = replay_events(spark, sf_dir)
    updates = run_available_now(
        streaming_drawdown(stream), "update", _name("drawdown")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_flows").desc())
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_flows", "peak_cents", "max_drawdown_cents")
    )


@REGISTRY.register(
    "q_stream_vwap",
    tags=("streaming", "finance"),
    oracle="""
SELECT STRFTIME(TIMESTAMP '1970-01-01 00:00:00'
         + to_seconds(CAST(floor(epoch(ts) / 900) * 900 AS BIGINT)),
         '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_trades,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                * CAST(FLOOR(value * 100 + 0.5) AS BIGINT) // 100)
            AS BIGINT) AS notional,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                * CAST(FLOOR(value * 100 + 0.5) AS BIGINT) // 100)
            AS BIGINT)
         // CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS vwap_ratio
FROM events
GROUP BY win_start, event_type
""",
)
def q_stream_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING volume-weighted average price: per 15-minute tumbling
    event-time window and event type, sum(price x volume) / sum(volume)
    with the event's cent value standing in for both price and size
    (notional = cents^2/100, the self-weighted mean every market-data
    pipeline computes) — the weighted-aggregate streaming shape that
    plain counts/sums (q_stream_tumbling) don't exercise: TWO running
    numerators folded per window plus a final ratio projection.

    Exact: cents are BIGINT, the notional product floors once per
    event (identically in both engines), sums fold in BIGINT, and the
    final ratio is one integer floor division at emit time. Watermark
    10 minutes; complete mode over the finite replay equals the batch
    GROUP BY oracle exactly."""
    stream = replay_events(spark, sf_dir)
    cents = half_up("value", 100)
    enriched = stream.withColumn("cents", cents).withColumn(
        "notional_part", F.expr("cents * cents div 100")
    )
    agg = ops.tumbling_window_agg(
        enriched,
        "15 minutes",
        [
            F.count("*").cast("bigint").alias("n_trades"),
            F.sum("notional_part").cast("bigint").alias("notional"),
            F.sum("cents").cast("bigint").alias("vol"),
        ],
        keys=["event_type"],
    )
    out = agg.select(
        F.date_format(F.col("window.start"), WIN_FMT).alias("win_start"),
        "event_type",
        "n_trades",
        "notional",
        F.expr("notional div vol").alias("vwap_ratio"),
    )
    return run_available_now(out, "complete", _name("vwap"))


@REGISTRY.register(
    "q_stream_drift_monitor",
    tags=("streaming", "stateful", "monitoring"),
    oracle="""
WITH ordered AS (
  SELECT event_type, ROW_NUMBER() OVER (ORDER BY ts, event_id) AS rn
  FROM events
), counts AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN rn <= 500 THEN 1 ELSE 0 END) AS BIGINT) AS rc,
         CAST(SUM(CASE WHEN rn > 500 THEN 1 ELSE 0 END) AS BIGINT) AS cc
  FROM ordered GROUP BY event_type
), tot AS (
  SELECT CAST(SUM(rc) AS BIGINT) AS nr, CAST(SUM(cc) AS BIGINT) AS nc
  FROM counts
)
SELECT nr AS n_ref, nc AS n_cur,
       CAST(SUM(ABS((rc * 1000000) // nr - (cc * 1000000) // nc)) // 2
            AS BIGINT) AS tvd_micro
FROM counts CROSS JOIN tot GROUP BY nr, nc
""",
)
def q_stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING distribution-drift monitor: the first 500 events (in
    event order) freeze a reference event-type mix; everything after
    accrues to the current window; the emitted exact total-variation
    distance (micro units) is the alarm signal for "did the traffic
    mix shift?" — the streaming sibling of q_psi_drift, with the
    period split carried as live state instead of a batch WHERE.

    The final update row (max n_ref + n_cur) equals the batch
    rank-split oracle exactly: floored micro-shares on both sides,
    ordered replay, one state key (see streaming_drift_monitor's
    sharding note)."""
    from pyspark.sql import Window

    from catenae_kafka_spark.streaming.stateful import (
        streaming_drift_monitor,
    )

    stream = replay_events(spark, sf_dir)
    updates = run_available_now(
        streaming_drift_monitor(stream), "update", _name("drift")
    )
    w = Window.orderBy((F.col("n_ref") + F.col("n_cur")).desc())
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("n_ref", "n_cur", "tvd_micro")
    )


@REGISTRY.register(
    "q_stream_backfill_seam",
    tags=("streaming", "sink", "lambda"),
    oracle="""
WITH b AS (
  SELECT epoch_us(MIN(ts)) AS mn_us, epoch_us(MAX(ts)) AS mx_us
  FROM events
), cut AS (
  SELECT ((mn_us + ((mx_us - mn_us) * 3) // 5) // 3600000000)
           * 3600000000 AS cutoff_us
  FROM b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents,
       CAST(SUM(CASE WHEN epoch_us(ts) >= cutoff_us - 3600000000
                      AND epoch_us(ts) < cutoff_us THEN 1 ELSE 0 END)
            AS BIGINT) AS n_overlap
FROM events CROSS JOIN cut
""",
)
def q_stream_backfill_seam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill/live seam audit (the lambda-architecture handoff): a
    BATCH backfill covers history up to a cutoff; the LIVE stream
    replays everything from one hour BEFORE that cutoff (deliberate
    overlap — a seam with a gap loses data, so real handoffs always
    overlap) into an exactly-once parquet sink; the union is deduped
    on event_id at the seam. The audit proves the merged table equals
    the source exactly — count and cent-sum — and reports the overlap
    row count (nonzero, or the test is vacuous; property-tested).

    The cutoff is data-derived in exact integer microseconds (60% of
    the time span, truncated to the hour), so the seam is
    deterministic at every scale factor.

    Scale shape: the dedup shuffles only the seam's key column over
    the overlap window in production (here the whole fixture for the
    oracle's sake); the sink is the checkpointed exactly-once file
    sink proven in q_stream_idempotent_sink."""
    import os as _os

    from catenae_kafka_spark.sources.scans import _work_dir

    c = catalog(spark, sf_dir)
    ev = c.events
    bounds = ev.agg(
        F.expr("unix_micros(min(ts))").alias("mn_us"),
        F.expr("unix_micros(max(ts))").alias("mx_us"),
    ).collect()[0]
    if bounds.mn_us is None:
        # EMPTY source: there is no seam to audit — mirror the
        # oracle's aggregate-over-nothing row (count 0, NULL sums)
        # instead of raising on None arithmetic (empty-fixture fuzz);
        # no stream needs to run to prove an empty handoff
        empty = ev.select(
            half_up("value", 100).alias("cents")
        )
        return empty.agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.sum(F.lit(1)).cast("bigint").alias("n_overlap"),
        )
    cutoff_us = (
        (bounds.mn_us + ((bounds.mx_us - bounds.mn_us) * 3) // 5)
        // 3600000000
    ) * 3600000000
    overlap_us = cutoff_us - 3600000000
    batch_half = ev.filter(F.expr(f"unix_micros(ts) < {cutoff_us}")).select(
        "event_id",
        half_up("value", 100).alias("cents"),
        F.expr("unix_micros(ts)").alias("us"),
    )
    from catenae_kafka_spark.streaming.sources import replay_tag

    base = _work_dir(sf_dir, f"backfill_seam_{replay_tag(sf_dir)}")
    sink = _os.path.join(base, "live")
    ckpt = _os.path.join(base, "ckpt")
    live = (
        replay_events(spark, sf_dir)
        .filter(F.expr(f"unix_micros(ts) >= {overlap_us}"))
        .select(
            "event_id",
            half_up("value", 100).alias("cents"),
            F.expr("unix_micros(ts)").alias("us"),
        )
    )
    drain(live, lambda s: parquet_sink(s, sink, checkpoint=ckpt))
    merged = batch_half.unionByName(spark.read.parquet(sink)).dropDuplicates(
        ["event_id"]
    )
    return merged.agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.sum(
            F.when(
                (F.col("us") >= overlap_us) & (F.col("us") < cutoff_us), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_overlap"),
    )


@REGISTRY.register(
    "q_stream_session_dynamic",
    tags=("streaming", "sessionization"),
    oracle="""
WITH g AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN event_type = 'click' THEN 3600 ELSE 7200 END AS gap_s,
         CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w)
                   > CASE WHEN event_type = 'click' THEN 3600 ELSE 7200 END
              OR LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
), s AS (
  SELECT user_id, event_type, ts,
         SUM(new_session) OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING)
           AS session_id
  FROM g
)
SELECT user_id, event_type,
       STRFTIME(date_trunc('second', MIN(ts)), '%Y-%m-%d %H:%M:%S')
         AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, event_type, session_id
""",
)
def q_stream_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-GAP session windows: the session timeout is an
    EXPRESSION, not a constant — clicks close after 1 h of silence,
    everything else after 2 h (``session_window(ts, CASE WHEN ...)``,
    the Spark 4 per-row gap form). This is the streaming operator for
    mixed-cadence telemetry where one timeout either shreds slow
    signals or glues fast ones; the batch oracle is gaps-and-islands
    with the same per-type gap. The gap expression must be constant
    WITHIN a group key here (event_type is part of the key), keeping
    the merge semantics identical to the fixed-gap proof in
    q_session_window_batch (equal-to-gap deltas merge, hence the
    oracle's strict ``>``).

    Scale shape: same (user, type)-keyed shuffle and watermark-bounded
    session state as q_stream_session; the dynamic gap costs nothing
    extra — it rides the row."""
    stream = replay_events(spark, sf_dir, with_sentinel=True)
    gap = F.when(F.col("event_type") == "click", F.lit("1 hour")).otherwise(
        F.lit("2 hours")
    )
    wm = stream.withWatermark("ts", "10 minutes")
    agg = wm.groupBy(
        F.session_window("ts", gap), "user_id", "event_type"
    ).agg(F.count("*").cast("bigint").alias("n_events"))
    out = agg.filter(F.year(F.col("session_window.start")) < 2030).select(
        "user_id",
        "event_type",
        F.date_format(F.col("session_window.start"), WIN_FMT).alias(
            "session_start"
        ),
        "n_events",
    )
    return run_available_now(out, "append", _name("session_dyn"))
