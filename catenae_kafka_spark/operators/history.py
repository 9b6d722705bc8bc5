"""History / CDC operators: SCD2 dimension history and streaming upsert.

Two lakehouse-table-maintenance primitives every long-lived pipeline
needs (catenae's KV-upsert + audit-log analogs, re-expressed
declaratively):

- ``q_scd2_history``: build a slowly-changing-dimension (type 2) history
  from an event log — change detection, validity intervals
  (valid_from/valid_to), current-row flag. The full table shuffles ONCE
  on the entity key; the interval-stitching second pass runs only over
  CHANGE rows (orders of magnitude smaller than the log at 100 TB — a
  user changes state far less often than they emit events).
- ``q_stream_upsert``: the streaming twin — a foreachBatch CDC merge
  that maintains latest-state-per-key + cumulative counts across
  micro-batches in a versioned parquet target (the Delta-MERGE pattern
  without Delta jars: write-new-version-then-repoint is the atomic
  primitive object stores give you). Exact-oracled against batch
  latest-per-key SQL.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from catenae_kafka_spark.catalog import catalog
from catenae_kafka_spark.functions.compat import half_up
from catenae_kafka_spark.operators.asof import asof_join
from catenae_kafka_spark.registry import REGISTRY

WIN_FMT = "yyyy-MM-dd HH:mm:ss"

# Shared by q_scd2_history (batch build) and q_stream_scd2 (streaming
# maintenance): both must produce this exact table, hash and all.
_SCD2_ORACLE = """
WITH o AS MATERIALIZED (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS cnt_user
  FROM events
), s AS MATERIALIZED (
  SELECT * FROM o WHERE chg = 1
)
SELECT user_id,
       event_type AS state,
       STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       STRFTIME(LEAD(ts) OVER w2, '%Y-%m-%d %H:%M:%S') AS valid_to,
       LEAD(ts) OVER w2 IS NULL AS is_current,
       COALESCE(LEAD(rn) OVER w2, cnt_user + 1) - rn AS n_events
FROM s
WINDOW w2 AS (PARTITION BY user_id ORDER BY rn)
"""


@REGISTRY.register("q_scd2_history", tags=("history", "window"), oracle=_SCD2_ORACLE)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history build: each user's event_type sequence becomes
    validity intervals [valid_from, valid_to) with an is_current flag
    and the number of events observed during the interval.

    Scale shape: ONE shuffle of the full log on user_id feeds change
    detection, row numbering, and the per-user total (three window
    specs, same partitioning — single Exchange). Rows are then filtered
    to CHANGE rows only, so the interval-stitching lead() window
    shuffles just the state transitions, not the log.
    """
    c = catalog(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wu = Window.partitionBy("user_id")
    # IS DISTINCT FROM: eqNullSafe-negation flags the first row (lag is
    # NULL) and every genuine state change, never a null-vs-null pair.
    chg = (~F.lag("event_type").over(w).eqNullSafe(F.col("event_type"))).cast("int")
    marked = c.events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        chg.alias("chg"),
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wu).alias("cnt_user"),
    )
    starts = marked.filter(F.col("chg") == 1)
    w2 = Window.partitionBy("user_id").orderBy("rn")
    valid_to_ts = F.lead("ts").over(w2)
    return starts.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.date_format("ts", WIN_FMT).alias("valid_from"),
        F.date_format(valid_to_ts, WIN_FMT).alias("valid_to"),
        valid_to_ts.isNull().alias("is_current"),
        (
            F.coalesce(F.lead("rn").over(w2), F.col("cnt_user") + F.lit(1))
            - F.col("rn")
        ).alias("n_events"),
    )


@REGISTRY.register(
    "q_stream_upsert",
    tags=("streaming", "merge"),
    oracle="""
WITH ranked AS (
  SELECT user_id, event_type, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_events
  FROM events
)
SELECT user_id,
       event_type AS last_type,
       STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
       n_events
FROM ranked WHERE rn = 1
""",
)
def q_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert: a foreachBatch merge maintains the
    latest-state-per-user table (last event_type/ts by (ts, event_id))
    plus a cumulative event count across micro-batches.

    Each epoch aggregates its batch map-side small (one row per key),
    merges with the previous target version, and writes a NEW versioned
    parquet dir — the write-then-repoint pattern that is atomic on
    object stores (Delta/Iceberg MERGE formalize exactly this). The
    result is batch-count independent: max-by over the unique
    (ts, event_id) ordering commutes across any micro-batch slicing, so
    the streaming answer hash-matches the batch latest-per-key oracle.
    """
    from catenae_kafka_spark.streaming.sinks import fold
    from catenae_kafka_spark.streaming.sources import replay_events

    def _batch_latest(df: DataFrame) -> DataFrame:
        # struct max orders by (ts, event_id, event_type); (ts, event_id)
        # is unique, so event_type never decides the comparison
        return df.groupBy("user_id").agg(
            F.max(F.struct("ts", "event_id", "event_type")).alias("m"),
            F.count("*").alias("n"),
        ).select("user_id", "m.ts", "m.event_id", "m.event_type", "n")

    def _merge(target: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        latest = _batch_latest(batch_df)
        if target is None:
            return latest
        return (
            target.unionByName(latest)
            .groupBy("user_id")
            .agg(
                F.max(F.struct("ts", "event_id", "event_type")).alias("m"),
                F.sum("n").alias("n"),
            )
            .select("user_id", "m.ts", "m.event_id", "m.event_type", "n")
        )

    final = fold(
        replay_events(spark, sf_dir),
        _merge,
        "user_id long, ts timestamp, event_id long, event_type string, n long",
    )
    return final.select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.date_format("ts", WIN_FMT).alias("last_ts"),
        F.col("n").cast("long").alias("n_events"),
    )


@REGISTRY.register("q_stream_scd2", tags=("streaming", "history"), oracle=_SCD2_ORACLE)
def q_stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 maintenance: a foreachBatch pipeline keeps the
    dimension-history table (closed intervals + one open interval per
    user) incrementally up to date as events arrive, producing a result
    hash-IDENTICAL to the batch SCD2 rebuild (same oracle SQL).

    Per epoch, the open intervals are replayed as weighted pseudo-events
    ahead of the batch (event_id = -1 sorts them first on ts ties), so
    change detection seamlessly continues or closes intervals across the
    micro-batch boundary. Newly closed intervals append to the closed
    table; the open table is replaced. Because the replay is event-time
    ordered, the result is invariant to how the stream is sliced into
    batches.

    Scale shape: per epoch the shuffle carries (batch ∪ open-state)
    keyed by user — open state is one row per active entity, closed
    intervals are append-only and never reshuffled.
    """
    from catenae_kafka_spark.streaming.sinks import drain, foreach_batch_sink
    from catenae_kafka_spark.streaming.sources import replay_events

    stream = replay_events(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="cks_scd2_")
    # closed intervals are APPEND-ONLY: each epoch overwrites its own
    # epoch-named subdir (idempotent under micro-batch retry — the
    # poor-man's transactional append) and is never reshuffled again
    state: dict = {"open": None, "closed_dirs": []}

    def _advance(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ev = batch_df.select(
            "user_id", "event_type", "ts", "event_id", F.lit(1).alias("weight")
        )
        if state["open"] is not None:
            # the drain's clone: planned at its partition count
            pseudo = state["spark"].read.parquet(state["open"]).select(
                "user_id",
                F.col("state").alias("event_type"),
                F.col("valid_from").alias("ts"),
                F.lit(-1).cast("long").alias("event_id"),
                F.col("n").alias("weight"),
            )
            ev = pseudo.unionByName(ev)
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        seg = ev.withColumn(
            "chg",
            (~F.lag("event_type").over(w).eqNullSafe(F.col("event_type"))).cast(
                "int"
            ),
        ).withColumn("seg", F.sum("chg").over(w))
        ivals = seg.groupBy("user_id", "seg").agg(
            F.min("event_type").alias("state"),
            F.min("ts").alias("valid_from"),
            F.sum("weight").alias("n"),
        )
        w2 = Window.partitionBy("user_id").orderBy("seg")
        stitched = ivals.select(
            "user_id",
            "state",
            "valid_from",
            F.lead("valid_from").over(w2).alias("valid_to"),
            "n",
        )
        closed_dir = f"{base}/closed/e{epoch_id:05d}"
        stitched.filter(F.col("valid_to").isNotNull()).write.mode(
            "overwrite"
        ).parquet(closed_dir)
        open_dir = f"{base}/open_v{epoch_id}"
        stitched.filter(F.col("valid_to").isNull()).drop("valid_to").write.mode(
            "overwrite"
        ).parquet(open_dir)
        if closed_dir not in state["closed_dirs"]:
            state["closed_dirs"].append(closed_dir)
        state["open"] = open_dir

    def _start(s: DataFrame):
        state["spark"] = s.sparkSession
        return foreach_batch_sink(s, _advance, checkpoint=f"{base}/_ckpt")

    drain(stream, _start)
    empty_schema = (
        "user_id long, state string, valid_from string, valid_to string, "
        "is_current boolean, n_events long"
    )
    if state["open"] is None:
        return spark.createDataFrame([], empty_schema)
    closed = (
        spark.read.parquet(*state["closed_dirs"])
        if state["closed_dirs"]
        else None
    )
    open_df = spark.read.parquet(state["open"]).withColumn(
        "valid_to", F.lit(None).cast("timestamp")
    )
    hist = open_df if closed is None else closed.unionByName(open_df)
    return hist.select(
        "user_id",
        "state",
        F.date_format("valid_from", WIN_FMT).alias("valid_from"),
        F.date_format("valid_to", WIN_FMT).alias("valid_to"),
        F.col("valid_to").isNull().alias("is_current"),
        F.col("n").cast("long").alias("n_events"),
    )


@REGISTRY.register(
    "q_join_pointintime",
    tags=("join", "history"),
    oracle="""
WITH o AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), ch AS (
  SELECT user_id, ts AS vf, ARG_MAX(event_type, rn) AS state
  FROM o WHERE chg = 1 GROUP BY user_id, ts
), probes AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id,
       STRFTIME(p.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       ch.state AS state_at
FROM probes p ASOF LEFT JOIN ch
  ON p.user_id = ch.user_id AND p.ts >= ch.vf
""",
)
def q_join_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) dimension lookup: for every purchase
    event, the SCD2 state in effect at its timestamp — the
    leakage-free feature-lookup join of feature stores (never read a
    dimension value from the future). Changes effective AT t are
    visible to lookups at t; same-timestamp changes are deduped to the
    latest (max rn) so tie semantics are pinned on both engines.

    Runs on the as-of merge-scan (one shuffle on user_id, no interval
    explosion); the DuckDB oracle states the same join with its native
    ASOF JOIN. Reference analog: catenae enrich-with-latest-state,
    here bitemporally correct."""
    c = catalog(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = c.events.select(
        "user_id",
        "ts",
        "event_type",
        (~F.lag("event_type").over(w).eqNullSafe(F.col("event_type"))).alias(
            "chg"
        ),
        F.row_number().over(w).alias("rn"),
    )
    changes = (
        marked.filter("chg")
        .groupBy("user_id", F.col("ts").alias("vf"))
        .agg(F.max_by("event_type", "rn").alias("state"))
    )
    probes = c.events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        probes,
        changes,
        on=["user_id"],
        left_ts="ts",
        right_ts="vf",
        right_payload=["state"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", WIN_FMT).alias("ts_s"),
        F.col("state").alias("state_at"),
    )


@REGISTRY.register(
    "q_bitemporal_aswas",
    tags=("history", "bitemporal"),
    oracle="""
WITH corrections AS (
  SELECT o_orderkey,
         CAST(FLOOR(o_totalprice * 105 + 0.5) AS BIGINT) AS new_cents
  FROM orders WHERE o_orderkey % 7 = 0
), monthly AS (
  SELECT STRFTIME(date_trunc('month', o_orderdate), '%Y-%m') AS month,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS aswas_cents,
         CAST(SUM(COALESCE(c.new_cents,
                           CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)))
              AS BIGINT) AS asis_cents,
         CAST(SUM(CASE WHEN c.o_orderkey IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_corrected
  FROM orders o LEFT JOIN corrections c ON o.o_orderkey = c.o_orderkey
  GROUP BY month
)
SELECT month, aswas_cents, asis_cents, n_corrected,
       asis_cents - aswas_cents AS restatement_cents
FROM monthly
""",
)
def q_bitemporal_aswas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal as-was / as-is reporting: monthly revenue BY VALID
    TIME (order date) under two KNOWLEDGE times — as originally booked,
    and after a correction feed restated every 7th order (+5%). The
    restatement column is the audit trail finance asks for ("why did
    January change since the last board deck?"), which only a
    bitemporal view can answer; valid-time grouping never moves a
    corrected order to the correction's month.

    Exact integer cents; the +5% restatement is floored at the ORDER
    grain on both engines (one shared IEEE product).

    Scale shape: corrections join the fact on its key (broadcast here;
    key-shuffled at scale), one monthly rollup — the as-of pattern of
    q_scd2_history applied to measures instead of attributes."""
    c = catalog(spark, sf_dir)
    corrections = c.orders.filter(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("ck"),
        half_up("o_totalprice", 105).alias("new_cents"),
    )
    cents = half_up("o_totalprice", 100)
    j = c.orders.join(
        corrections, F.col("o_orderkey") == F.col("ck"), "left"
    )
    monthly = j.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        )
    ).agg(
        F.sum(cents).cast("bigint").alias("aswas_cents"),
        F.sum(F.coalesce(F.col("new_cents"), cents))
        .cast("bigint")
        .alias("asis_cents"),
        F.sum(F.when(F.col("ck").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_corrected"),
    )
    return monthly.select(
        "month",
        "aswas_cents",
        "asis_cents",
        "n_corrected",
        (F.col("asis_cents") - F.col("aswas_cents")).alias("restatement_cents"),
    )
