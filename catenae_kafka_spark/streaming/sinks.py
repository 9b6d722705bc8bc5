"""Streaming sinks (catenae A2/A5 analog) + the finite-stream drain.

Catenae produced pickled messages back to Kafka topics; here a sink is
a writeStream target: memory (tests/oracles), parquet/partitioned files,
foreachBatch (the general escape hatch — external KV stores, multi-topic
routing, idempotent upserts), kafka (when the connector jar is present).

``drain`` is the one way a finite stream is run to completion: it
starts the sink on a clone of the stream's session whose shuffle
partition count is ``STATE_PARTITIONS``, blocks until the sources are
drained, and stops the query. The caller's session is never written,
so drains that overlap in one session (``tools/check.py --jobs``, the
test suite's build pool) cannot see each other's partition count.
Two shapes build on it:

- ``run_available_now`` lets *streaming* plans satisfy the *batch*
  driver contract: execute the full pipeline (real micro-batch
  execution, real state store, real watermarks), block until drained,
  return the materialized result. It collects through a foreachBatch
  collector, not the memory sink: each micro-batch goes through
  ``checkpointing.materialize`` and stays in executor blocks, so no row
  is serialized back to the driver and no temp view is left registered
  (the memory sink keeps every drained row on the driver heap under its
  query name). ``memory_sink`` stays for callers that want that sink
  itself.
- ``fold`` keeps a running table as versioned parquet dirs, one per
  epoch (foreachBatch merge queries: upserts, mergeable sketches).
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from catenae_kafka_spark.operators.checkpointing import materialize


# shuffle partition count of every drain's session clone (its one
# reader is drain); measured on local[32], sf0.1 tumbling bench:
# 32→8 ≈3×, 8→4 ≈1.6×, 4→2 ≈1.23× (49k → 61k events/s), 2→1 ≈1.5×
# (round-5 re-measure, same host) — per-batch per-partition state-store
# commit cost dominates short replays, so the ladder bottoms out at 1.
# Most of that commit cost was Hadoop forking chmod/stat for each
# checkpoint file, which session.LOCAL_CHECKPOINT_CONF removes on local
# masters (state commit ~26 → ~1 ms per batch); 1 → 4 re-measured flat
# on the stream_link drain, so the value stays 1.
# Multi-partition state-shuffle correctness is proven separately
# (q_stream_batch_invariance and the state-partition-count tests run
# the same plans at >1); a production always-on query sizes this to its
# key cardinality instead.
STATE_PARTITIONS = 1


def memory_sink(
    df: DataFrame, name: str, output_mode: str = "append"
) -> StreamingQuery:
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )


def drain(
    df: DataFrame, start: Callable[[DataFrame], StreamingQuery]
) -> StreamingQuery:
    """Run the finite stream ``df`` to completion; return the stopped
    query (its ``recentProgress`` stays readable).

    ``start`` gets ``df`` rebound to a clone of its session and starts
    the sink on it. The clone keeps the caller's confs (AQE included)
    but runs ``STATE_PARTITIONS`` shuffle partitions, so the stream's
    state operators, and any batch work a foreachBatch callback plans
    on the stream's ``sparkSession``, use that count while the caller's
    session keeps its own. A clone has its own streaming listener bus:
    the caller's listeners are attached to it, so they still see every
    drain.

    Uses processAllAvailable() + stop() rather than the AvailableNow
    trigger: AvailableNow plans one batch per input file, but stateful
    queries insert no-data maintenance batches (watermark eviction) that
    consume the planned budget — observed terminating with input files
    left unread. processAllAvailable blocks until the sources are
    genuinely drained."""
    spark = df.sparkSession
    clone = SparkSession(
        spark.sparkContext, spark._jsparkSession.cloneSession()  # noqa: SLF001
    )
    clone.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    streams = clone._jsparkSession.streams()  # noqa: SLF001
    for listener in spark._jsparkSession.streams().listListeners():  # noqa: SLF001
        streams.addListener(listener)
    q = start(in_session(clone, df))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q


def run_available_now(
    df: DataFrame, output_mode: str = "append", name: str | None = None
) -> DataFrame:
    """Drain the whole (finite) stream and return the result as a batch
    DataFrame of the caller's session.

    A foreachBatch collector passes each micro-batch through
    ``materialize`` (one eager job, the batch's rows stay in executor
    blocks). Complete mode keeps the last batch, append and update
    union the batches in batch order, as the memory sink would. The
    trailing no-data batch (the sentinel's watermark flush) is one of
    them. No temp view is registered; the checkpoint dir is a temp dir
    removed on return. An empty stream returns an empty DataFrame with
    ``df.schema``."""
    spark = df.sparkSession
    name = name or f"q_{uuid.uuid4().hex[:10]}"
    batches: list[DataFrame] = []

    def collect(batch: DataFrame, _epoch: int) -> None:
        out = materialize(batch)
        if output_mode == "complete":
            batches.clear()
        batches.append(out)

    checkpoint = tempfile.mkdtemp(prefix="cks_run_ckpt_")
    try:
        drain(
            df,
            lambda stream: stream.writeStream.foreachBatch(collect)
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .start(),
        )
    finally:
        shutil.rmtree(checkpoint, ignore_errors=True)
    if not batches:
        return spark.createDataFrame([], df.schema)
    return in_session(spark, reduce(DataFrame.union, batches))


def fold(
    df: DataFrame,
    step: Callable[[DataFrame | None, DataFrame], DataFrame],
    empty_schema: str,
) -> DataFrame:
    """Drain ``df`` into a running table and return its last version in
    the caller's session (empty, with ``empty_schema``, when no
    micro-batch arrived).

    Epoch ``e`` writes ``step(prev, batch)`` to a NEW parquet dir
    ``v{e}``, ``prev`` being the previous version read through the
    drain's clone (None in the first epoch): the write-then-repoint
    pattern that is atomic on object stores (Delta/Iceberg MERGE
    formalize exactly this)."""
    spark = df.sparkSession
    base = tempfile.mkdtemp(prefix="cks_fold_")
    versions: list[str] = []

    def start(stream: DataFrame) -> StreamingQuery:
        clone = stream.sparkSession

        def merge(batch: DataFrame, epoch_id: int) -> None:
            prev = clone.read.parquet(versions[-1]) if versions else None
            path = f"{base}/v{epoch_id}"
            step(prev, batch).write.mode("overwrite").parquet(path)
            versions.append(path)

        return foreach_batch_sink(stream, merge, checkpoint=f"{base}/_ckpt")

    drain(df, start)
    if not versions:
        return spark.createDataFrame([], empty_schema)
    return spark.read.parquet(versions[-1])


def in_session(spark: SparkSession, df: DataFrame) -> DataFrame:
    """``df``'s plan as a DataFrame of ``spark``. A foreachBatch batch
    belongs to the stream's cloned session, which runs with AQE off
    and the drain's shuffle-partition count; the caller's later
    queries on the result must plan with the caller's confs."""
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(  # noqa: SLF001
        spark._jsparkSession, df._jdf.logicalPlan()  # noqa: SLF001
    )
    return DataFrame(jdf, spark)


def foreach_batch_sink(
    df: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str | None = None,
    output_mode: str = "update",
    available_now: bool = False,
) -> StreamingQuery:
    """catenae's external-connector escape hatch (A10/A11 analog): the
    callback gets each micro-batch as a batch DataFrame + epoch id, for
    idempotent writes to any external system."""
    checkpoint = checkpoint or tempfile.mkdtemp(prefix="cks_fb_ckpt_")
    writer = (
        df.writeStream.foreachBatch(fn)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def parquet_sink(
    df: DataFrame,
    path: str,
    checkpoint: str | None = None,
    partition_by: tuple[str, ...] = (),
) -> StreamingQuery:
    checkpoint = checkpoint or tempfile.mkdtemp(prefix="cks_pq_ckpt_")
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    return writer.start()


def kafka_sink(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Kafka producer edge (requires the connector jar; see sources)."""
    from catenae_kafka_spark.streaming.sources import kafka_available

    spark = df.sparkSession
    if not kafka_available(spark):
        raise RuntimeError(
            "Kafka connector jar missing — see KafkaSource docstring"
        )
    checkpoint = checkpoint or tempfile.mkdtemp(prefix="cks_kafka_ckpt_")
    return (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )
