"""Streaming sinks (catenae A2/A5 analog) + synchronous runners.

Catenae produced pickled messages back to Kafka topics; here a sink is
a writeStream target: memory (tests/oracles), parquet/partitioned files,
foreachBatch (the general escape hatch — external KV stores, multi-topic
routing, idempotent upserts), kafka (when the connector jar is present).

``run_available_now`` is the bridge that lets *streaming* plans satisfy
the *batch* driver contract: execute the full pipeline (real
micro-batch execution, real state store, real watermarks), block until
drained, return the materialized result. It collects through a
foreachBatch collector, not the memory sink: each micro-batch goes
through ``checkpointing.materialize`` and stays in executor blocks, so
no row is serialized back to the driver and no temp view is left
registered (the memory sink keeps every drained row on the driver heap
under its query name for the rest of the session). ``memory_sink``
stays for callers that want that sink itself.
"""

from __future__ import annotations

import shutil
import tempfile
import threading
import uuid
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from catenae_kafka_spark.operators.checkpointing import materialize


# state/shuffle partition cap for finite-replay streaming queries (see
# run_available_now); measured on local[32], sf0.1 tumbling bench:
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

#: Refcounted shuffle-partition override shared by every concurrent
#: run_available_now: [active_count, value_to_restore].
_CONF_LOCK = threading.Lock()
_CONF_DEPTH: list = [0, None]


def memory_sink(
    df: DataFrame, name: str, output_mode: str = "append"
) -> StreamingQuery:
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )


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
    ``df.schema``.

    Uses processAllAvailable() + stop() rather than the AvailableNow
    trigger: AvailableNow plans one batch per input file, but stateful
    queries insert no-data maintenance batches (watermark eviction) that
    consume the planned budget — observed terminating with input files
    left unread. processAllAvailable blocks until the sources are
    genuinely drained."""
    spark = df.sparkSession
    name = name or f"q_{uuid.uuid4().hex[:10]}"
    batches: list[DataFrame] = []

    def collect(batch: DataFrame, _epoch: int) -> None:
        out = materialize(batch)
        if output_mode == "complete":
            batches.clear()
        batches.append(out)

    checkpoint = tempfile.mkdtemp(prefix="cks_run_ckpt_")
    # Stateful micro-batches pay per-(batch × state-partition) fixed
    # cost; for a short finite replay 32 state partitions are pure
    # overhead (measured ~3×). A handful is plenty locally; a production
    # always-on query sizes this to its key cardinality instead.
    #
    # The set/restore is refcounted under a lock so CONCURRENT callers
    # (tools/check.py --jobs N) compose: the first entrant records the
    # caller-visible value, the last one restores it — interleaved
    # restores can never capture another runner's temporary 1 as "prev"
    # and leak it past the sweep.
    with _CONF_LOCK:
        if _CONF_DEPTH[0] == 0:
            _CONF_DEPTH[1] = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(min(STATE_PARTITIONS, int(_CONF_DEPTH[1]))),
            )
        _CONF_DEPTH[0] += 1
    # the streaming thread captures session confs asynchronously after
    # start(), so the reduced partition count must stay in place until
    # the query has fully drained — restoring in a finally around
    # start() races the capture and the ~3× state-partition speedup
    # silently fails to apply on some runs
    try:
        q = (
            df.writeStream.foreachBatch(collect)
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .start()
        )
        q.processAllAvailable()
    finally:
        with _CONF_LOCK:
            _CONF_DEPTH[0] -= 1
            if _CONF_DEPTH[0] == 0:
                spark.conf.set(
                    "spark.sql.shuffle.partitions", _CONF_DEPTH[1]
                )
        try:
            q.stop()
        except NameError:
            pass
        shutil.rmtree(checkpoint, ignore_errors=True)
    if not batches:
        return spark.createDataFrame([], df.schema)
    return _in_session(spark, reduce(DataFrame.union, batches))


def _in_session(spark: SparkSession, df: DataFrame) -> DataFrame:
    """``df``'s plan as a DataFrame of ``spark``. A foreachBatch batch
    belongs to the stream's cloned session, which runs with AQE off
    and the drain's temporary shuffle-partition count; the caller's
    later queries on the result must plan with the caller's confs."""
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
    available_now: bool = False,
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
    if available_now:
        writer = writer.trigger(availableNow=True)
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
