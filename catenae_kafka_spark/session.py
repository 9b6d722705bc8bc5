"""SparkSession factory and runtime tuning.

Two paths:

- ``get_spark()`` builds a session for standalone use (bench.py, tests).
- ``tune(spark)`` applies the engine's *runtime-settable* configs to an
  externally-provided session (the driver harness passes its own session
  into ``entry``/``queries()`` callables, so build-time configs like
  driver memory cannot be assumed — everything correctness-critical must
  be a runtime conf).

Scale posture (100 TB design notes):

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  broadcast demotion/promotion replace hand-tuned partition counts when
  the same plan runs on a 1000-executor cluster.
- ``spark.sql.shuffle.partitions`` is a *starting* value; with AQE
  coalescing enabled the effective post-shuffle partition count adapts
  to data volume, so the same code path works at sf0.001 and at 100 TB
  (where the initial value should be ~2-3x total cores — set via
  ``SPARK_GRAFT_SHUFFLE_PARTITIONS``).
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (UTC-naive) and are cluster-location-independent.
- Arrow enabled for every Python<->JVM exchange (pandas_udf,
  toPandas) — row-at-a-time pickling is never on the hot path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied to any session the engine touches.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Post-shuffle partitions target 256 MB instead of the 64 MB
    # default (optimization r12, guide §2.2/§9: fewer, larger reduce
    # partitions). Data-size-adaptive, not core-count-tuned —
    # parallelismFirst (default true) still splits below this when
    # cores would idle. Measured 3-9% on the shuffle-bound headline
    # queries at the 100× rung, neutral at sf0.1.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256m",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 10k-row fallback batches would kill pandas_udf throughput.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # Broadcast anything under 64 MB: at 100 TB the dims (region, nation,
    # supplier, part, customer) are still tiny next to the fact tables.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Timezone-NAIVE parquet timestamps (timestamp[us] with no tz, the
    # current driver-fixture encoding for events.ts) must read as
    # TIMESTAMP (LTZ), not TIMESTAMP_NTZ: Spark rejects NTZ event-time
    # columns in withWatermark (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE),
    # which in round 2 broke every watermarked streaming query. Under
    # the pinned UTC session timezone the wall-clock values are
    # identical either way, so DuckDB oracle parity is unaffected.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Default application-side scan threshold for runtime Bloom-filter
    # injection. Listed here so tune() RESTORES it after q_join_bloom
    # zeroes it to demonstrate the optimization at test scale —
    # without this, every later query in the session would plan with
    # the threshold stuck at 0.
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "10GB",
    # HotSpot refuses to JIT methods over 8000 bytecodes, so a generated
    # whole-stage method past that limit runs *interpreted* — measured
    # 2.3x on the 64-hash MinHash stage (27s -> 12s cold at sf0.1).
    # Demote such stages to the non-codegen path instead of shipping an
    # un-JIT-able method; plans under the limit keep codegen.
    "spark.sql.codegen.hugeMethodLimit": "8000",
}


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus != "*":
        return int(cpus)
    return os.cpu_count() or 8


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` when SPARK_GRAFT_DRIVER_MEM is unset: a
    third of physical memory, capped at 16g (a 48 GB+ host gets 16g).
    A fixed 16g heap got the JVM OOM-killed on a 16 GB host; the third
    leaves room for the Python workers and the page cache. Falls back
    to 16g when ``meminfo`` is unreadable (non-Linux)."""
    try:
        with open(meminfo) as fh:
            total_kb = next(
                int(line.split()[1]) for line in fh if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError, IndexError):
        return "16g"
    mb = total_kb // 3 // 1024
    return "16g" if mb >= 16 * 1024 else f"{mb}m"


# Streaming checkpoint writes on a local master. Spark's default manager
# goes through Hadoop FileContext, which without libhadoop forks
# chmod/stat for every atomic create and rename: measured ~30 ms per
# metadata-log write (three per micro-batch) and ~26 ms per state-store
# delta commit on the stream_link drain, 4 cores. This manager does the
# same temp-file-then-rename write through the FileSystem API, with no
# fork. Local checkpoints live on the driver's disk; a cluster master
# keeps Spark's default for its own filesystem.
LOCAL_CHECKPOINT_CONF = {
    "spark.sql.streaming.checkpointFileManagerClass": "org.apache.spark.sql."
    "execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent, cheap)."""
    conf = dict(RUNTIME_CONF)
    if spark.sparkContext.master.startswith("local"):
        conf.update(LOCAL_CHECKPOINT_CONF)
    for key, value in conf.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # A conf locked by the host session is not worth dying over.
            pass
    shuffle = os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", str(_default_parallelism())
    )
    try:
        spark.conf.set("spark.sql.shuffle.partitions", shuffle)
    except Exception:
        pass
    return spark


def get_spark(
    app_name: str = "catenae-kafka-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (``local[*]`` when
    unset) — on a real cluster, pass the cluster master or rely on
    spark-submit's environment.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(_default_parallelism()))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
    )
    for key, value in RUNTIME_CONF.items():
        builder = builder.config(key, value)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Register the engine's custom Python data sources EAGERLY, before
    # any query thread runs: Spark's DataSourceManager races a
    # registerPython of one source against a concurrent lookup of
    # ANOTHER (reproduced on local[32]: lookups of an already-registered
    # kv_store fail DATA_SOURCE_NOT_FOUND while synthetic_events
    # registers on a sibling thread). Registering both here means a
    # parallel sweep never registers concurrently with a lookup. The
    # per-query register calls stay (sessions the driver builds itself
    # don't pass through get_spark) but are once-per-session memo no-ops.
    try:
        from catenae_kafka_spark.sources.synthetic import register, register_kv

        register(spark)
        register_kv(spark)
    except Exception as exc:  # noqa: BLE001 — registration must never block a session
        # ... but a swallowed failure here re-opens the register-vs-
        # lookup race this eager call exists to prevent (the first query
        # touching the source would register from a worker thread), so
        # say why before falling back to the lazy per-query path.
        import sys

        print(
            f"get_spark: eager data-source registration failed ({exc!r}); "
            "falling back to per-query registration",
            file=sys.stderr,
        )
    return tune(spark)
