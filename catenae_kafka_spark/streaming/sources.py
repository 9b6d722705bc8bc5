"""Streaming source abstraction (catenae A1 analog).

Catenae's only source was a Kafka consumer loop deserializing pickled
``Electron`` messages. Here sources are declarative and pluggable:

- ``FileReplaySource``: replays a parquet table as a multi-micro-batch
  stream (``maxFilesPerTrigger``) — the local stand-in for a Kafka
  topic, and the fixture-replay path for every streaming test/query.
- ``RateSource``: synthetic rows/sec (catenae A8 timer-generator analog).
- ``KafkaSource``: the production edge. The spark-sql-kafka connector
  jar is NOT bundled in this environment (verified — SURVEY §1.2), so
  it is gated behind ``kafka_available`` with a clear error instead of
  a hard dependency.

All sources yield a typed streaming DataFrame — schema-on-read columns,
never schema-less blobs.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import threading
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from catenae_kafka_spark.catalog import _schema_key, catalog, table_path


#: Per-staging-dir locks so concurrent loaders (tools/check.py --jobs N)
#: stage each replay layout exactly once instead of racing overwrites.
_STAGING_LOCKS: dict[str, threading.Lock] = defaultdict(threading.Lock)
_STAGING_LOCKS_GUARD = threading.Lock()


#: Staged replay schemas, keyed like catalog._DF_CACHE but on the
#: staging dir's ``_REPLAY_READY`` marker: (applicationId, marker path,
#: marker st_mtime_ns).
_REPLAY_SCHEMAS: dict[tuple, StructType] = {}


def _staging_lock(path: str) -> threading.Lock:
    with _STAGING_LOCKS_GUARD:
        return _STAGING_LOCKS[path]


def kafka_available(spark: SparkSession) -> bool:
    """True when the Kafka connector classes are on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


@dataclass
class RateSource:
    rows_per_second: int = 1000

    def load(self, spark: SparkSession) -> DataFrame:
        return (
            spark.readStream.format("rate")
            .option("rowsPerSecond", self.rows_per_second)
            .load()
        )


@dataclass
class KafkaSource:
    bootstrap_servers: str
    subscribe: str
    starting_offsets: str = "earliest"
    options: dict[str, str] = field(default_factory=dict)

    def load(self, spark: SparkSession) -> DataFrame:
        if not kafka_available(spark):
            raise RuntimeError(
                "spark-sql-kafka-0-10 connector jar is not on the classpath; "
                "add it via spark.jars.packages="
                "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version> "
                "or use FileReplaySource/RateSource for local development"
            )
        return (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", self.bootstrap_servers)
            .option("subscribe", self.subscribe)
            .option("startingOffsets", self.starting_offsets)
            .options(**self.options)
            .load()
        )


@dataclass
class FileReplaySource:
    """Replay a catalog parquet table as a stream of micro-batches.

    The table is re-laid-out once into ``n_files`` parquet files (sorted
    by ``order_col`` so replay approximates arrival order), then read
    with ``maxFilesPerTrigger=files_per_trigger`` →
    n_files/files_per_trigger micro-batches (defaults: 8 files, 4 per
    trigger → 2 real data batches + watermark-advance no-data batches).
    Per-batch fixed cost (planning + state commit + sink epoch) was
    ~0.5 s and dominated a finite replay — the round-5 re-measure of the
    ladder: 4 batches 47.9k ev/s, 2 batches 97.2k, 1 batch 168.6k at
    sf0.1. Much of its state-commit and offset-log share was Hadoop
    forking chmod/stat per checkpoint file write, which
    session.LOCAL_CHECKPOINT_CONF removes on local masters (~30 → ~7 ms
    per metadata-log write, ~26 → ~1 ms per state commit). Two data
    batches is the floor that still exercises real mid-stream watermark
    advancement, and q_stream_batch_invariance separately PROVES result
    invariance between 1-file-per-trigger (8 batches) and single-batch
    replays of the same pipeline.

    ``with_sentinel=True`` appends one final row far in the future
    (event_id = -1) whose only job is to push the watermark past every
    real row when the finite stream drains — without it, append-mode
    windowed/session aggregations never flush their trailing windows
    (the watermark stops ``delay`` short of max event time). Consumers
    filter ``event_id >= 0`` / ``user_id >= 0`` after windowing.
    """

    sf_dir: str
    table: str = "events"
    n_files: int = 8
    order_col: str = "ts"
    files_per_trigger: int = 4
    with_sentinel: bool = False
    sentinel_advance_days: int = 3650
    #: How many sentinel micro-BATCHES to emit (each files_per_trigger
    #: files). 2 is the provably-sufficient floor with noDataMicroBatches
    #: disabled; with Spark's default no-data batches ON, the engine runs
    #: a maintenance batch after the sentinel advances the watermark, so
    #: 1 sentinel batch + the no-data batch flushes everything — measured
    #: ~0.7 s per streaming query saved. Bump to 2 if a host disables
    #: no-data batches.
    sentinel_batches: int = 1

    # Bump when the staged layout/encoding changes: v2 = ts normalized to
    # TIMESTAMP (LTZ) in catalog._read — round-2 staging wrote NTZ ts and
    # the _REPLAY_READY marker would otherwise keep serving it forever.
    _LAYOUT_VERSION = "v2"

    def _staging_dir(self) -> str:
        tag = hashlib.sha256(
            f"{self.sf_dir}|{self.table}|{self.n_files}|{self.order_col}"
            f"|{self.with_sentinel}|{self.files_per_trigger}"
            f"|{self.sentinel_batches}|{self._LAYOUT_VERSION}".encode()
        ).hexdigest()[:12]
        return os.path.join(
            tempfile.gettempdir(), "catenae_kafka_spark", "replay", tag
        )

    def load(self, spark: SparkSession) -> DataFrame:
        from pyspark.sql import functions as F

        out = self._staging_dir()
        marker = os.path.join(out, "_REPLAY_READY")
        with _staging_lock(out):
            self._stage_if_needed(spark, out, marker)
        # parquet schema inference is a Spark job (~30 ms, the first of
        # every drain); a staged layout never changes under its marker,
        # and a re-stage writes a new marker mtime
        key = _schema_key(spark, marker)
        schema = _REPLAY_SCHEMAS.get(key)
        if schema is None:
            schema = spark.read.parquet(out).schema
            if key is not None:
                _REPLAY_SCHEMAS[key] = schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", self.files_per_trigger)
            .parquet(out)
        )
        # Defensive: if the host session forced NTZ inference back on,
        # withWatermark downstream would reject the event-time column.
        # Cast is value-identical under the pinned UTC session timezone.
        for fname, dtype in stream.dtypes:
            if dtype == "timestamp_ntz":
                stream = stream.withColumn(fname, F.col(fname).cast("timestamp"))
        return stream

    def _stage_if_needed(self, spark: SparkSession, out: str, marker: str) -> None:
        from pyspark.sql import functions as F

        if not os.path.exists(marker):
            df = catalog(spark, self.sf_dir).table(self.table)
            # range-partition by event time: file k holds the k-th time
            # slice, so maxFilesPerTrigger replays in arrival order
            df.repartitionByRange(self.n_files, self.order_col).write.mode(
                "overwrite"
            ).parquet(out)
            self._enforce_replay_order(out)
            if self.with_sentinel:
                sentinel = (
                    df.orderBy(F.col(self.order_col).desc())
                    .limit(1)
                    .withColumn(
                        self.order_col,
                        F.col(self.order_col)
                        + F.expr(f"INTERVAL {self.sentinel_advance_days} DAYS"),
                    )
                )
                for col in ("event_id", "user_id"):
                    if col in sentinel.columns:
                        sentinel = sentinel.withColumn(col, F.lit(-1).cast("long"))
                # A batch's watermark is computed from the PREVIOUS
                # batch's data, so a sentinel batch's far-future
                # timestamp only takes effect (flushing trailing
                # windows/sessions) in the batch AFTER it. With Spark's
                # default no-data maintenance batches, that follow-up
                # batch runs for free once the watermark advances, so
                # ONE sentinel batch suffices (sentinel_batches=1,
                # verified oracle-equal across every sentinel-dependent
                # query at sf0.001/0.01/0.1); emit
                # sentinel_batches x files_per_trigger sentinel FILES so
                # that many sentinel batches exist at any trigger width.
                import glob
                import shutil

                for i in range(self.sentinel_batches * self.files_per_trigger):
                    shifted = sentinel.withColumn(
                        self.order_col,
                        F.col(self.order_col) + F.expr(f"INTERVAL {i} DAYS"),
                    )
                    tmp = out + f"_sentinel_tmp{i}"
                    shifted.coalesce(1).write.mode("overwrite").parquet(tmp)
                    (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
                    shutil.copy(part, os.path.join(out, f"zzz-sentinel-{i}.parquet"))
                    shutil.rmtree(tmp)
                self._enforce_replay_order(out)
            with open(marker, "w") as fh:
                fh.write("ok")

    @staticmethod
    def _enforce_replay_order(out: str) -> None:
        """The file stream source does NOT list files in path order —
        without intervention micro-batches arrive in arbitrary slice
        order, the watermark jumps ahead on a late slice, and every
        earlier slice is then dropped as late data (observed: 60% row
        loss). Rename slices to zero-padded sequential names AND give
        them strictly increasing mtimes so every listing order the
        source may use (path, modification time) equals event-time
        order."""
        import glob
        import time

        parts = sorted(glob.glob(os.path.join(out, "part-*.parquet")))
        for i, src_path in enumerate(parts):
            os.replace(src_path, os.path.join(out, f"slice-{i:05d}.parquet"))
        # re-derive the full slice list (this runs again after sentinel
        # copy; a fresh time base must cover ALL files or mtimes
        # interleave and the source replays slices out of order)
        slices = sorted(glob.glob(os.path.join(out, "slice-*.parquet")))
        base = time.time() - 86400
        for i, dst in enumerate(slices):
            os.utime(dst, (base + i, base + i))
        for i, sentinel in enumerate(
            sorted(glob.glob(os.path.join(out, "zzz-sentinel-*.parquet")))
        ):
            os.utime(sentinel, (base + len(slices) + 1 + i,) * 2)


def replay_events(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 8,
    with_sentinel: bool = False,
) -> DataFrame:
    """Convenience: the events table as a multi-batch stream."""
    return FileReplaySource(
        sf_dir=sf_dir, n_files=n_files, with_sentinel=with_sentinel
    ).load(spark)


def replay_tag(sf_dir: str, n_files: int = 8, with_sentinel: bool = False) -> str:
    """Identity tag of the default replay staging layout for ``sf_dir``.

    Stable-checkpoint proof queries that REUSE a checkpoint across
    invocations (idempotent sink, backfill seam) must fold this into
    their checkpoint paths: a Spark streaming checkpoint pins the SOURCE
    path it first saw, so a replay re-layout (files_per_trigger /
    encoding bump) with an unversioned checkpoint fails with 'Wrong
    basePath' on the next run. Deriving the checkpoint dir from the
    staging tag invalidates it in lockstep. (q_stream_restart_recovery
    is exempt: it stages its own source dir and resets its checkpoint
    every invocation, so nothing survives a re-layout there.)"""
    return os.path.basename(
        FileReplaySource(
            sf_dir=sf_dir, n_files=n_files, with_sentinel=with_sentinel
        )._staging_dir()
    )
