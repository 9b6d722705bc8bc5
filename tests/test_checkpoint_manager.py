"""session.tune() picks the streaming checkpoint file manager from the
master: local sessions write checkpoints through the FileSystem-based
manager (no forked chmod/stat per file), cluster sessions keep Spark's
default. Checkpoints written under the default resume under the new
manager."""

from __future__ import annotations

import time
from types import SimpleNamespace

from pyspark.sql import functions as F

from catenae_kafka_spark.catalog import catalog
from catenae_kafka_spark.session import LOCAL_CHECKPOINT_CONF, RUNTIME_CONF, tune
from catenae_kafka_spark.streaming.sources import FileReplaySource

KEY = "spark.sql.streaming.checkpointFileManagerClass"
FS_MANAGER = LOCAL_CHECKPOINT_CONF[KEY]
FC_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


class _RecordingConf:
    def __init__(self):
        self.values: dict[str, str] = {}

    def set(self, key, value):
        self.values[key] = value


def _stub_session(master: str):
    return SimpleNamespace(
        sparkContext=SimpleNamespace(master=master), conf=_RecordingConf()
    )


def test_local_session_uses_filesystem_checkpoint_manager(spark):
    assert spark.sparkContext.master.startswith("local")
    assert FS_MANAGER.endswith(".FileSystemBasedCheckpointFileManager")
    assert spark.conf.get(KEY) == FS_MANAGER


def test_cluster_master_keeps_spark_default_manager():
    cluster = tune(_stub_session("spark://h:7077"))
    assert KEY not in cluster.conf.values
    assert RUNTIME_CONF.items() <= cluster.conf.values.items()
    local = tune(_stub_session("local[2]"))
    assert local.conf.values[KEY] == FS_MANAGER


def test_file_context_checkpoint_resumes_under_filesystem_manager(
    spark, sf_dir, tmp_path
):
    """Drain part of a replay with Spark's default manager set
    explicitly, stop, resume on the same checkpoint after tune(): the
    offset log, the file-sink log and the dedup state written by the
    old manager carry over, so the output equals one uninterrupted
    drain with no lost or duplicated keys. The dedup key (user, hour)
    spans replay files, so state lost across the restart would emit a
    key twice."""
    src = FileReplaySource(sf_dir=sf_dir, n_files=4, files_per_trigger=1)

    def start(out, ckpt, **trigger):
        return (
            src.load(spark)
            .select("user_id", F.date_trunc("hour", "ts").alias("hour"))
            .dropDuplicates(["user_id", "hour"])
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(**trigger)
            .start()
        )

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    spark.conf.set(KEY, FC_MANAGER)
    try:
        # the first batch fires at once, then a 60 s idle window to stop in
        q = start(out, ckpt, processingTime="60 seconds")
        deadline = time.time() + 60
        while not q.recentProgress and time.time() < deadline:
            time.sleep(0.2)
        assert q.recentProgress, "first micro-batch never committed"
        q.stop()
        q.awaitTermination()
    finally:
        tune(spark)
    assert spark.conf.get(KEY) == FS_MANAGER
    n_partial = spark.read.parquet(out).count()
    start(out, ckpt, availableNow=True).awaitTermination()

    ref_out = str(tmp_path / "ref_out")
    start(ref_out, str(tmp_path / "ref_ckpt"), availableNow=True).awaitTermination()

    def keys(path):
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    got, ref = keys(out), keys(ref_out)
    n_keys = (
        catalog(spark, sf_dir)
        .events.select("user_id", F.date_trunc("hour", "ts"))
        .distinct()
        .count()
    )
    assert 0 < n_partial < len(got)  # run 1 really stopped mid-stream
    assert len(set(got)) == len(got) == n_keys  # no duplicated, no lost key
    assert got == ref
