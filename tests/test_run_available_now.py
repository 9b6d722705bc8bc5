"""``run_available_now`` against the memory sink it replaced: the same
rows (as a multiset) in append, update and complete mode, the empty
stream's schema, and no temp view left behind."""

from __future__ import annotations

import uuid
from collections import Counter

from pyspark.sql import functions as F

from catenae_kafka_spark.catalog import catalog
from catenae_kafka_spark.streaming import ops
from catenae_kafka_spark.streaming.sinks import memory_sink, run_available_now
from catenae_kafka_spark.streaming.sources import FileReplaySource, replay_events

SF = "/root/testdata/sf0.001"


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def _memory_drain(spark, df, output_mode: str) -> Counter:
    """The reference: the same plan drained through the memory sink."""
    name = f"ref_{uuid.uuid4().hex[:8]}"
    q = memory_sink(df, name, output_mode)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = _rows(spark.table(name))
    spark.catalog.dropTempView(name)
    return rows


def _sessions(events):
    """Per-user 2-hour sessions; the sentinel's far-future session is
    dropped by its window start, after the aggregation (a filter on the
    group key would be pushed below it and drop the sentinel row)."""
    agg = events.groupBy(
        F.session_window("ts", "2 hours").alias("w"), "user_id"
    ).agg(F.count("*").alias("n"))
    return agg.filter(F.year("w.start") < 2030).select(
        "user_id", F.col("w.start").alias("start"), "n"
    )


def test_append_session_window_keeps_sentinel_flush(spark):
    """Append mode emits each session once the watermark closes it; the
    last sessions close only in the no-data batch that follows the
    sentinel. The drain must equal the memory sink's and the batch
    sessionization of the same events."""
    stream = replay_events(spark, SF, n_files=4, with_sentinel=True)
    plan = _sessions(stream.withWatermark("ts", "10 minutes"))
    got = _rows(run_available_now(plan, "append"))
    assert got == _memory_drain(spark, plan, "append")
    assert got == _rows(_sessions(catalog(spark, SF).events))


def test_update_mode_unions_every_batch(spark):
    """Update mode re-emits a key in every batch that changes it; the
    result is every emitted row, batch after batch."""
    stream = FileReplaySource(sf_dir=SF, n_files=4, files_per_trigger=1).load(spark)
    plan = stream.groupBy("event_type").agg(F.count("*").alias("n"))
    got = _rows(run_available_now(plan, "update"))
    assert got == _memory_drain(spark, plan, "update")
    n_types = catalog(spark, SF).events.select("event_type").distinct().count()
    assert sum(got.values()) > n_types  # keys re-emitted across batches


def test_complete_mode_keeps_last_batch(spark):
    stream = replay_events(spark, SF, n_files=4)
    plan = ops.tumbling_window_agg(
        stream, "1 hour", [F.count("*").alias("n")], keys=["event_type"]
    )
    got = _rows(run_available_now(plan, "complete"))
    assert got == _memory_drain(spark, plan, "complete")
    assert sum(r[-1] for r in got.elements()) == catalog(spark, SF).events.count()


def test_empty_stream_keeps_schema(spark, tmp_path):
    """No micro-batch at all (an empty source dir) and only empty
    micro-batches (a filter that drops every row): both results are
    empty and carry the streaming DataFrame's schema."""
    events = catalog(spark, SF).events
    empty_dir = tmp_path / "empty"
    empty_dir.mkdir()
    no_batches = spark.readStream.schema(events.schema).parquet(str(empty_dir))
    no_rows = replay_events(spark, SF, n_files=4).filter(F.col("event_id") < 0)
    for stream in (no_batches, no_rows):
        out = run_available_now(stream, "append")
        assert out.schema == stream.schema
        assert out.count() == 0


def test_drains_leave_no_temp_view(spark):
    """The memory sink registered its query name as a temp view holding
    every drained row on the driver; the collector registers nothing."""
    before = sorted(t.name for t in spark.catalog.listTables())
    for _ in range(3):
        stream = replay_events(spark, SF, n_files=4).select("event_id")
        assert run_available_now(stream, "append").count() > 0
    assert sorted(t.name for t in spark.catalog.listTables()) == before


def test_result_plans_in_the_callers_session(spark):
    """A micro-batch belongs to the stream's cloned session (AQE off,
    the drain's temporary shuffle-partition count); the returned
    DataFrame must plan later queries with the caller's confs."""
    out = run_available_now(replay_events(spark, SF, n_files=4), "append")
    assert out._jdf.sparkSession().equals(spark._jsparkSession)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    agg = out.groupBy("event_type").count()
    assert "AdaptiveSparkPlan" in agg._jdf.queryExecution().executedPlan().toString()
