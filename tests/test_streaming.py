"""Streaming layer tests: Link facade, foreachBatch, watermark-bounded
dedup, routing, kafka gating."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from catenae_kafka_spark.catalog import catalog
from catenae_kafka_spark.streaming.link import Link
from catenae_kafka_spark.streaming.sinks import run_available_now
from catenae_kafka_spark.streaming.sources import (
    FileReplaySource,
    KafkaSource,
    RateSource,
    kafka_available,
    replay_events,
)

SF = "/root/testdata/sf0.001"


def test_link_map_filter_flatmap(spark):
    link = (
        Link(replay_events(spark, SF, n_files=4))
        .filter(F.col("event_type") == "click")
        .with_column("k", F.get_json_object("props", "$.k").cast("int"))
        .map(lambda df: df.select("event_id", "user_id", "k"))
    )
    out = link.run_available()
    rows = out.collect()
    assert len(rows) > 0
    assert set(out.columns) == {"event_id", "user_id", "k"}
    assert all(r.k is not None for r in rows)


def test_link_route_multi_output(spark):
    branches = Link(replay_events(spark, SF, n_files=4)).route(
        clicks=F.col("event_type") == "click",
        errors=F.col("event_type") == "error",
    )
    clicks = branches["clicks"].run_available()
    errors = branches["errors"].run_available()
    n_clicks, n_errors = clicks.count(), errors.count()
    c = catalog(spark, SF)
    exp_clicks = c.events.filter(F.col("event_type") == "click").count()
    exp_errors = c.events.filter(F.col("event_type") == "error").count()
    assert (n_clicks, n_errors) == (exp_clicks, exp_errors)


def test_link_dedup_within_watermark_bounds_state(spark):
    """dropDuplicatesWithinWatermark: within-watermark duplicates are
    suppressed; keys may legitimately re-emit after state eviction, so
    output is between n_distinct and n_rows."""
    link = Link(replay_events(spark, SF, n_files=4)).dedup(
        ["user_id", "event_type"], watermark="30 minutes"
    )
    out = link.run_available()
    n = out.count()
    c = catalog(spark, SF)
    n_rows = c.events.count()
    n_distinct = c.events.select("user_id", "event_type").distinct().count()
    assert n_distinct <= n <= n_rows
    assert n < n_rows  # it actually deduped something


def test_foreach_batch_collector(spark):
    seen: list[int] = []
    from catenae_kafka_spark.streaming.sources import FileReplaySource

    src = FileReplaySource(sf_dir=SF, n_files=4, files_per_trigger=2)
    link = Link(src.load(spark)).select("event_id")
    q = link.sink_foreach_batch(
        lambda df, epoch: seen.append(df.count()),
        output_mode="append",
        available_now=True,
    )
    q.awaitTermination()
    assert sum(seen) == catalog(spark, SF).events.count()
    assert len(seen) >= 2  # multi-batch (4 files / 2 per trigger)


def test_kafka_gated_with_clear_error(spark):
    assert kafka_available(spark) is False  # jar absent in this env
    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        KafkaSource("localhost:9092", "topic").load(spark)


def test_rate_source_loads(spark):
    df = RateSource(rows_per_second=10).load(spark)
    assert df.isStreaming
    assert set(df.columns) == {"timestamp", "value"}


def test_stream_static_enrich_via_link(spark):
    c = catalog(spark, SF)
    out = (
        Link(replay_events(spark, SF, n_files=4))
        .enrich(c.customer, F.col("user_id") == F.col("c_custkey"))
        .select("event_id", "c_mktsegment")
        .run_available()
    )
    assert out.count() > 0
    assert "c_mktsegment" in out.columns


def test_link_enrich_reads_dimension_once(spark):
    """``enrich`` materializes the dimension when the Link is built: the
    plan's broadcast side is a checkpointed RDD, with no ``customer``
    file scan for each micro-batch to re-plan and re-read. A 4-batch
    drain still equals the batch join."""
    sf = "/root/testdata/sf0.01"
    c = catalog(spark, sf)
    cols = ["event_id", "user_id", "ts", "value", "c_name", "c_mktsegment"]
    link = (
        Link.from_source(
            spark, FileReplaySource(sf_dir=sf, n_files=4, files_per_trigger=1)
        )
        .enrich(c.customer, F.col("user_id") == F.col("c_custkey"))
        .select(*cols)
    )
    analyzed = link.df._jdf.queryExecution().analyzed().toString()
    assert "customer.parquet" not in analyzed
    assert "LogicalRDD" in analyzed
    got = Counter(tuple(r) for r in link.run_available().collect())
    ref = c.events.join(c.customer, F.col("user_id") == F.col("c_custkey"))
    assert got == Counter(tuple(r) for r in ref.select(*cols).collect())


def test_replay_schema_memo_follows_restage(spark, tmp_path):
    """``FileReplaySource.load`` infers the staged schema once per
    ``_REPLAY_READY`` marker: a second load reads the memo (planted
    here with one column dropped), and a re-staged dir, with a new
    marker, reads its new schema."""
    import shutil

    from catenae_kafka_spark.streaming import sources

    sf = str(tmp_path)
    events = spark.range(40).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 5).alias("user_id"),
        F.timestamp_seconds(F.col("id") * 60).alias("ts"),
    )
    events.write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
    src = FileReplaySource(sf_dir=sf, n_files=2, files_per_trigger=1)
    try:
        assert src.load(spark).columns == ["event_id", "user_id", "ts"]
        marker = os.path.join(src._staging_dir(), "_REPLAY_READY")
        key = sources._schema_key(spark, marker)
        planted = StructType(sources._REPLAY_SCHEMAS[key].fields[:2])
        sources._REPLAY_SCHEMAS[key] = planted
        assert src.load(spark).columns == ["event_id", "user_id"]

        shutil.rmtree(src._staging_dir())
        events.withColumn("extra", F.lit(1)).write.mode("overwrite").parquet(
            os.path.join(sf, "events.parquet")
        )
        assert src.load(spark).columns == ["event_id", "user_id", "ts", "extra"]
    finally:
        shutil.rmtree(src._staging_dir(), ignore_errors=True)


@pytest.mark.parametrize(
    "sf_path",
    ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"],
)
def test_catalog_events_ts_is_watermarkable(spark, sf_path):
    """Fixture-encoding drift guard (round-2 sev-1): events.ts has been
    observed as int64-nanos AND as timezone-naive timestamp[us] across
    driver runs. Whatever the parquet encoding, the catalog must surface
    TIMESTAMP (LTZ) — TIMESTAMP_NTZ makes withWatermark raise
    EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE and takes down every watermarked
    streaming query plus the whole driver bench. Fail HERE at build time,
    not at driver time."""
    ev = catalog(spark, sf_path).events
    assert dict(ev.dtypes)["ts"] == "timestamp"
    # must analyze without raising, batch or stream
    ev.withWatermark("ts", "10 minutes")
    stream = replay_events(spark, sf_path, n_files=4)
    assert dict(stream.dtypes)["ts"] == "timestamp"
    stream.withWatermark("ts", "10 minutes")


def test_stream_dedup_within_wm_exact_distinct(spark):
    """The day-bucketed dedup key makes dropDuplicatesWithinWatermark
    output EXACTLY equal to batch DISTINCT (see q_stream_dedup_within_wm
    docstring for the liveness argument) — no re-emission, no loss."""
    from catenae_kafka_spark.streaming.queries import q_stream_dedup_within_wm

    out = q_stream_dedup_within_wm(spark, SF)
    got = {(r.user_id, r.event_type, r.day) for r in out.collect()}
    exp = {
        (r.user_id, r.event_type, r.day)
        for r in catalog(spark, SF)
        .events.select(
            "user_id", "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .distinct()
        .collect()
    }
    assert got == exp


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Kill a checkpointed streaming query mid-replay, restart from the
    same checkpoint: the WAL offsets + file-sink transaction log must
    deliver every event exactly once across the restart (no loss from
    unread files, no dups from reprocessed ones) — the recovery
    semantics catenae could only approximate with Kafka offset commits.
    A slow processing-time trigger guarantees the first run stops with
    files still unread."""
    import time as _time

    from catenae_kafka_spark.streaming.sources import FileReplaySource

    src = FileReplaySource(sf_dir=SF, n_files=4, files_per_trigger=1)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def writer(trigger_kwargs):
        return (
            src.load(spark)
            .select("event_id", "event_type", "value")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(**trigger_kwargs)
            .start()
        )

    # run 1: first batch fires immediately, then a 60s idle window we
    # stop inside — guaranteed partial progress
    q1 = writer({"processingTime": "60 seconds"})
    deadline = _time.time() + 60
    while not q1.recentProgress and _time.time() < deadline:
        _time.sleep(0.2)
    assert q1.recentProgress, "first micro-batch never committed"
    q1.stop()
    q1.awaitTermination()
    n_partial = spark.read.parquet(out).count()

    # run 2: resume from the checkpoint, drain the rest
    q2 = writer({"availableNow": True})
    q2.awaitTermination()

    back = spark.read.parquet(out)
    total = catalog(spark, SF).events.count()
    assert n_partial < total  # run 1 really did stop mid-stream
    assert back.count() == total  # no loss
    assert back.select("event_id").distinct().count() == total  # no dups


def test_metrics_listener_observes_progress_and_bounded_state(spark):
    """A13 parity upgrade: the listener sees every micro-batch of a
    watermarked windowed agg — total input rows equal the replayed
    events, multiple batches are observed, and the peak state-row count
    stays bounded (well under one state row per input row)."""
    from catenae_kafka_spark.streaming import ops
    from catenae_kafka_spark.streaming.observe import MetricsListener
    from catenae_kafka_spark.streaming.sinks import run_available_now

    listener = MetricsListener().attach(spark)
    try:
        agg = ops.tumbling_window_agg(
            replay_events(spark, SF),
            "1 hour",
            [F.count("*").alias("n")],
        )
        run_available_now(agg, "complete", "observed_tumbling")
        # listener bus delivers asynchronously; poll briefly
        import time as _time

        deadline = _time.time() + 15
        m = None
        while _time.time() < deadline:
            m = listener.totals().get("observed_tumbling")
            if m and m["input_rows"] >= 1000:
                break
            _time.sleep(0.3)
        n_events = catalog(spark, SF).events.count()
        assert m is not None, f"no metrics for query: {listener.totals()}"
        assert m["input_rows"] == n_events
        assert m["n_batches"] >= 2  # multi-micro-batch replay observed
        assert 0 < m["peak_state_rows"] < n_events  # windows, not rows
    finally:
        listener.detach(spark)


def test_watermark_drops_late_data_deterministically(spark, tmp_path):
    """Exact late-data policy, staged so the drop is DETERMINISTIC:
    batch 1 (hours 0-10) sets watermark 10h-5h = 5h; batch 2 (hours
    20-24) finalizes + emits the early windows (watermark -> 19h);
    batch 3 replays a DUPLICATE hour-1 event — its window is long
    evicted, so the stateful operator's late-row filter must drop it
    (were it admitted, a fresh hour-1 state entry would re-emit a
    second hour-1 row when the final watermark flushes). Spark's
    written guarantee is one-sided (within-delay rows are always
    aggregated; beyond-delay drop is best-effort BEFORE finalization) —
    this pins the after-finalization behavior: exactly-once emission,
    no resurrection. catenae had no event time at all; this is the new
    semantics the engine adds."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os as _os
    import time as _time

    from catenae_kafka_spark.streaming import ops
    from catenae_kafka_spark.streaming.sinks import run_available_now

    base = pd.Timestamp("2024-01-01 00:00:00")
    d = tmp_path / "late_src"
    d.mkdir()

    def write_slice(name, hours, mtime):
        df = pd.DataFrame(
            {
                # \u00b5s precision: Spark 4 refuses parquet TIMESTAMP(NANOS)
                "ts": pd.Series(
                    [base + pd.Timedelta(hours=h) for h in hours]
                ).astype("datetime64[us]"),
                "v": [1] * len(hours),
            }
        )
        path = str(d / name)
        pq.write_table(pa.Table.from_pandas(df), path)
        _os.utime(path, (mtime, mtime))

    t0 = _time.time() - 3600
    write_slice("slice-00000.parquet", list(range(0, 11)), t0)
    write_slice("slice-00001.parquet", list(range(20, 25)), t0 + 10)
    write_slice("slice-00002.parquet", [1, 40], t0 + 20)

    schema = spark.read.parquet(str(d)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    agg = ops.tumbling_window_agg(
        stream, "1 hour", [F.count("*").alias("n")], watermark="5 hours"
    )
    base_epoch = int(base.timestamp())
    out = run_available_now(
        agg.select(
            # absolute hours since base (F.hour wraps at midnight)
            ((F.unix_timestamp("window.start") - base_epoch) / 3600)
            .cast("int")
            .alias("h"),
            "n",
        ),
        "append",
        "late_drop_check",
    )
    rows = [(r.h, r.n) for r in out.collect()]
    # final watermark 40h-5h=35h flushes hours 0..10 and 20..24; the
    # hour-40 window stays open. The late hour-1 duplicate must appear
    # NOWHERE: not merged (n stays 1) and not resurrected (no second
    # h=1 row).
    assert sorted(rows) == [(h, 1) for h in list(range(0, 11)) + list(range(20, 25))]


def test_stream_dedup_within_wm_exact_under_thin_slices(spark):
    """The q_stream_dedup_within_wm liveness argument must hold for ANY
    slicing of the ordered replay (the proof depends only on event-time
    order, not batch width): re-run the same day-bucketed dedup with
    16 thin slices x 1 per trigger (16 micro-batches, watermark updated
    15x) and the output must still be exactly DISTINCT."""
    from catenae_kafka_spark.streaming.sinks import run_available_now
    from catenae_kafka_spark.streaming.sources import FileReplaySource

    stream = FileReplaySource(
        sf_dir=SF, n_files=16, files_per_trigger=1
    ).load(spark).withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    deduped = (
        stream.withWatermark("ts", "25 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "day"])
        .select("user_id", "event_type", "day")
    )
    out = run_available_now(deduped, "append", "dedup_wm_thin")
    got = {(r.user_id, r.event_type, r.day) for r in out.collect()}
    exp = {
        (r.user_id, r.event_type, r.day)
        for r in catalog(spark, SF)
        .events.select(
            "user_id", "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .distinct()
        .collect()
    }
    assert got == exp


def test_rocksdb_state_store_provider(spark):
    """The production state-store path (SCALE.md: RocksDB provider —
    keyed state spills to disk instead of executor heap) must produce
    identical results to the default HDFS-backed provider on the same
    watermarked windowed agg. Provider swap is a pure conf change."""
    from catenae_kafka_spark.streaming import ops
    from catenae_kafka_spark.streaming.sinks import run_available_now

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        agg = ops.tumbling_window_agg(
            replay_events(spark, SF),
            "1 hour",
            [F.count("*").alias("n")],
            keys=["event_type"],
        )
        out = run_available_now(agg, "complete", "rocksdb_check")
        total = out.agg(F.sum("n")).collect()[0][0]
        assert total == catalog(spark, SF).events.count()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_offline_state_store_inspection(spark, tmp_path):
    """Spark 4's statestore batch reader: streaming operator state is
    inspectable OFFLINE from the checkpoint — the ops capability for
    debugging state growth without touching the running query. The
    complete-mode windowed agg retains exactly one state row per
    (window, event_type) group, so the state row count must equal the
    batch-side distinct group count."""
    from catenae_kafka_spark.streaming import ops

    ckpt = str(tmp_path / "ckpt")
    agg = ops.tumbling_window_agg(
        replay_events(spark, SF),
        "1 hour",
        [F.count("*").alias("n")],
        keys=["event_type"],
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("state_inspect")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    meta = spark.read.format("state-metadata").load(ckpt)
    assert meta.filter(F.col("operatorName") == "stateStoreSave").count() == 1
    state = spark.read.format("statestore").load(ckpt)
    n_groups = (
        catalog(spark, SF)
        .events.select(F.date_trunc("hour", "ts"), "event_type")
        .distinct()
        .count()
    )
    assert state.count() == n_groups


def test_state_partition_count_invariance(spark):
    """The bench ladder bottoms STATE_PARTITIONS at 1 (per-batch
    per-partition state-commit cost dominates short finite replays);
    this test is the standing proof that the SAME plans are correct
    under a real multi-partition shuffle — the tumbling watermark agg
    (state shuffle) and the count-min fold (per-epoch merge planned on
    the drain's session clone) must produce identical results at 1 and
    4 partitions."""
    import catenae_kafka_spark.streaming.sinks as sinks
    from catenae_kafka_spark.operators.sketches import q_stream_count_min
    from catenae_kafka_spark.streaming import ops

    results, cms = {}, {}
    orig = sinks.STATE_PARTITIONS
    try:
        for sp in (1, 4):
            sinks.STATE_PARTITIONS = sp
            agg = ops.tumbling_window_agg(
                replay_events(spark, SF, n_files=4),
                "1 hour",
                [F.count("*").alias("n"),
                 F.sum("user_id").alias("s")],
                keys=["event_type"],
            )
            out = run_available_now(agg, "complete", f"sp_invariance_{sp}")
            results[sp] = {
                tuple(str(v) for v in r) for r in out.collect()
            }
            cms[sp] = sorted(q_stream_count_min(spark, SF).collect())
    finally:
        sinks.STATE_PARTITIONS = orig
    assert results[1] == results[4]
    assert len(results[1]) > 0
    assert cms[1] == cms[4]
    assert len(cms[1]) > 0
