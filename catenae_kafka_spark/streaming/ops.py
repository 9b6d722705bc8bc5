"""Streaming operators: watermarked windows, dedup, joins.

The semantic upgrades over catenae (which had wall-clock timers only —
no event time, no watermarks, no late-data policy):

- event-time windows (tumbling/sliding/session) with watermark-driven
  state eviction — state is bounded by the watermark delay, not by a
  fixed-capacity dict (catenae's CircularOrderedDict);
- ``dropDuplicatesWithinWatermark``: the state-store-backed replacement
  for catenae's CircularOrderedSet dedup;
- stream-static enrichment (replaces Aerospike/Mongo per-message
  lookups). Stream-stream time-bounded joins, impossible in catenae
  without hand-rolled buffering, are written inline by q_stream_join
  and its outer/full variants (streaming/queries.py).

At scale: streaming state lives in the state store, keyed by group key,
sharded by shuffle partition; watermark delay bounds total state. The
provider is Spark's default HDFS-backed store; RocksDB is set only
where an operator requires it (transformWithState, q_stream_ema_tws in
streaming/queries.py). RocksDB with changelog checkpointing measured
~50% slower on the stream_link dedup drain (7.7-8.5 s vs 5.4-5.7 s,
same session, 4 cores).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from catenae_kafka_spark.operators.checkpointing import materialize


def tumbling_window_agg(
    events: DataFrame,
    window_size: str,
    aggs: list,
    ts_col: str = "ts",
    keys: list[str] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    wm = events.withWatermark(ts_col, watermark)
    group_cols = [F.window(ts_col, window_size)] + [F.col(k) for k in (keys or [])]
    return wm.groupBy(*group_cols).agg(*aggs)


def sliding_window_agg(
    events: DataFrame,
    window_size: str,
    slide: str,
    aggs: list,
    ts_col: str = "ts",
    keys: list[str] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    wm = events.withWatermark(ts_col, watermark)
    group_cols = [F.window(ts_col, window_size, slide)] + [
        F.col(k) for k in (keys or [])
    ]
    return wm.groupBy(*group_cols).agg(*aggs)


def session_window_agg(
    events: DataFrame,
    gap: str,
    aggs: list,
    ts_col: str = "ts",
    keys: list[str] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    wm = events.withWatermark(ts_col, watermark)
    group_cols = [F.session_window(ts_col, gap)] + [F.col(k) for k in (keys or [])]
    return wm.groupBy(*group_cols).agg(*aggs)


def stream_dedup(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """First-seen-wins dedup with watermark-bounded state (catenae's
    CircularOrderedSet, but with a principled eviction policy)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def enrich(stream: DataFrame, dim: DataFrame, on, how: str = "inner") -> DataFrame:
    """Stream-static join: per-row dimension lookup without a KV store.

    The bounded static ``dim`` is materialized once, when this is
    called (catenae's ``setup()`` loading a lookup asset once per Link),
    and broadcast from those blocks: each micro-batch joins map-side
    without re-planning or re-scanning the dimension's source. So the
    join sees the dimension as it was at call time; Spark's plain
    stream-static join re-reads it every batch. To pick up a changed
    dimension, build the Link again, or look up a live store from
    ``sink_foreach_batch``."""
    return stream.join(F.broadcast(materialize(dim)), on, how)
