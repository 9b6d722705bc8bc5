"""Link: catenae's topology API re-expressed over Structured Streaming.

Capability parity with catenae's ``Link`` (SURVEY §2A), feature by
feature:

- A1 Kafka consumer loop      → ``Link(source=KafkaSource(...))`` (or
  FileReplay/Rate locally); multi-topic "parity" mode → union of
  per-topic streams (``Link.union``). The "exp" prioritization mode has
  no Spark analog and is an explicitly dropped semantic.
- A3 transform()              → ``.map(fn)`` where fn: DataFrame →
  DataFrame (declarative, whole-plan optimized); ``.filter``,
  ``.flat_map`` (explode / mapInPandas) cover the 0..N-electron cases.
- A4 setup()                  → closure state in pandas_udf iterator
  form; broadcast variables for lookup assets. ``.enrich`` loads its
  dimension once, when it is called, as ``setup()`` did: the
  dimension is materialized then and every micro-batch broadcasts
  that snapshot.
- A5 multi-output routing     → ``.route(branch=cond, ...)`` producing
  per-branch sinks from one source plan.
- A6 keyed routing/ordering   → ``.key_by(col)`` (repartition by key:
  per-key processing locality; Kafka key column on the kafka sink).
- A8 timer loops              → trigger cadence (``processingTime=...``)
  on ``.start``; rate source for synthetic generation.
- A9 CircularOrderedSet dedup → ``.dedup(keys, watermark=...)``
  (state-store-backed, watermark-bounded).
- A10/A11 KV connectors       → ``.enrich(dim, on)`` stream-static join
  against the call-time snapshot of ``dim`` (Spark's plain
  stream-static join re-reads the dimension every batch; to pick up a
  changed dimension, rebuild the Link), or ``.sink_foreach_batch(fn)``
  for a live external store.
- A12 sync/parallel + commits → checkpointLocation WAL: at-least-once
  to arbitrary sinks, exactly-once to idempotent/transactional ones —
  strictly stronger than catenae's post-transform offset commit.
- A13 graceful shutdown       → ``.stop()`` / ``query.stop()``.
- A7 RPC layer                → out of scope (BASELINE.json north star).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from catenae_kafka_spark.streaming import ops, sinks


class Link:
    """A declarative stream topology node: source → transforms → sinks."""

    def __init__(self, stream: DataFrame):
        self._df = stream
        self._queries = []

    # ---- construction ------------------------------------------------
    @classmethod
    def from_source(cls, spark, source) -> "Link":
        return cls(source.load(spark))

    def union(self, other: "Link") -> "Link":
        """Multi-topic consumption (catenae 'parity' input mode)."""
        return Link(self._df.unionByName(other._df))

    # ---- transforms (catenae transform() decomposed) -----------------
    def map(self, fn: Callable[[DataFrame], DataFrame]) -> "Link":
        return Link(fn(self._df))

    def select(self, *cols) -> "Link":
        return Link(self._df.select(*cols))

    def with_column(self, name: str, col: Column) -> "Link":
        return Link(self._df.withColumn(name, col))

    def filter(self, cond) -> "Link":
        return Link(self._df.filter(cond))

    def flat_map(self, explode_col: Column, alias: str) -> "Link":
        """One row → N rows via explode (the common flatMap shape)."""
        return Link(self._df.withColumn(alias, F.explode(explode_col)))

    def key_by(self, *cols: str) -> "Link":
        """Per-key locality (catenae electron.key partitioning)."""
        return Link(self._df.repartition(*[F.col(c) for c in cols]))

    def dedup(
        self, keys: list[str], ts_col: str = "ts", watermark: str = "30 minutes"
    ) -> "Link":
        return Link(ops.stream_dedup(self._df, keys, ts_col, watermark))

    def enrich(self, dim: DataFrame, on, how: str = "inner") -> "Link":
        return Link(ops.enrich(self._df, dim, on, how))

    def window(
        self,
        size: str,
        aggs: list,
        slide: str | None = None,
        keys: list[str] | None = None,
        ts_col: str = "ts",
        watermark: str = "10 minutes",
    ) -> "Link":
        if slide:
            out = ops.sliding_window_agg(
                self._df, size, slide, aggs, ts_col, keys, watermark
            )
        else:
            out = ops.tumbling_window_agg(
                self._df, size, aggs, ts_col, keys, watermark
            )
        return Link(out)

    # ---- routing (catenae A5 multi-output) ---------------------------
    def route(self, **branches) -> dict[str, "Link"]:
        """Split into named branches by predicate; each branch is an
        independent Link over the same upstream plan (one source, N
        filtered sinks — catenae's destination-topic override)."""
        return {name: Link(self._df.filter(cond)) for name, cond in branches.items()}

    # ---- sinks -------------------------------------------------------
    @property
    def df(self) -> DataFrame:
        return self._df

    def run_available(self, output_mode: str = "append") -> DataFrame:
        """Drain the finite stream synchronously; return the result."""
        return sinks.run_available_now(self._df, output_mode)

    def sink_memory(self, name: str, output_mode: str = "append"):
        q = sinks.memory_sink(self._df, name, output_mode)
        self._queries.append(q)
        return q

    def sink_parquet(self, path: str, **kw):
        q = sinks.parquet_sink(self._df, path, **kw)
        self._queries.append(q)
        return q

    def sink_foreach_batch(self, fn, **kw):
        q = sinks.foreach_batch_sink(self._df, fn, **kw)
        self._queries.append(q)
        return q

    def sink_kafka(self, bootstrap_servers: str, topic: str, **kw):
        q = sinks.kafka_sink(self._df, bootstrap_servers, topic, **kw)
        self._queries.append(q)
        return q

    def stop(self) -> None:
        """Graceful shutdown (catenae ``suicide`` analog, minus drama)."""
        for q in self._queries:
            q.stop()
        self._queries.clear()
