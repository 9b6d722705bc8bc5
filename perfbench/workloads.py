"""The benchmark's workloads. Each is a list of operations; one pass
runs every operation once, each as build (plan construction through
the engine's public API) then execute.

- ``headline_sf0.1``: the registry's ``bench=True`` queries, executed
  to the noop sink.
- ``stream_link``: a catenae-style ``Link`` topology over a replay of
  an at-least-once delivery log: filter → enrich → dedup → drain.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import verify


class Headline:
    name = "headline_sf0.1"
    stream_op = "q_stream_tumbling"

    def __init__(self, spark, data_dir: str, seed: int, check) -> None:
        from catenae_kafka_spark.registry import all_specs

        self.spark, self.data_dir, self.seed, self.check = spark, data_dir, seed, check
        self.specs = {n: s for n, s in all_specs().items() if s.bench}
        self.ops = sorted(self.specs)
        self.stream_events = pq.read_metadata(os.path.join(data_dir, "events.parquet")).num_rows

    def prepare(self) -> None:
        """Stage the tumbling query's replay layout (a one-time re-layout
        of the events table, as ``bench.py`` does before timing)."""
        from catenae_kafka_spark.streaming.sources import replay_events

        replay_events(self.spark, self.data_dir)

    def build(self, op: str):
        return self.specs[op].fn(self.spark, self.data_dir)

    def execute(self, built) -> None:
        built.write.format("noop").mode("overwrite").save()

    def plan_of(self, built):
        return built

    def collect(self, op: str):
        """Build ``op`` and collect its rows (thread-safe)."""
        return self.build(op).toPandas()

    def verify(self, op: str, got, con) -> list[str]:
        spec = self.specs[op]
        if spec.oracle is not None:
            return verify.same_rows(self.check, op, got, con.execute(spec.oracle).df())
        if op == "q_dedup_minhash":
            pairs = list(zip(got["id_a"], got["id_b"], got["jaccard"]))
            return verify.minhash_problems(pairs, self.data_dir, self.seed)
        return [f"{op} has no output check"]

    def check_timed(self, op: str, out) -> list[str]:
        return []


class StreamLink:
    name = "stream_link"
    stream_op = "link"
    ops = ["link"]
    #: replay files, one per micro-batch
    N_FILES = 10

    def __init__(self, spark, data_dir: str, seed: int, check) -> None:
        from catenae_kafka_spark.catalog import catalog
        from catenae_kafka_spark.streaming.sources import FileReplaySource

        self.spark, self.data_dir, self.check = spark, data_dir, check
        self.source = FileReplaySource(
            sf_dir=os.path.join(data_dir, "deliveries"),
            n_files=self.N_FILES,
            files_per_trigger=1,
            order_col="arrival",
        )
        self.customer = catalog(spark, data_dir).table("customer")
        self.stream_events = pq.read_metadata(
            os.path.join(data_dir, "deliveries", "events.parquet")
        ).num_rows
        self.expected_rows: int | None = None

    def prepare(self) -> None:
        """Stage the replay layout (first ``load`` writes it)."""
        self.source.load(self.spark)

    def build(self, op: str):
        from catenae_kafka_spark.streaming.link import Link

        return (
            Link.from_source(self.spark, self.source)
            .filter(F.col("value") > 0)
            .enrich(self.customer, F.col("user_id") == F.col("c_custkey"))
            .dedup(["event_id"])
        )

    def execute(self, built):
        return built.run_available("append")

    def plan_of(self, built):
        return None

    def collect(self, op: str):
        return self.execute(self.build(op)).drop("arrival").toPandas()

    def verify(self, op: str, got, con) -> list[str]:
        self.expected_rows, problems = verify.stream_problems(got, con)
        return problems

    def check_timed(self, op: str, out) -> list[str]:
        n = out.count()
        return [] if n == self.expected_rows else [f"{op}: {n} rows, reference {self.expected_rows}"]


WORKLOADS = {w.name: w for w in (Headline, StreamLink)}
