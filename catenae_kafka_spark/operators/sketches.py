"""Frequency-sketch operators: Misra–Gries heavy hitters.

Completes the mergeable-sketch family (HLL distinct-count in
profiling.py, approx quantiles in aggregates.py) with a frequency
sketch: per-partition Misra–Gries summaries of fixed size k, merged by
summing per-item estimates.

Guarantees (the textbook ones, asserted in tests/test_sketches.py):
- est(item) <= true_freq(item)                  (never overestimates)
- true_freq(item) - est(item) <= n / (k + 1)    (bounded undercount)
- any item with true_freq > n/(k+1) appears in the merged sketch

Scale shape: the sketch is O(k) per partition regardless of partition
size — the shuffle carries at most k rows per input partition, the
merge is an ordinary two-phase sum. When per-partition distinct
cardinality <= k the sketch never evicts and the merged estimates are
EXACT counts — which is why the registered query (5 event types,
k = 8) carries a full SQL oracle while the eviction path is
property-tested on synthetic Zipf data.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from catenae_kafka_spark.catalog import catalog
from catenae_kafka_spark.registry import REGISTRY


def misra_gries_partials(df: DataFrame, col: str, k: int) -> DataFrame:
    """Per-partition Misra–Gries sketch: at most ``k`` (item, est) rows
    per input partition, est <= partition freq, undercount bounded by
    n_partition/(k+1). Arrow-batched mapInPandas; the Python loop runs
    over a dict of at most k counters, not over the data twice."""
    src = df.select(F.col(col).cast("string").alias("item"))

    def sketch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for pdf in batches:
            for item in pdf["item"]:
                if item in counters:
                    counters[item] += 1
                elif len(counters) < k:
                    counters[item] = 1
                else:
                    # decrement-all step: the new item and one unit of
                    # every tracked item annihilate together
                    for key in list(counters):
                        counters[key] -= 1
                        if counters[key] == 0:
                            del counters[key]
        yield pd.DataFrame(
            {"item": list(counters), "est": list(counters.values())}
        )

    return src.mapInPandas(sketch, "item string, est long")


def heavy_hitters(df: DataFrame, col: str, k: int) -> DataFrame:
    """Merged heavy-hitter estimates: union of per-partition sketches,
    summed per item (estimates stay lower bounds; undercount bounds
    add across partitions to n/(k+1) total)."""
    return (
        misra_gries_partials(df, col, k)
        .groupBy("item")
        .agg(F.sum("est").alias("est"))
    )


_HH_ORACLE = """
SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS est
FROM events
GROUP BY event_type
"""


@REGISTRY.register("q_heavy_hitters", tags=("sketch", "agg"), oracle=_HH_ORACLE)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over events.event_type via the distributed
    Misra–Gries sketch. With 5 distinct types and k = 8 no partition
    ever evicts, so the sketch is provably exact and the SQL oracle is
    a plain GROUP BY count; the eviction/guarantee path is
    property-tested on synthetic Zipf data (test_sketches.py)."""
    c = catalog(spark, sf_dir)
    return heavy_hitters(c.events, "event_type", k=8)


@REGISTRY.register(
    "q_stream_heavy_hitters", tags=("sketch", "streaming"), oracle=_HH_ORACLE
)
def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over a STREAM: each micro-batch's Misra–Gries
    partials merge into a running sketch (sum per item — the sketch is
    mergeable across epochs exactly as it is across partitions, with
    the same additive n/(k+1) undercount bound). Cardinality <= k here,
    so the streaming sketch stays exact and shares q_heavy_hitters'
    SQL oracle.

    Scale shape: running state is O(k) rows regardless of stream
    length; per epoch the shuffle carries <= k rows per batch
    partition."""
    from catenae_kafka_spark.streaming.sinks import fold
    from catenae_kafka_spark.streaming.sources import replay_events

    def _merge(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        partial = misra_gries_partials(batch_df, "event_type", 8)
        if prev is not None:
            partial = prev.unionByName(partial)
        return partial.groupBy("item").agg(F.sum("est").alias("est"))

    return fold(replay_events(spark, sf_dir), _merge, "item string, est long")


CMS_D, CMS_W = 4, 64


def cms_hash_cells(col: str, d: int = CMS_D, w: int = CMS_W):
    """The Count-Min hash-cell array for one item column: d (row, col)
    structs via xxhash64 with per-row seeds. The SINGLE definition of
    the sketch geometry — batch CMS, streaming CMS, and the property
    test all build from it, so the hash scheme cannot drift between
    them (drift would silently break the batch/stream merge
    equivalence)."""
    return F.array(
        *[
            F.struct(
                F.lit(r).alias("r"),
                F.pmod(F.xxhash64(F.col(col), F.lit(r)), F.lit(w)).alias("col"),
            )
            for r in range(d)
        ]
    )


def cms_cells(df: DataFrame, col: str, d: int = CMS_D, w: int = CMS_W) -> DataFrame:
    """Cell counts (r, col, n) of the Count-Min sketch over df[col] —
    mergeable across partitions/epochs by cell-wise sum."""
    return (
        df.select(F.explode(cms_hash_cells(col, d, w)).alias("cell"))
        .groupBy(F.col("cell.r").alias("r"), F.col("cell.col").alias("col"))
        .agg(F.count("*").alias("n"))
    )


def cms_point_estimates(
    cells: DataFrame, items: DataFrame, col: str, d: int = CMS_D, w: int = CMS_W
) -> DataFrame:
    """est(item) = min over the item's d cells (never underestimates)."""
    probes = items.select(
        F.col(col).alias("item"), F.explode(cms_hash_cells(col, d, w)).alias("cell")
    ).select("item", F.col("cell.r").alias("r"), F.col("cell.col").alias("col"))
    return (
        probes.join(F.broadcast(cells), ["r", "col"])
        .groupBy("item")
        .agg(F.min("n").alias("est"))
    )


@REGISTRY.register(
    "q_count_min",
    tags=("sketch", "agg"),
    oracle="""
SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS est
FROM events GROUP BY event_type
""",
)
def q_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point queries, entirely in JVM expressions: each
    row hashes into d=4 rows x w=64 columns (xxhash64 with per-row
    seeds, cms_hash_cells), cell counts are an ordinary two-phase
    groupBy (the sketch is d*w cells regardless of input size,
    mergeable by cell-wise sum across partitions/days), and est(item)
    = min over its d cells. CMS guarantees est >= true (overestimate
    only, dual of Misra-Gries); with 5 distinct event types an item
    collides in ALL 4 rows with probability ~(5/64)^4 ~ 4e-5 — and the
    hash is deterministic, so the fixture's collision-free layout is
    stable and the plain GROUP BY count is an exact oracle. The
    overestimate bound on adversarial/Zipf input is property-tested in
    tests/test_sketches.py."""
    c = catalog(spark, sf_dir)
    cells = cms_cells(c.events, "event_type")
    items = c.events.select("event_type").distinct()
    return cms_point_estimates(cells, items, "event_type")


@REGISTRY.register(
    "q_stream_count_min",
    tags=("sketch", "streaming"),
    oracle="""
SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS est
FROM events GROUP BY event_type
""",
)
def q_stream_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min over a STREAM: each micro-batch's d x w cell counts
    merge into the running sketch by cell-wise SUM — CMS's merge is
    exactly its partition merge, so the epoch-merged sketch equals the
    batch sketch over the full stream (same guarantees, same
    collision-free-on-this-domain exactness as q_count_min; the
    running state is d*w = 256 cells regardless of stream length).
    Point queries read the final merged sketch."""
    from catenae_kafka_spark.streaming.sinks import fold
    from catenae_kafka_spark.streaming.sources import replay_events

    def _merge(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        partial = cms_cells(batch_df, "event_type")
        if prev is not None:
            partial = prev.unionByName(partial)
        return partial.groupBy("r", "col").agg(F.sum("n").alias("n"))

    cells = fold(replay_events(spark, sf_dir), _merge, "r int, col long, n long")
    items = catalog(spark, sf_dir).events.select("event_type").distinct()
    return cms_point_estimates(cells, items, "event_type")


@REGISTRY.register(
    "q_stream_bitmap_distinct",
    tags=("sketch", "streaming"),
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
""",
)
def q_stream_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting over a STREAM via mergeable bitmaps:
    each micro-batch folds its user ids into per-(key, bucket) bitmap
    partials, merged across epochs with bitmap_or_agg — OR-merge makes
    re-delivered ids idempotent, so the count stays exact under
    at-least-once replay (the property approx HLL shares but plain
    counters do not). Running state is bounded by key x occupied
    buckets, independent of stream length; the final read is
    bitmap_count. Oracle = plain COUNT(DISTINCT) over the same
    events."""
    from catenae_kafka_spark.streaming.sinks import fold
    from catenae_kafka_spark.streaming.sources import replay_events

    def _merge(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        partial = (
            batch_df.select(
                "event_type",
                F.bitmap_bucket_number("user_id").alias("bucket"),
                F.bitmap_bit_position("user_id").alias("pos"),
            )
            .groupBy("event_type", "bucket")
            .agg(F.bitmap_construct_agg("pos").alias("bm"))
        )
        if prev is not None:
            partial = prev.unionByName(partial)
        return partial.groupBy("event_type", "bucket").agg(
            F.bitmap_or_agg("bm").alias("bm")
        )

    cells = fold(
        replay_events(spark, sf_dir),
        _merge,
        "event_type string, bucket long, bm binary",
    )
    return cells.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).cast("long").alias("n_users")
    )


@REGISTRY.register(
    "q_bloom_fpr",
    tags=("sketch", "membership"),
    oracle="""
WITH members AS MATERIALIZED (
  SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_orderkey % 3 = 0
), bits AS MATERIALIZED (
  SELECT DISTINCT pos FROM (
    SELECT ('0x' || substr(md5('1:' || k), 1, 8))::BIGINT % 4096 AS pos
    FROM members
    UNION ALL
    SELECT ('0x' || substr(md5('2:' || k), 1, 8))::BIGINT % 4096 FROM members
    UNION ALL
    SELECT ('0x' || substr(md5('3:' || k), 1, 8))::BIGINT % 4096 FROM members
  )
), probes AS MATERIALIZED (
  SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_orderkey % 3 <> 0
), tested AS MATERIALIZED (
  SELECT k,
         ('0x' || substr(md5('1:' || k), 1, 8))::BIGINT % 4096 IN
           (SELECT pos FROM bits)
         AND ('0x' || substr(md5('2:' || k), 1, 8))::BIGINT % 4096 IN
           (SELECT pos FROM bits)
         AND ('0x' || substr(md5('3:' || k), 1, 8))::BIGINT % 4096 IN
           (SELECT pos FROM bits) AS maybe
  FROM probes
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM members) AS n_members,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set,
       CAST(COUNT(*) AS BIGINT) AS n_probes,
       CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_pos,
       (CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
         // COUNT(*) AS fpr_micro
FROM tested
""",
)
def q_bloom_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter built from first principles and its false-positive
    rate MEASURED, not assumed: a 4096-bit / 3-hash filter over every
    third order key (md5-derived bit positions — engine-portable), then
    every known NON-member is probed and the observed FPR reported
    next to the bit occupancy that determines it. This is the sketch
    inside q_join_bloom's runtime filter, opened up so its accuracy
    contract is itself a hash-checked result.

    Exact: bit positions, probes and counts are all deterministic
    integers — the 'probabilistic' structure is fully reproducible.

    Scale shape: the filter is a <=4096-row bit table (broadcast);
    build and probe are map-side hashing + three broadcast membership
    joins; at 100 TB the bit table would be an actual bitmap in a
    broadcast variable, same math."""
    c = catalog(spark, sf_dir)

    def h(i: int, col) -> "F.Column":
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i}:"), col.cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("bigint")
            % 4096
        )

    members = (
        c.orders.filter(F.col("o_orderkey") % 3 == 0)
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    bits = (
        members.select(h(1, F.col("k")).alias("pos"))
        .unionAll(members.select(h(2, F.col("k")).alias("pos")))
        .unionAll(members.select(h(3, F.col("k")).alias("pos")))
        .distinct()
    )
    probes = (
        c.orders.filter(F.col("o_orderkey") % 3 != 0)
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
        .select("k", h(1, F.col("k")).alias("h1"), h(2, F.col("k")).alias("h2"), h(3, F.col("k")).alias("h3"))
    )
    b = lambda n: F.broadcast(bits.withColumnRenamed("pos", f"p{n}"))
    tested = (
        probes.join(b(1), F.col("h1") == F.col("p1"), "left")
        .join(b(2), F.col("h2") == F.col("p2"), "left")
        .join(b(3), F.col("h3") == F.col("p3"), "left")
        .select(
            (
                F.col("p1").isNotNull()
                & F.col("p2").isNotNull()
                & F.col("p3").isNotNull()
            ).alias("maybe")
        )
    )
    nm = members.agg(F.count("*").cast("bigint").alias("n_members"))
    nb = bits.agg(F.count("*").cast("bigint").alias("n_bits_set"))
    return (
        tested.agg(
            F.count("*").cast("bigint").alias("n_probes"),
            F.sum(F.when(F.col("maybe"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_false_pos"),
        )
        .crossJoin(F.broadcast(nm))
        .crossJoin(F.broadcast(nb))
        .select(
            "n_members",
            "n_bits_set",
            "n_probes",
            "n_false_pos",
            F.expr("(n_false_pos * 1000000) div n_probes").alias("fpr_micro"),
        )
    )
