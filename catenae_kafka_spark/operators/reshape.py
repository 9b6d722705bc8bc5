"""Reshape & maintenance operators: unpivot (melt), deterministic hash
sampling, MERGE-style upsert.

- ``q_unpivot``: the inverse of q_pivot (wide → long) via the native
  unpivot/melt operator — map-only, no shuffle.
- ``q_sample_hash``: deterministic sampling. ``df.sample()`` is
  seed-and-partitioning dependent (not reproducible across engines or
  even layouts), so the engine's reproducible-sample primitive is a
  hash-mod filter on a key — portable, stable under repartitioning, and
  exactly what a 100 TB pipeline wants for holdout splits.
- ``merge_upsert``: Delta-style MERGE emulated with anti-join + union
  (the v1 image has no Delta jars). Catenae analog: per-message KV
  upserts into Aerospike/Mongo — here it is a declarative set operation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from catenae_kafka_spark.catalog import catalog
from catenae_kafka_spark.functions.compat import half_up
from catenae_kafka_spark.registry import REGISTRY


@REGISTRY.register(
    "q_unpivot",
    tags=("reshape",),
    oracle="""
WITH wide AS (
  SELECT o_orderstatus,
         ROUND(SUM(o_totalprice) FILTER (o_orderpriority = '1-URGENT'), 2) AS p1,
         ROUND(SUM(o_totalprice) FILTER (o_orderpriority = '5-LOW'), 2) AS p5
  FROM orders GROUP BY o_orderstatus
)
SELECT o_orderstatus, prio, amount
FROM wide UNPIVOT INCLUDE NULLS (amount FOR prio IN (p1, p5))
""",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: wide per-priority columns back to long rows."""
    c = catalog(spark, sf_dir)
    wide = (
        c.orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", ["1-URGENT", "5-LOW"])
        .agg(F.round(F.sum("o_totalprice"), 2))
        .withColumnRenamed("1-URGENT", "p1")
        .withColumnRenamed("5-LOW", "p5")
    )
    return wide.unpivot(
        ids=["o_orderstatus"],
        values=["p1", "p5"],
        variableColumnName="prio",
        valueColumnName="amount",
    )


@REGISTRY.register(
    "q_sample_hash",
    tags=("sample",),
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_orderkey % 10 = 3
""",
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample by key mod — reproducible across
    engines, runs, and data layouts (unlike seed-based df.sample)."""
    c = catalog(spark, sf_dir)
    return c.orders.filter(F.col("o_orderkey") % 10 == 3).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


def merge_upsert(target: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """MERGE INTO emulation: rows from ``updates`` win on key collision,
    unmatched target rows are kept (upsert). Anti-join + union — two
    shuffles max, no per-row lookups."""
    kept = target.join(updates, key, "left_anti")
    return kept.unionByName(updates)


@REGISTRY.register(
    "q_merge_upsert",
    tags=("merge",),
    oracle="""
WITH updates AS (
  SELECT s_suppkey, s_name, ROUND(s_acctbal * 1.10, 4) AS s_acctbal
  FROM supplier WHERE s_suppkey % 3 = 0
)
SELECT s_suppkey, s_name, s_acctbal FROM updates
UNION ALL
SELECT s_suppkey, s_name, s_acctbal FROM supplier s
WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.s_suppkey = s.s_suppkey)
""",
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert: 10%-raised balances for every third supplier merged over
    the base table (catenae KV-upsert analog, declaratively)."""
    c = catalog(spark, sf_dir)
    base = c.supplier.select("s_suppkey", "s_name", "s_acctbal")
    updates = base.filter(F.col("s_suppkey") % 3 == 0).withColumn(
        "s_acctbal", F.round(F.col("s_acctbal") * 1.10, 4)
    )
    return merge_upsert(base, updates, "s_suppkey")


# Portable per-row "random": multiplicative hash of the key, mod 100.
# Both engines compute it bit-identically (doc_id * Knuth constant stays
# far under 2^63), unlike seed-based df.sample which depends on
# partitioning. Stable under repartitioning/shuffles => reproducible
# pipeline reruns at any scale.
_MIX_HASH_SQL = "(doc_id * 2654435761) % 100"


def _mix_hash() -> F.Column:
    return (F.col("doc_id") * 2654435761) % 100


@REGISTRY.register(
    "q_sample_stratified",
    tags=("sample", "mix"),
    oracle=f"""
SELECT doc_id, lang
FROM documents
WHERE {_MIX_HASH_SQL} < (CASE WHEN lang = 'en' THEN 25 ELSE 50 END)
""",
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling for training-data mixing: keep 25% of the
    dominant language, 50% of the rest — per-stratum rates on a
    deterministic hash, the scale-safe form of df.sampleBy (which is
    seed/layout dependent). Map-side filter only: no shuffle."""
    c = catalog(spark, sf_dir)
    rate = F.when(F.col("lang") == "en", 25).otherwise(50)
    return c.documents.filter(_mix_hash() < rate).select("doc_id", "lang")


@REGISTRY.register(
    "q_split_train_test",
    tags=("sample", "mix"),
    oracle=f"""
SELECT doc_id, lang,
       CASE WHEN {_MIX_HASH_SQL} < 80 THEN 'train'
            WHEN {_MIX_HASH_SQL} < 90 THEN 'valid'
            ELSE 'test' END AS split
FROM documents
""",
)
def q_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test assignment per document.
    The same document lands in the same split on every run, engine, and
    cluster layout — the property a multi-epoch 100 TB training
    pipeline needs from its holdout split."""
    c = catalog(spark, sf_dir)
    h = _mix_hash()
    split = (
        F.when(h < 80, "train").when(h < 90, "valid").otherwise("test")
    )
    return c.documents.select("doc_id", "lang", split.alias("split"))


@REGISTRY.register(
    "q_sample_mix",
    tags=("sample", "mix"),
    oracle=f"""
WITH w(source, keep_pct) AS (
  VALUES ('src0', 100), ('src1', 50), ('src2', 25)
), kept AS (
  SELECT d.doc_id, d.source
  FROM documents d JOIN w ON d.source = w.source
  WHERE {_MIX_HASH_SQL} < w.keep_pct
)
SELECT source, COUNT(*) AS n_docs, CAST(MIN(doc_id) AS BIGINT) AS min_doc
FROM kept GROUP BY source
""",
)
def q_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mixing: a tiny per-source weights table joins in
    (broadcast) and gates each document through the deterministic hash —
    upweight/downweight corpora without materializing intermediates.
    The weights side is O(#sources); the scan side never shuffles until
    the final count."""
    c = catalog(spark, sf_dir)
    weights = spark.createDataFrame(
        [("src0", 100), ("src1", 50), ("src2", 25)], ["source", "keep_pct"]
    )
    kept = (
        c.documents.join(F.broadcast(weights), "source")
        .filter(_mix_hash() < F.col("keep_pct"))
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc")
    )


@REGISTRY.register(
    "q_shuffle_epoch",
    tags=("sample", "llm"),
    oracle="""
SELECT CAST(ROW_NUMBER() OVER (
         ORDER BY (doc_id * 2654435761) % 4294967296, doc_id
       ) AS BIGINT) AS train_order,
       doc_id
FROM documents
""",
)
def q_shuffle_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle for training-data loaders: a
    multiplicative-hash permutation key gives every doc a pseudorandom
    but REPRODUCIBLE position (same order across engines, reruns, and
    storage layouts — seed-based df.sample/orderBy(rand) are none of
    those); different epochs = different multiplier/offset.

    Global rank WITHOUT a global single-partition window (the
    ``Window.orderBy``-no-partitionBy anti-pattern this repo bans):
    range-shard the permutation key, rank within each shard in
    parallel, then add broadcast prefix-sum shard offsets — the
    standard distributed global-ranking decomposition. The only global
    window runs over the 64-row shard-count table."""
    from pyspark.sql import Window

    c = catalog(spark, sf_dir)
    perm = ((F.col("doc_id") * 2654435761) % 4294967296).alias("_perm")
    n_shards = 64
    docs = c.documents.select("doc_id", perm).withColumn(
        "_shard", F.floor(F.col("_perm") / (4294967296 / n_shards))
    )
    local_w = Window.partitionBy("_shard").orderBy("_perm", "doc_id")
    ranked = docs.withColumn("_lrank", F.row_number().over(local_w))
    # shard offsets: 64 rows — the cumulative-sum window is bounded by
    # the shard count, not the data
    counts = docs.groupBy("_shard").agg(F.count("*").alias("_n"))
    off_w = (
        Window.orderBy("_shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(off_w), F.lit(0))
    ).select("_shard", "_off")
    return (
        ranked.join(F.broadcast(offsets), "_shard")
        .select(
            (F.col("_lrank") + F.col("_off")).cast("bigint").alias("train_order"),
            "doc_id",
        )
    )


@REGISTRY.register(
    "q_sample_exact_k",
    tags=("reshape", "sample"),
    oracle="""
SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
FROM documents
ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
LIMIT 100
""",
)
def q_sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k deterministic uniform sample: rank every row by the
    md5 of its key and keep the k smallest — reproducible across
    engines, runs, and partitionings (no rand(), no seed plumbing),
    and statistically uniform because md5 scrambles key order. The
    plan is TakeOrderedAndProject: each partition keeps its local
    top-k candidates and only k rows per partition reach the driver-
    side merge — never a global sort, so exact-k sampling of a 100 TB
    table moves O(k x partitions) rows."""
    c = catalog(spark, sf_dir)
    h = F.md5(F.col("doc_id").cast("string"))
    return (
        c.documents.select("doc_id", h.alias("h"))
        .orderBy("h", "doc_id")
        .limit(100)
    )


@REGISTRY.register(
    "q_merge_cdc",
    tags=("merge", "cdc"),
    oracle="""
WITH dels AS (
  SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0
), upds AS (
  SELECT o_orderkey, ROUND(o_totalprice * 1.05, 4) AS new_price
  FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 97 <> 0
), ins AS (
  SELECT o_orderkey + 10000000 AS o_orderkey,
         ROUND(o_totalprice, 4) AS o_totalprice,
         'INSERTED' AS o_orderpriority
  FROM orders WHERE o_orderkey % 1009 = 0
)
SELECT o.o_orderkey,
       ROUND(COALESCE(u.new_price, o.o_totalprice), 4) AS o_totalprice,
       CASE WHEN u.o_orderkey IS NOT NULL THEN 'UPDATED'
            ELSE o.o_orderpriority END AS o_orderpriority
FROM orders o LEFT JOIN upds u ON o.o_orderkey = u.o_orderkey
WHERE NOT EXISTS (SELECT 1 FROM dels d WHERE d.o_orderkey = o.o_orderkey)
UNION ALL
SELECT o_orderkey, o_totalprice, o_orderpriority FROM ins
""",
)
def q_merge_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC merge — inserts, updates AND deletes applied in one
    pass (the MERGE WHEN MATCHED DELETE/UPDATE WHEN NOT MATCHED INSERT
    shape; q_merge_upsert covers the upsert-only case). Deletes are a
    left-anti join (shuffles only keys), updates a left join with
    column coalesce, inserts a unionByName — at 100 TB this is the
    foreachBatch body that maintains a mirror table from a change
    stream, here derived deterministically so the oracle can state the
    merged result exactly."""
    c = catalog(spark, sf_dir)
    orders = c.orders.select("o_orderkey", "o_totalprice", "o_orderpriority")
    key = F.col("o_orderkey")
    dels = orders.filter(key % 97 == 0).select("o_orderkey")
    upds = orders.filter((key % 7 == 0) & (key % 97 != 0)).select(
        "o_orderkey", F.round(F.col("o_totalprice") * 1.05, 4).alias("new_price")
    )
    ins = orders.filter(key % 1009 == 0).select(
        (key + 10_000_000).alias("o_orderkey"),
        F.round("o_totalprice", 4).alias("o_totalprice"),
        F.lit("INSERTED").alias("o_orderpriority"),
    )
    kept = orders.join(dels, "o_orderkey", "left_anti")
    merged = kept.join(
        upds.withColumnRenamed("o_orderkey", "u_key"),
        kept.o_orderkey == F.col("u_key"),
        "left",
    ).select(
        "o_orderkey",
        F.round(F.coalesce("new_price", "o_totalprice"), 4).alias("o_totalprice"),
        F.when(F.col("u_key").isNotNull(), "UPDATED")
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
    )
    return merged.unionByName(ins)


@REGISTRY.register(
    "q_sample_weighted",
    tags=("reshape", "sample"),
    oracle="""
WITH keyed AS (
  SELECT doc_id, n_chars,
         -ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
              + 0.5) / 4294967296.0) / n_chars AS kr
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, ROUND(kr, 6) AS k
FROM keyed
ORDER BY kr, doc_id
LIMIT 100
""",
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis
    A-ES): each row draws a deterministic uniform u from the md5 of
    its key and competes with key k = -ln(u)/w — the k smallest rows
    are a bona-fide weight-proportional sample (here w = document
    length, the training-data-mixing weight). Deterministic across
    engines, runs, and partitionings (no seed plumbing), and the
    selection is TakeOrdered: O(k x partitions) rows move, same as
    the unweighted exact-k sample. The rank runs on the RAW key —
    rounding for display happens after the top-k cut (an ORDER BY on
    the rounded output alias silently reorders 6dp ties and can swap
    the sample boundary; caught by the scalar A-ES reference)."""
    c = catalog(spark, sf_dir)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        + 0.5
    ) / F.lit(4294967296.0)
    k = -F.log(u) / F.col("n_chars")
    return (
        c.documents.filter(F.col("n_chars") > 0)
        .select(
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            k.alias("_kraw"),
        )
        .orderBy("_kraw", "doc_id")
        .limit(100)
        .select(
            "doc_id", "n_chars", F.round(F.col("_kraw"), 6).alias("k")
        )
    )


@REGISTRY.register(
    "q_sample_balanced",
    tags=("reshape", "sampling"),
    oracle="""
WITH sized AS (
  SELECT MIN(n) AS k FROM (
    SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY event_type
  )
), ranked AS (
  SELECT event_id, event_type,
         ROW_NUMBER() OVER (
           PARTITION BY event_type
           ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
  FROM events
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM ranked CROSS JOIN sized
WHERE rn <= k
GROUP BY event_type
""",
)
def q_sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every event type keeps exactly
    min-class-count rows, selected by md5 rank so the draw is
    layout-independent and reproducible (the same property
    q_sample_exact_k pins for the global case) — the standard fix for
    class imbalance before training a classifier.

    The per-class rank is a partitioned window (no global sort); the
    target k is a 1-row broadcast. Output is the per-class count table
    — all equal by construction, which the oracle verifies exactly."""
    from pyspark.sql import Window

    c = catalog(spark, sf_dir)
    sized = (
        c.events.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .agg(F.min("n").alias("k"))
    )
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    ranked = c.events.select(
        "event_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
    )
    return (
        ranked.crossJoin(F.broadcast(sized))
        .filter(F.col("rn") <= F.col("k"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


@REGISTRY.register(
    "q_split_leakage",
    tags=("sample", "mix", "dedup"),
    oracle=f"""
WITH split AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))),
                             ' ')) AS h,
         CASE WHEN {_MIX_HASH_SQL} < 80 THEN 'train'
              WHEN {_MIX_HASH_SQL} < 90 THEN 'valid'
              ELSE 'test' END AS split
  FROM documents
), dup AS (
  SELECT h,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits
  FROM split GROUP BY h HAVING COUNT(*) > 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_groups,
       CAST(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_leaking_groups,
       CAST(SUM(CASE WHEN n_splits > 1 THEN n_docs ELSE 0 END) AS BIGINT)
         AS n_leaking_docs
FROM dup
""",
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE audit: canonical-duplicate document groups
    (md5 of the sorted distinct word set — q_dedup_canonical's
    normalization, which catches the word-shuffled near-identical
    copies an exact byte hash misses) whose members land in DIFFERENT
    splits under the
    engine's own deterministic split rule (q_split_train_test's
    multiplicative hash) — the eval-integrity check a training-data
    pipeline runs before shipping a split, because a doc-id-keyed
    split happily separates identical texts into train and test.

    One shuffle on the content digest (map-side md5), then a scalar
    rollup. The same audit composes with the near-dup pair ops for
    fuzzy leakage; canonical dups are the always-run cheap tier."""
    c = catalog(spark, sf_dir)
    split = F.when(_mix_hash() < 80, "train").when(_mix_hash() < 90, "valid").otherwise(
        "test"
    )
    dup = (
        c.documents.select(
            F.md5(
                F.array_join(
                    F.array_sort(F.array_distinct(F.split("text", " "))), " "
                )
            ).alias("h"),
            split.alias("split"),
        )
        .groupBy("h")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("split").alias("n_splits"),
        )
        .filter(F.col("n_docs") > 1)
    )
    return dup.agg(
        F.count("*").alias("n_dup_groups"),
        F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_leaking_groups"),
        F.sum(F.when(F.col("n_splits") > 1, F.col("n_docs")).otherwise(0))
        .cast("bigint")
        .alias("n_leaking_docs"),
    )


@REGISTRY.register(
    "q_horvitz_thompson",
    tags=("reshape", "sampling"),
    oracle="""
WITH rated AS (
  SELECT o_custkey, c_mktsegment AS seg,
         CAST(FLOOR(o_totalprice + 0.5) AS BIGINT) AS dollars,
         CASE WHEN c_mktsegment IN ('BUILDING', 'MACHINERY') THEN 2 ELSE 4
         END AS inv_rate,
         ('0x' || substr(md5('ht:' || o_orderkey), 1, 8))::BIGINT AS h
  FROM orders JOIN customer ON o_custkey = c_custkey
), sampled AS (
  SELECT * FROM rated WHERE h % inv_rate = 0
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rated) AS n_population,
       CAST(COUNT(*) AS BIGINT) AS n_sampled,
       (SELECT CAST(SUM(dollars) AS BIGINT) FROM rated) AS true_total,
       CAST(SUM(dollars * inv_rate) AS BIGINT) AS ht_estimate,
       CAST((ABS(CAST(SUM(dollars * inv_rate) AS BIGINT)
            - (SELECT SUM(dollars) FROM rated)) * 1000000)
         // (SELECT SUM(dollars) FROM rated) AS BIGINT) AS rel_err_micro
FROM sampled
""",
)
def q_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson estimation under UNEQUAL sampling rates: two
    segments sample at 1/2, the rest at 1/4 (md5-deterministic), and
    the population revenue total is reconstructed by weighting each
    sampled row by its inverse inclusion probability — the estimator
    that makes stratified/biased sampling usable for totals (a naive
    sum of the sample would be ~3x off; HT's relative error here is
    pure sampling noise, reported in micro-units).

    Exact: integer dollars and integer inverse rates — the estimate
    itself is a BIGINT sum, the comparison a floor division; md5
    keeps the 'random' sample identical on both engines.

    Scale shape: map-side rate assignment + one filtered aggregation;
    the estimator never touches unsampled rows (the point of sampling
    at 100 TB)."""
    c = catalog(spark, sf_dir)
    rated = (
        c.orders.join(
            F.broadcast(c.customer.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            half_up("o_totalprice").alias("dollars"),
            F.when(
                F.col("c_mktsegment").isin("BUILDING", "MACHINERY"), 2
            )
            .otherwise(4)
            .alias("inv_rate"),
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("ht:"), F.col("o_orderkey").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias("h"),
        )
    )
    pop = rated.agg(
        F.count("*").cast("bigint").alias("n_population"),
        F.sum("dollars").cast("bigint").alias("true_total"),
    )
    sampled = rated.filter(F.col("h") % F.col("inv_rate") == 0)
    est = sampled.agg(
        F.count("*").cast("bigint").alias("n_sampled"),
        F.sum(F.col("dollars") * F.col("inv_rate"))
        .cast("bigint")
        .alias("ht_estimate"),
    )
    return est.crossJoin(F.broadcast(pop)).select(
        "n_population",
        "n_sampled",
        "true_total",
        "ht_estimate",
        F.expr(
            "(abs(ht_estimate - true_total) * 1000000) div true_total"
        ).alias("rel_err_micro"),
    )
