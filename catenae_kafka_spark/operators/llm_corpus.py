"""Corpus-preparation operators for LLM training pipelines (north star):
the steps between "deduplicated documents" and "training sequences".

- Benchmark decontamination: drop/flag training docs that share an
  n-gram with a held-out eval set — the standard guard against test-set
  leakage into pretraining corpora. Shaped as a broadcast semi-join on
  exploded shingles: the eval set is always tiny next to the corpus, so
  the corpus never shuffles.
- Repetition scoring: duplicated-bigram ratio per doc (the classic
  boilerplate/spam signal) — map-side only.
- Sequence packing: concat-and-chunk packing of documents into
  fixed-token-budget training sequences via a running-sum window within
  each language shard (the shard key bounds the window's sort; packing
  is embarrassingly parallel across shards at 100 TB).
- Document chunking: 1→N fixed-size token windows with overlap (the
  RAG/pretraining chunker), a pure explode — no Python, no shuffle.

All have full DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from catenae_kafka_spark.catalog import catalog
from catenae_kafka_spark.functions.compat import half_up
from catenae_kafka_spark.functions.hof import bind
from catenae_kafka_spark.registry import REGISTRY


@REGISTRY.register(
    "q_decontaminate",
    tags=("llm", "corpus", "dedup"),
    oracle="""
WITH bench AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
           i -> string_split(text,' ')[i] || ' ' ||
                string_split(text,' ')[i+1] || ' ' ||
                string_split(text,' ')[i+2]
         )) AS grams
  FROM documents WHERE doc_id % 97 = 7
), bgrams AS MATERIALIZED (
  SELECT DISTINCT unnest(grams) AS g FROM bench
), train AS MATERIALIZED (
  SELECT doc_id, lang,
         list_distinct(list_transform(
           generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
           i -> string_split(text,' ')[i] || ' ' ||
                string_split(text,' ')[i+1] || ' ' ||
                string_split(text,' ')[i+2]
         )) AS grams
  FROM documents WHERE doc_id % 97 <> 7
), hits AS MATERIALIZED (
  SELECT DISTINCT t.doc_id
  FROM train t JOIN bgrams b ON list_contains(t.grams, b.g)
)
SELECT tr.lang,
       COUNT(*) AS n_train,
       CAST(COUNT(*) FILTER (h.doc_id IS NOT NULL) AS BIGINT) AS n_contaminated,
       CAST(COUNT(*) FILTER (h.doc_id IS NULL) AS BIGINT) AS n_clean
FROM train tr LEFT JOIN hits h ON tr.doc_id = h.doc_id
GROUP BY tr.lang
""",
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: the held-out eval set (doc_id % 97 ==
    7 — a deterministic stand-in for a real benchmark suite) defines a
    trigram blocklist; any training doc sharing a trigram with it is
    contaminated. Report per-language train/contaminated/clean counts.

    Shape: eval trigrams explode → distinct (tiny) → broadcast
    left-semi join against exploded training trigrams → distinct doc
    hits → broadcast back onto the corpus. The corpus is touched twice
    map-side and shuffled only by the final per-language aggregate —
    at 100 TB the blocklist (benchmarks are MBs, not TBs) broadcasts
    everywhere and the expensive side never repartitions."""
    c = catalog(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    # bind: split evaluated once per row, not once per lambda reference
    # (functions/hof.bind — optimization r12)
    trigrams = bind(
        toks,
        lambda t: F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(t) - 2, F.lit(1))),
                lambda i: F.concat_ws(
                    " ",
                    F.try_element_at(t, i),
                    F.try_element_at(t, i + 1),
                    F.try_element_at(t, i + 2),
                ),
            )
        ),
    )
    grams = F.when(F.size(toks) >= 3, trigrams).otherwise(
        F.expr("CAST(array() AS array<string>)")
    )
    # single-file fixture scans as ONE partition; spread rows before
    # the CPU-heavy shingle expressions or they run on one core
    # (measured 64 s single-core vs ~8 s spread at the 10× corpus)
    par = spark.sparkContext.defaultParallelism
    docs = c.documents.repartition(par, F.col("doc_id")).select(
        "doc_id", "lang", grams.alias("grams")
    )
    bench = docs.filter(F.col("doc_id") % 97 == 7)
    train = docs.filter(F.col("doc_id") % 97 != 7)
    blocklist = bench.select(F.explode("grams").alias("g")).distinct()
    hits = (
        train.select("doc_id", F.explode("grams").alias("g"))
        .join(F.broadcast(blocklist), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        train.select("doc_id", "lang")
        .join(F.broadcast(hits), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_train"),
            F.count(F.when(F.col("_hit").isNotNull(), 1)).alias("n_contaminated"),
            F.count(F.when(F.col("_hit").isNull(), 1)).alias("n_clean"),
        )
    )


@REGISTRY.register(
    "q_repetition_score",
    tags=("llm", "corpus", "quality"),
    oracle="""
WITH d AS (
  SELECT doc_id, lang,
         len(string_split(text,' ')) - 1 AS n_bigrams,
         len(list_distinct(list_transform(
           generate_series(1, len(string_split(text,' ')) - 1),
           i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
         ))) AS n_uniq_bigrams
  FROM documents
  WHERE len(string_split(text,' ')) >= 2
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(1.0 - n_uniq_bigrams * 1.0 / n_bigrams), 6) AS avg_rep,
       CAST(COUNT(*) FILTER (1.0 - n_uniq_bigrams * 1.0 / n_bigrams > 0.2)
            AS BIGINT) AS n_repetitive
FROM d GROUP BY lang
""",
)
def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition scoring: duplicated-bigram ratio per doc
    (1 - distinct/total), averaged per language plus a count of docs
    over the 0.2 boilerplate threshold — the standard cheap spam/
    template filter in corpus pipelines. Entirely map-side until the
    per-language aggregate."""
    c = catalog(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    # bind: split evaluated once per row, not once per lambda reference
    # (functions/hof.bind — optimization r12)
    bigrams = bind(
        toks,
        lambda t: F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(t) - 1, F.lit(1))),
            lambda i: F.concat_ws(
                " ", F.try_element_at(t, i), F.try_element_at(t, i + 1)
            ),
        ),
    )
    d = (
        c.documents.filter(F.size(toks) >= 2)
        .select(
            "lang",
            (F.size(toks) - 1).alias("n_bigrams"),
            F.size(F.array_distinct(bigrams)).alias("n_uniq_bigrams"),
        )
        .withColumn(
            "rep", 1.0 - F.col("n_uniq_bigrams") / F.col("n_bigrams")
        )
    )
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("rep"), 6).alias("avg_rep"),
        F.count(F.when(F.col("rep") > 0.2, 1)).alias("n_repetitive"),
    )


@REGISTRY.register(
    "q_seq_pack",
    tags=("llm", "corpus", "pack"),
    oracle="""
WITH d AS (
  SELECT doc_id, lang, len(string_split(text,' ')) AS n_tok FROM documents
), packed AS (
  SELECT lang,
         CAST(floor((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tok)
                    / 512) AS BIGINT) AS seq_id,
         n_tok
  FROM d
)
SELECT lang, seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM packed GROUP BY lang, seq_id
""",
)
def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-and-chunk): documents are concatenated
    in deterministic doc_id order within each language shard and cut
    into 512-token training sequences; a doc's sequence id is its
    starting offset div 512 (running-sum window). Per-sequence doc and
    token counts come back for fill-ratio accounting.

    Scale: the window sorts within the shard key only — packing is
    embarrassingly parallel across shards (in production the shard key
    is (source, path-prefix) and each task packs its shard
    independently; no global sort exists anywhere)."""
    c = catalog(spark, sf_dir)
    d = c.documents.select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tok")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = d.select(
        "lang",
        "n_tok",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / 512).alias("seq_id"),
    )
    return packed.groupBy("lang", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )


@REGISTRY.register(
    "q_doc_chunk",
    tags=("llm", "corpus", "chunk"),
    oracle="""
WITH d AS (
  SELECT doc_id, string_split(text,' ') AS toks FROM documents
), chunks AS (
  SELECT doc_id,
         unnest(generate_series(0,
             CAST(ceil(greatest(len(toks) - 16, 1) / 48.0) AS BIGINT) - 1))
           AS chunk_id,
         len(toks) AS n_tok
  FROM d
)
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(chunk_id * 48 + 1 AS BIGINT) AS start_tok,
       CAST(least(chunk_id * 48 + 64, n_tok) - chunk_id * 48 AS BIGINT)
         AS chunk_len
FROM chunks
""",
)
def q_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking: 64-token windows with 16-token overlap
    (stride 48) — the RAG/pretraining chunker as a pure 1→N explode.
    Emits (doc_id, chunk_id, start_tok, chunk_len); chunk text itself
    would be a slice() of the token array, omitted from the hash-checked
    output only to keep the oracle compact. No shuffle anywhere — the
    chunker is a map."""
    c = catalog(spark, sf_dir)
    stride, size = 48, 64
    toks = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.greatest(F.size(toks) - (size - stride), F.lit(1)) / stride)
    d = c.documents.select(
        "doc_id", F.size(toks).alias("n_tok"), n_chunks.alias("n_chunks")
    )
    chunks = d.select(
        "doc_id",
        "n_tok",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_id"),
    )
    return chunks.select(
        "doc_id",
        "chunk_id",
        (F.col("chunk_id") * stride + 1).alias("start_tok"),
        (
            F.least(F.col("chunk_id") * stride + size, F.col("n_tok"))
            - F.col("chunk_id") * stride
        ).alias("chunk_len"),
    )


@REGISTRY.register(
    "q_dedup_paragraph",
    tags=("llm", "dedup", "corpus"),
    oracle="""
WITH chunks AS (
  SELECT doc_id, i AS chunk_id,
         md5(array_to_string(
           string_split(text, ' ')[(i * 32 + 1):((i + 1) * 32)], ' ')) AS h
  FROM documents,
       unnest(generate_series(
         0, CAST(ceil(len(string_split(text, ' ')) / 32.0) AS INT) - 1
       )) AS t(i)
), ranked AS (
  SELECT doc_id, chunk_id,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, chunk_id) AS rn
  FROM chunks
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       ROUND(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
         AS survival_rate
FROM ranked GROUP BY doc_id
""",
)
def q_dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-level (paragraph) dedup — the Dolma/RefinedWeb-style pass
    that document-level dedup misses: boilerplate paragraphs repeated
    across distinct documents. Docs split into fixed 32-token spans
    (stand-in for paragraph breaks the fixture lacks), each span hashed
    map-side; the first occurrence (lexicographic (doc, position))
    survives, later copies are dropped. ONE shuffle on the 16-byte span
    hash — never on text; survival stats per doc are the pipeline's
    quality report. At 100 TB the span-hash table is the only wide
    state and it partitions uniformly (hashes are uniform by
    construction)."""
    from pyspark.sql import Window

    c = catalog(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    size = 32
    n_chunks = F.ceil(F.size(toks) / F.lit(float(size))).cast("int")
    chunks = c.documents.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        toks.alias("toks"),
    ).select(
        "doc_id",
        "chunk_id",
        F.md5(
            F.concat_ws(
                " ", F.slice(F.col("toks"), F.col("chunk_id") * size + 1, size)
            )
        ).alias("h"),
    )
    w = Window.partitionBy("h").orderBy("doc_id", "chunk_id")
    ranked = chunks.withColumn("rn", F.row_number().over(w))
    kept = F.when(F.col("rn") == 1, 1).otherwise(0)
    return ranked.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(kept).cast("long").alias("n_kept"),
        F.round(F.sum(kept) / F.count("*"), 4).alias("survival_rate"),
    )


@REGISTRY.register(
    "q_contamination_score",
    tags=("llm", "corpus"),
    oracle="""
WITH sp AS MATERIALIZED (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
), grams AS MATERIALIZED (
  SELECT doc_id, lang,
         CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
                generate_series(1, len(toks) - 2),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
              ELSE [] END AS gs
  FROM sp
), eval_grams AS MATERIALIZED (
  SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 97 = 7
), train AS MATERIALIZED (
  SELECT doc_id, lang, unnest(gs) AS g FROM grams WHERE doc_id % 97 <> 7
)
SELECT t.doc_id, t.lang,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(COUNT(e.g) AS BIGINT) AS n_hits,
       ROUND(COUNT(e.g) * 1.0 / COUNT(*), 4) AS contamination
FROM train t LEFT JOIN eval_grams e ON t.g = e.g
GROUP BY t.doc_id, t.lang
""",
)
def q_contamination_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRADED contamination scoring: q_decontaminate's binary verdict
    becomes the fraction of a training doc's distinct trigrams that
    appear in the held-out eval set — the score pipelines threshold on
    (drop >X%, flag >Y%) instead of all-or-nothing. The eval-trigram
    set is benchmark-sized → broadcast; the training side explodes
    once map-side and shuffles only for its own per-doc aggregate."""
    c = catalog(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    # bind: split evaluated once per row, not once per lambda reference
    # (functions/hof.bind — optimization r12)
    trigrams = bind(
        toks,
        lambda t: F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(t) - 2, F.lit(1))),
                lambda i: F.concat_ws(
                    " ",
                    F.try_element_at(t, i),
                    F.try_element_at(t, i + 1),
                    F.try_element_at(t, i + 2),
                ),
            )
        ),
    )
    gs = F.when(F.size(toks) >= 3, trigrams).otherwise(
        F.expr("CAST(array() AS array<string>)")
    )
    base = c.documents.repartition(32).select("doc_id", "lang", gs.alias("gs"))
    eval_grams = (
        base.filter(F.col("doc_id") % 97 == 7)
        .select(F.explode("gs").alias("g"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = base.filter(F.col("doc_id") % 97 != 7).select(
        "doc_id", "lang", F.explode("gs").alias("g")
    )
    return (
        train.join(F.broadcast(eval_grams), "g", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.count("*"), 4
            ).alias("contamination"),
        )
    )


@REGISTRY.register(
    "q_bpe_merge_apply",
    tags=("llm", "corpus", "tokenizer"),
    oracle="""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), pairs AS (
  SELECT unnest(list_transform(
           generate_series(1, len(w) - 1),
           i -> w[i] || ' ' || w[i + 1])) AS pair
  FROM words WHERE len(w) >= 2
), top1 AS (
  SELECT pair, CAST(COUNT(*) AS BIGINT) AS n FROM pairs
  GROUP BY pair ORDER BY n DESC, pair LIMIT 1
), applied AS (
  SELECT d.doc_id,
         len(string_split(d.text, ' ')) AS n_before,
         len(string_split(TRIM(REPLACE(REPLACE(
               ' ' || REPLACE(d.text, ' ', '  ') || ' ',
               ' ' || REPLACE(t.pair, ' ', '  ') || ' ',
               ' ' || REPLACE(t.pair, ' ', '_') || ' '),
             '  ', ' ')), ' ')) AS n_after
  FROM documents d, top1 t
)
SELECT (SELECT pair FROM top1) AS merged_pair,
       (SELECT n FROM top1) AS pair_count,
       CAST(SUM(n_before) AS BIGINT) AS tokens_before,
       CAST(SUM(n_after) AS BIGINT) AS tokens_after,
       CAST(SUM(n_before - n_after) AS BIGINT) AS n_merges
FROM applied
""",
)
def q_bpe_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE full BPE training step, applied: find the corpus's most
    frequent adjacent token pair (total tie-break), MERGE every
    greedy-left-to-right occurrence into a single token, and account
    the token-count reduction — the inner loop of byte-pair-encoding
    tokenizer training (q_bpe_pairs ranks candidates; this executes
    the merge so the next iteration sees the updated corpus).

    The merge itself is pure string algebra: doubling the spaces
    first makes adjacent occurrences stop sharing boundary characters,
    so a single non-overlapping REPLACE implements exact greedy
    left-to-right BPE semantics ('a a a' merges once, 'a b a b'
    merges twice) identically on both engines — no UDF, no loop.

    Scale shape: pair counting is one map-side explode + count; the
    1-row winning pair broadcasts to a map-only rewrite of the
    corpus."""
    c = catalog(spark, sf_dir)
    words = c.documents.select("doc_id", F.split("text", " ").alias("w"))
    pairs = words.filter(F.size("w") >= 2).select(
        F.explode(
            F.expr("transform(slice(w, 1, size(w) - 1), (x, i) -> x || ' ' || w[i + 1])")
        ).alias("pair")
    )
    top1 = (
        pairs.groupBy("pair")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(1)
    )
    applied = c.documents.crossJoin(F.broadcast(top1)).select(
        F.size(F.split("text", " ")).cast("bigint").alias("n_before"),
        F.size(
            F.split(
                F.trim(
                    F.expr(
                        "replace("
                        "replace(' ' || replace(text, ' ', '  ') || ' ',"
                        "        ' ' || replace(pair, ' ', '  ') || ' ',"
                        "        ' ' || replace(pair, ' ', '_') || ' '),"
                        "'  ', ' ')"
                    )
                ),
                " ",
            )
        )
        .cast("bigint")
        .alias("n_after"),
        "pair",
        "n",
    )
    # GLOBAL aggregate, not groupBy(pair, n): the winning pair is a
    # single row anyway (max == its value), and an EMPTY corpus must
    # still emit the oracle's one all-NULL summary row — the grouped
    # form vanished entirely (empty-fixture fuzz)
    return applied.agg(
        F.max("pair").alias("merged_pair"),
        F.max("n").cast("bigint").alias("pair_count"),
        F.sum("n_before").cast("bigint").alias("tokens_before"),
        F.sum("n_after").cast("bigint").alias("tokens_after"),
        F.sum(F.col("n_before") - F.col("n_after"))
        .cast("bigint")
        .alias("n_merges"),
    )


@REGISTRY.register(
    "q_dataset_card",
    tags=("llm", "corpus", "governance"),
    oracle="""
WITH k AS (
  SELECT doc_id, lang, source, n_chars,
         md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))),
             ' ')) AS ck,
         len(string_split(text, ' ')) AS n_tok
  FROM documents
), dup AS (
  SELECT CAST(SUM(cnt - 1) AS BIGINT) AS n_dups FROM (
    SELECT COUNT(*) AS cnt FROM k GROUP BY ck
  ) WHERE cnt > 1
), top_source AS (
  SELECT source FROM k GROUP BY source
  ORDER BY COUNT(*) DESC, source LIMIT 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(n_chars) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
         AS mean_chars,
       (SELECT n_dups FROM dup) AS n_exact_dups,
       ((SELECT n_dups FROM dup) * 1000000) // CAST(COUNT(*) AS BIGINT)
         AS dup_rate_micro,
       (SELECT source FROM top_source) AS top_source
FROM k
""",
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card ('datasheet for datasets'): corpus size,
    language/source diversity, token volume, mean length, canonical
    duplicate count/rate and the dominant source — the governance
    summary published NEXT TO a released training corpus, assembled
    here in one pass over the documents table so the card can never
    drift from the data it describes.

    Exact: counts and floor divisions; the duplicate tier is the
    canonical word-set key (drift-proof, environment fact #27); the
    top-source tie-break is total.

    Scale shape: one scan feeding a global agg, a canonical-key agg
    (map-side combined), and a source rollup — all shuffles carry
    aggregates, never documents."""
    c = catalog(spark, sf_dir)
    k = c.documents.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(F.split("text", " "))))
        ).alias("ck"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    )
    # no coalesce on n_dups: the oracle's SUM over an empty cnt>1 set
    # is NULL (zero-dup corpora and the empty fixture), and 0 would
    # hash-mismatch it
    dup = (
        k.groupBy("ck")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 1)
        .agg(F.sum(F.col("cnt") - 1).cast("bigint").alias("n_dups"))
    )
    # min_by over (-n, source) = highest count, lexicographic
    # tie-break — as a 1-row GLOBAL aggregate it stays a row (NULL) on
    # an empty corpus where orderBy().limit(1) vanished and its
    # crossJoin annihilated the whole card (empty-fixture fuzz)
    top_source = (
        k.groupBy("source")
        .agg(F.count("*").alias("n"))
        .agg(
            F.min_by(
                "source", F.struct((-F.col("n")).alias("nn"), F.col("source"))
            ).alias("top_source")
        )
    )
    card = k.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        # nullif: empty corpus -> mean undefined (oracle // 0 -> NULL)
        F.expr("sum(n_chars) div nullif(count(*), 0)").alias("mean_chars"),
    )
    return (
        card.crossJoin(F.broadcast(dup))
        .crossJoin(F.broadcast(top_source))
        .select(
            "n_docs",
            "n_langs",
            "n_sources",
            "n_tokens",
            "mean_chars",
            F.col("n_dups").alias("n_exact_dups"),
            F.expr(
                "(n_dups * 1000000) div nullif(n_docs, 0)"
            ).alias("dup_rate_micro"),
            "top_source",
        )
    )


def _bpe_round_sql(prev: str, idx: int) -> str:
    """One BPE training round as DuckDB CTE text: top pair of
    ``{prev}`` -> rewritten corpus ``corpus{idx}`` (doubled-space
    REPLACE trick, same algebra as q_bpe_merge_apply)."""
    return f"""
pairs{idx} AS MATERIALIZED (
  SELECT unnest(list_transform(
           generate_series(1, len(w) - 1),
           i -> w[i] || ' ' || w[i + 1])) AS pair
  FROM (SELECT string_split(text, ' ') AS w FROM {prev})
  WHERE len(w) >= 2
), top{idx} AS MATERIALIZED (
  SELECT pair, CAST(COUNT(*) AS BIGINT) AS n FROM pairs{idx}
  GROUP BY pair ORDER BY n DESC, pair LIMIT 1
), corpus{idx} AS MATERIALIZED (
  SELECT doc_id,
         TRIM(REPLACE(REPLACE(
           ' ' || REPLACE(text, ' ', '  ') || ' ',
           ' ' || REPLACE((SELECT pair FROM top{idx}), ' ', '  ') || ' ',
           ' ' || REPLACE((SELECT pair FROM top{idx}), ' ', '_') || ' '),
         '  ', ' ')) AS text
  FROM {prev}
)"""


_BPE3_ORACLE = (
    "WITH corpus0 AS MATERIALIZED (SELECT doc_id, text FROM documents),"
    + ",".join(_bpe_round_sql(f"corpus{i}", i + 1) for i in range(3))
    + """
SELECT * FROM (
  SELECT 1 AS round, (SELECT pair FROM top1) AS merged_pair,
         (SELECT n FROM top1) AS pair_count,
         (SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
          FROM corpus1) AS tokens_after
  UNION ALL
  SELECT 2, (SELECT pair FROM top2), (SELECT n FROM top2),
         (SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
          FROM corpus2)
  UNION ALL
  SELECT 3, (SELECT pair FROM top3), (SELECT n FROM top3),
         (SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
          FROM corpus3)
)
"""
)


@REGISTRY.register(
    "q_bpe_train3",
    tags=("llm", "corpus", "tokenizer"),
    oracle=_BPE3_ORACLE,
)
def q_bpe_train3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE chained BPE training rounds: each round finds the
    corpus-wide most frequent adjacent pair (count DESC, pair ASC —
    total order), merges every greedy-left-to-right occurrence via
    the doubled-space REPLACE algebra (environment fact #35), and the
    NEXT round counts pairs on the rewritten corpus — the actual
    tokenizer-training loop, demonstrating that the iterative
    algorithm stays declarative end-to-end (q_bpe_merge_apply is one
    step; this is the loop).

    Returns one row per round: merged pair, its count at selection
    time, and the corpus token count after the merge (monotone
    decreasing — property-tested).

    Scale shape: per round, one explode+count (map-side combinable)
    and one broadcast-scalar rewrite — 3 rounds = 3 such passes. In
    production each round's corpus would be checkpointed; here the
    lineage recomputes, which is the right trade at test scale."""
    c = catalog(spark, sf_dir)
    corpus = c.documents.select("doc_id", "text")
    out_rows = []
    for rnd in (1, 2, 3):
        words = corpus.select(F.split("text", " ").alias("w"))
        pairs = words.filter(F.size("w") >= 2).select(
            F.explode(
                F.expr(
                    "transform(slice(w, 1, size(w) - 1),"
                    " (x, i) -> x || ' ' || w[i + 1])"
                )
            ).alias("pair")
        )
        # min_by over (-n, pair) == ORDER BY n DESC, pair ASC LIMIT 1,
        # but as a 1-row GLOBAL aggregate it still emits a (NULL) row
        # on an empty corpus, matching the oracle's scalar subqueries
        # (empty-fixture fuzz: limit(1) vanished and took every round's
        # output row with it)
        top = (
            pairs.groupBy("pair")
            .agg(F.count("*").cast("bigint").alias("n"))
            .agg(
                F.min_by(
                    F.struct("pair", "n"),
                    F.struct((-F.col("n")).alias("nn"), F.col("pair")),
                ).alias("t")
            )
            .select(
                F.col("t.pair").alias("pair"), F.col("t.n").alias("n")
            )
        )
        corpus = (
            corpus.crossJoin(F.broadcast(top))
            .select(
                "doc_id",
                F.trim(
                    F.expr(
                        "replace("
                        "replace(' ' || replace(text, ' ', '  ') || ' ',"
                        "        ' ' || replace(pair, ' ', '  ') || ' ',"
                        "        ' ' || replace(pair, ' ', '_') || ' '),"
                        "'  ', ' ')"
                    )
                ).alias("text"),
            )
            .localCheckpoint(eager=False)
        )
        tokens = corpus.agg(
            F.sum(F.size(F.split("text", " "))).cast("bigint").alias(
                "tokens_after"
            )
        )
        out_rows.append(
            top.select(
                F.lit(rnd).cast("int").alias("round"),
                F.col("pair").alias("merged_pair"),
                F.col("n").alias("pair_count"),
            ).crossJoin(F.broadcast(tokens))
        )
    out = out_rows[0]
    for df in out_rows[1:]:
        out = out.unionByName(df)
    return out


@REGISTRY.register(
    "q_mixture_rates",
    tags=("llm", "corpus", "sampling"),
    oracle="""
WITH avail AS (
  SELECT lang,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
  FROM documents GROUP BY lang
), shares AS (
  SELECT lang, avail_tokens,
         1000000 // (SELECT COUNT(*) FROM avail)
         + CASE WHEN ROW_NUMBER() OVER (ORDER BY lang) = 1
                THEN 1000000 % (SELECT COUNT(*) FROM avail) ELSE 0 END
           AS share_micro
  FROM avail
), epoch AS (
  SELECT CAST(MIN((avail_tokens * 1000000) // share_micro) AS BIGINT)
    AS epoch_tokens
  FROM shares
)
SELECT lang, avail_tokens, CAST(share_micro AS BIGINT) AS share_micro,
       epoch_tokens,
       (share_micro * epoch_tokens) // 1000000 AS planned_tokens,
       (((share_micro * epoch_tokens) // 1000000) * 1000000)
         // avail_tokens AS sample_rate_micro
FROM shares CROSS JOIN epoch
""",
)
def q_mixture_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data mixture planner: given the available token count
    per language and a target mixture (uniform across the observed
    languages, remainder micro-units assigned to the first language so
    shares sum to exactly 1e6), compute the LARGEST epoch size that
    needs no upsampling (epoch = min over languages of
    available/share) and each language's resulting sampling rate —
    the arithmetic every pretraining-data pipeline runs before
    writing its sampling manifest (upsampling-free keeps every
    example unique; the binding language has rate 1.0-ish and every
    other language is downsampled).

    Exact integer micro-unit arithmetic throughout; all operands
    non-negative so Spark div == DuckDB // (fact #37). The target
    mixture derives from the OBSERVED language set, so the query is
    fixture-drift-proof.

    Scale shape: one map-side token-count aggregation to |langs|
    rows; the planner itself is O(langs) on broadcasts."""
    c = catalog(spark, sf_dir)
    avail = c.documents.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("avail_tokens")
    )
    k = avail.agg(F.count("*").cast("bigint").alias("k"))
    shares = (
        avail.crossJoin(F.broadcast(k))
        .withColumn(
            "rn", F.row_number().over(Window.orderBy("lang"))
        )
        .select(
            "lang",
            "avail_tokens",
            (
                F.expr("1000000 div k")
                + F.when(F.col("rn") == 1, F.expr("1000000 % k")).otherwise(0)
            )
            .cast("bigint")
            .alias("share_micro"),
        )
    )
    epoch = shares.agg(
        F.min(F.expr("(avail_tokens * 1000000) div share_micro"))
        .cast("bigint")
        .alias("epoch_tokens")
    )
    return shares.crossJoin(F.broadcast(epoch)).select(
        "lang",
        "avail_tokens",
        "share_micro",
        "epoch_tokens",
        F.expr("(share_micro * epoch_tokens) div 1000000").alias(
            "planned_tokens"
        ),
        F.expr(
            "(((share_micro * epoch_tokens) div 1000000) * 1000000)"
            " div avail_tokens"
        ).alias("sample_rate_micro"),
    )


@REGISTRY.register(
    "q_boilerplate_lines",
    tags=("llm", "corpus", "dedup"),
    oracle="""
WITH spans AS MATERIALIZED (
  SELECT doc_id, lang,
         md5(array_to_string(
           string_split(text, ' ')[(i * 8 + 1):((i + 1) * 8)], ' ')) AS h
  FROM documents,
       unnest(generate_series(
         0, CAST(ceil(len(string_split(text, ' ')) / 8.0) AS INT) - 1
       )) AS t(i)
), freq AS MATERIALIZED (
  SELECT h, COUNT(DISTINCT doc_id) AS ndocs FROM spans GROUP BY h
)
SELECT lang,
       CAST(COUNT(DISTINCT s.doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(COUNT(*) FILTER (f.ndocs >= 3) AS BIGINT) AS n_removed,
       CAST(FLOOR(COUNT(*) FILTER (f.ndocs < 3) * 1000000.0 / COUNT(*)
                  + 0.5) AS BIGINT) AS retained_ppm
FROM spans s JOIN freq f USING (h)
GROUP BY lang
""",
)
def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global boilerplate-line removal: any line occurring in
    >= 3 DISTINCT documents is boilerplate and is removed from EVERY
    document (C4 / RefinedWeb's "repeated line" rule). Differs from
    q_dedup_paragraph in the decision rule: that op keeps the FIRST
    occurrence of a duplicated span; this one deletes ALL copies once
    the cross-document frequency crosses the threshold — the navboxes/
    cookie-banners case where no copy is worth keeping. Docs split into
    fixed 8-token spans (stand-in for the newline breaks the fixture
    lacks); per-language census of spans removed + retained ppm.

    Scale shape: spans hash map-side; the frequency table groups on the
    16-byte digest (uniform by construction) and joins back on the same
    key — two shuffles, both on digests, text never moves. At 100 TB
    the frequency table is the only wide state; heavy-hitter digests
    (the actual boilerplate) are exactly the rows the threshold prunes,
    so skew self-resolves after the filter."""
    c = catalog(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    size = 8
    n_chunks = F.ceil(F.size(toks) / F.lit(float(size))).cast("int")
    spans = c.documents.select(
        "doc_id",
        "lang",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("i"),
        toks.alias("toks"),
    ).select(
        "doc_id",
        "lang",
        F.md5(
            F.concat_ws(
                " ", F.slice(F.col("toks"), F.col("i") * size + 1, size)
            )
        ).alias("h"),
    )
    freq = spans.groupBy("h").agg(
        F.countDistinct("doc_id").alias("ndocs")
    )
    removed = F.sum(F.when(F.col("ndocs") >= 3, 1).otherwise(0))
    kept = F.sum(F.when(F.col("ndocs") < 3, 1).otherwise(0))
    return (
        spans.join(freq, "h")
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_spans"),
            removed.cast("bigint").alias("n_removed"),
            half_up(kept * 1000000.0 / F.count("*")).alias("retained_ppm"),
        )
    )


@REGISTRY.register(
    "q_span_corruption",
    tags=("llm", "corpus"),
    oracle="""
WITH toks AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n FROM documents
), idx AS (
  SELECT doc_id, lang, i,
         ((doc_id % 100000) * 1103515245 + i * 37) % 1000 < 150 AS m,
         CASE WHEN i = 1 THEN FALSE
              ELSE ((doc_id % 100000) * 1103515245 + (i - 1) * 37) % 1000
                   < 150 END AS mprev
  FROM toks, unnest(generate_series(1, n)) AS t(i)
)
SELECT lang,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) FILTER (m) AS BIGINT) AS n_masked,
       CAST(COUNT(*) FILTER (m AND NOT mprev) AS BIGINT) AS n_spans,
       CAST(FLOOR(COUNT(*) FILTER (m) * 1000000.0 / COUNT(*) + 0.5)
            AS BIGINT) AS mask_ppm
FROM idx GROUP BY lang
""",
)
def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style span-corruption PLAN: decide which token positions
    get masked (target rate 15%, contiguous runs as spans) and report
    the per-language mask census — tokens, masked tokens, sentinel/span
    count, achieved ppm. The mask decision is a pure closed-form
    function of (doc_id, position) — a tiny LCG, NOT engine hash(): a
    deterministic noise source both engines compute identically, so the
    span structure (consecutive-mask runs, mean length ~4, the T5
    mean-3 regime) needs NO window function: a position's "am I a span
    start" is m(i) AND NOT m(i-1), recomputable from the formula.

    Scale shape: pure map-side explode + per-language aggregate — one
    shuffle of 5 rows per language. The plan never materializes masked
    text; downstream writers consume (doc_id, position) mask sets."""
    c = catalog(spark, sf_dir)
    n = F.size(F.split(F.col("text"), " "))

    def masked(pos):
        lcg = (
            (F.col("doc_id") % 100000) * F.lit(1103515245) + pos * 37
        ) % 1000
        return lcg < 150

    idx = c.documents.select(
        "doc_id", "lang", F.explode(F.sequence(F.lit(1), n)).alias("i")
    )
    m = masked(F.col("i"))
    mprev = F.when(F.col("i") == 1, F.lit(False)).otherwise(
        masked(F.col("i") - 1)
    )
    return (
        idx.select("doc_id", "lang", m.alias("m"), mprev.alias("mprev"))
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("m"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_masked"),
            F.sum(F.when(F.col("m") & ~F.col("mprev"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_spans"),
            half_up(
                F.sum(F.when(F.col("m"), 1).otherwise(0))
                * 1000000.0
                / F.count("*")
            ).alias("mask_ppm"),
        )
    )


@REGISTRY.register(
    "q_url_canonicalize",
    tags=("llm", "corpus", "dedup"),
    oracle="""
WITH raw AS (
  SELECT doc_id,
    'https://' ||
    (CASE WHEN doc_id % 3 = 0 THEN 'WWW.Site-' ELSE 'www.site-' END) ||
    CAST(doc_id % 7 AS VARCHAR) ||
    (CASE WHEN doc_id % 3 = 0 THEN '.COM' ELSE '.com' END) ||
    '/p/' || CAST(doc_id % 50 AS VARCHAR) ||
    (CASE WHEN doc_id % 2 = 0
          THEN '?utm_source=feed&id=' || CAST(doc_id % 10 AS VARCHAR)
          WHEN doc_id % 5 = 1
          THEN '?id=' || CAST(doc_id % 10 AS VARCHAR) || '&utm_campaign=brand'
          ELSE '' END) ||
    (CASE WHEN doc_id % 6 = 3 THEN '#ref' ELSE '' END) AS url
  FROM documents
), canon AS (
  SELECT doc_id, url,
    'https://' || lower(regexp_extract(u3, '^https://([^/]+)', 1)) ||
    regexp_replace(u3, '^https://[^/]+', '') AS canonical_url
  FROM (
    SELECT doc_id, url,
           regexp_replace(regexp_replace(regexp_replace(
             url, '#.*$', ''), 'utm_[a-z]+=[^&]*&?', '', 'g'),
             '[?&]$', '') AS u3
    FROM raw) t
)
SELECT canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_variants
FROM canon GROUP BY canonical_url
""",
)
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the crawl-side pass that runs
    before any text dedup: lowercase the host, strip tracking params
    (utm_*), drop fragments, clean dangling separators, then group by
    canonical URL to find fetch-duplicate groups. The fixture has no
    URL column, so raw URLs are synthesized deterministically from
    doc_id (case-varied hosts, utm-decorated queries, fragments) —
    identically on both engines — and the CANONICALIZATION chain is the
    operator under test: regexp fragment strip -> utm strip (removes
    'param=value&' so a following param slides left) -> dangling '?'/
    '&' cleanup -> host lowercased in place via regexp_extract, path
    and query case preserved (real canonicalizers must not lowercase
    paths).

    Scale shape: the whole chain is map-side string work (JVM regexp,
    no Python); the only shuffle is the final groupBy on the canonical
    URL, whose cardinality is bounded by the distinct-page count. At
    crawl scale this is the op that collapses ~20-40% of fetch lists
    (tracking-param explosion), so it runs FIRST, before anything
    content-based."""
    c = catalog(spark, sf_dir)
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://"),
        F.when(d % 3 == 0, F.lit("WWW.Site-")).otherwise(F.lit("www.site-")),
        (d % 7).cast("string"),
        F.when(d % 3 == 0, F.lit(".COM")).otherwise(F.lit(".com")),
        F.lit("/p/"),
        (d % 50).cast("string"),
        F.when(
            d % 2 == 0,
            F.concat(F.lit("?utm_source=feed&id="), (d % 10).cast("string")),
        )
        .when(
            d % 5 == 1,
            F.concat(
                F.lit("?id="),
                (d % 10).cast("string"),
                F.lit("&utm_campaign=brand"),
            ),
        )
        .otherwise(F.lit("")),
        F.when(d % 6 == 3, F.lit("#ref")).otherwise(F.lit("")),
    )
    raw = c.documents.select("doc_id", url.alias("url"))
    u3 = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("url"), "#.*$", ""),
            "utm_[a-z]+=[^&]*&?",
            "",
        ),
        "[?&]$",
        "",
    )
    canon = raw.select(
        "doc_id",
        "url",
        F.concat(
            F.lit("https://"),
            F.lower(F.regexp_extract(u3, "^https://([^/]+)", 1)),
            F.regexp_replace(u3, "^https://[^/]+", ""),
        ).alias("canonical_url"),
    )
    return canon.groupBy("canonical_url").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("url").cast("bigint").alias("n_raw_variants"),
    )


@REGISTRY.register(
    "q_mixture_temperature",
    tags=("llm", "corpus"),
    oracle="""
WITH avail AS MATERIALIZED (
  SELECT source,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
  FROM documents GROUP BY source
), w AS MATERIALIZED (
  SELECT source, avail_tokens,
         CAST(FLOOR(sqrt(avail_tokens) * 1000000 + 0.5) AS BIGINT) AS w_micro
  FROM avail
), tot AS (
  SELECT CAST(SUM(w_micro) AS BIGINT) AS w_total,
         CAST(SUM(avail_tokens) AS BIGINT) AS tok_total FROM w
)
SELECT source, avail_tokens, w_micro,
       (w_micro * 1000000) // w_total AS share_ppm,
       (((w_micro * 1000000) // w_total) * tok_total) // 1000000
         AS planned_tokens,
       ((((w_micro * 1000000) // w_total) * tok_total) // 1000000) * 1000
         // avail_tokens AS upsample_milli
FROM w CROSS JOIN tot
""",
)
def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture planner (the multilingual-pretraining
    sampling rule, T=2 i.e. alpha=0.5): per SOURCE, sampling share
    proportional to sqrt(available tokens) — big sources are
    downweighted below their natural share, small ones upsampled, the
    standard fix for low-resource starvation. Differs from
    q_mixture_rates (uniform target over languages, largest
    upsampling-free epoch) in both the weighting law and the output:
    this one reports each source's share and its up/downsampling factor
    at a one-epoch token budget. upsample_milli > 1000 marks sources a
    sampler must repeat; < 1000 marks sources it subsamples.

    Exact integer arithmetic end-to-end: sqrt(BIGINT) is one
    correctly-rounded IEEE op (bit-identical on both engines), lifted
    immediately to integer micro-units; every later step is integer
    multiply/floor-divide, so no float summation order exists anywhere
    (the q_mixture_rates discipline). Scale shape: one partial-agg
    groupBy(source) over the corpus; everything after runs on the
    20-row source rollup with the 1-row total broadcast back."""
    c = catalog(spark, sf_dir)
    avail = c.documents.groupBy("source").agg(
        F.sum(F.size(F.split("text", " ")))
        .cast("bigint")
        .alias("avail_tokens")
    )
    w = avail.select(
        "source",
        "avail_tokens",
        half_up(F.sqrt(F.col("avail_tokens")), 1000000).alias("w_micro"),
    )
    tot = w.agg(
        F.sum("w_micro").cast("bigint").alias("w_total"),
        F.sum("avail_tokens").cast("bigint").alias("tok_total"),
    )
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "avail_tokens",
            "w_micro",
            F.expr("(w_micro * 1000000) div w_total").alias("share_ppm"),
            F.expr(
                "(((w_micro * 1000000) div w_total) * tok_total) div 1000000"
            ).alias("planned_tokens"),
            F.expr(
                "(((((w_micro * 1000000) div w_total) * tok_total)"
                " div 1000000) * 1000) div avail_tokens"
            ).alias("upsample_milli"),
        )
    )


@REGISTRY.register(
    "q_source_overlap",
    tags=("llm", "corpus", "dedup"),
    oracle="""
WITH sh AS MATERIALIZED (
  SELECT DISTINCT source,
         string_split(text, ' ')[i] || ' ' ||
         string_split(text, ' ')[i+1] || ' ' ||
         string_split(text, ' ')[i+2] AS g
  FROM documents,
       unnest(generate_series(1, len(string_split(text, ' ')) - 2)) AS t(i)
), per_src AS MATERIALIZED (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM sh
  GROUP BY source
), pairs AS MATERIALIZED (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
  GROUP BY 1, 2
)
SELECT p.src_a, p.src_b, sa.n_shingles AS n_a, sb.n_shingles AS n_b,
       p.n_shared,
       (p.n_shared * 1000000) // (sa.n_shingles + sb.n_shingles - p.n_shared)
         AS jaccard_ppm
FROM pairs p
JOIN per_src sa ON p.src_a = sa.source
JOIN per_src sb ON p.src_b = sb.source
""",
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix: distinct-trigram Jaccard between
    every pair of sources that share at least one shingle — the
    dump-vs-dump contamination audit run before merging crawl
    snapshots or vendor corpora (the pairwise generalization of
    q_decontaminate's one-directional eval-vs-train screen). Integer
    jaccard_ppm via exact floor division.

    Scale shape: shingles distinct per (source, shingle) map-side, the
    pair join keys on the shingle string and fans out only to the
    sources actually containing it (never a source x source cross);
    per-source totals are a 20-row rollup broadcast onto the pair
    counts. At 100 TB the honest upgrade is per-pair HLL sketches
    (q_hll_sketch's machinery) instead of exact distinct-counting —
    same output schema, sketch-mergeable, one pass; the exact form here
    doubles as that path's ground truth."""
    c = catalog(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    # guard: sequence(1, n<=0) is DESCENDING in Spark (the oracle's
    # generate_series is empty) — sub-3-token docs contribute nothing.
    # bind: split evaluated once per row, not once per lambda reference
    # (functions/hof.bind — optimization r12)
    trigrams = bind(
        toks,
        lambda t: F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(t) - 2, F.lit(1))),
            lambda i: F.concat_ws(
                " ",
                F.try_element_at(t, i),
                F.try_element_at(t, i + 1),
                F.try_element_at(t, i + 2),
            ),
        ),
    )
    grams = F.when(F.size(toks) >= 3, trigrams).otherwise(
        F.expr("CAST(array() AS array<string>)")
    )
    sh = (
        c.documents.select("source", F.explode(grams).alias("g"))
        .distinct()
    )
    per_src = sh.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_shingles")
    )
    a = sh.select(F.col("source").alias("src_a"), "g")
    b = sh.select(F.col("source").alias("src_b"), "g")
    pairs = (
        a.join(b, "g")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    sa = per_src.select(
        F.col("source").alias("src_a"), F.col("n_shingles").alias("n_a")
    )
    sb = per_src.select(
        F.col("source").alias("src_b"), F.col("n_shingles").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_shared",
            F.expr(
                "(n_shared * 1000000) div (n_a + n_b - n_shared)"
            ).alias("jaccard_ppm"),
        )
    )
