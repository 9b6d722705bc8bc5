"""Text-analysis operators for LLM training-data pipelines (north star).

Language-ID, quality scoring, token counting, fingerprinting — all as
single declarative plans over the ``documents`` table, no Python in the
row path. Each has a full DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from catenae_kafka_spark.catalog import catalog
from catenae_kafka_spark.functions.compat import half_up
from catenae_kafka_spark.functions.hof import bind
from catenae_kafka_spark.registry import REGISTRY

# tiny function-word list drawn from the fixtures' 31-word vocabulary
STOPWORDS = ("the", "a", "value", "row")

FNV_MOD = 2147483647  # 2^31-1, Mersenne prime for the rolling hash


@REGISTRY.register(
    "q_text_stats",
    tags=("llm", "text"),
    oracle="""
WITH d AS (
  SELECT lang, n_chars,
         len(string_split(text, ' ')) AS n_words,
         len(list_distinct(string_split(text, ' '))) AS n_uniq
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       ROUND(AVG(n_words), 4) AS avg_words,
       ROUND(AVG(n_chars), 4) AS avg_chars,
       ROUND(AVG(n_uniq * 1.0 / n_words), 6) AS avg_uniq_ratio,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM d GROUP BY lang
""",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats: doc counts, word/char averages,
    unique-token ratio."""
    c = catalog(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    d = c.documents.select(
        "lang",
        "n_chars",
        F.size(toks).alias("n_words"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
    )
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_words"), 4).alias("avg_words"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.avg(F.col("n_uniq") / F.col("n_words")), 6).alias("avg_uniq_ratio"),
        F.sum("n_chars").alias("total_chars"),
    )


@REGISTRY.register(
    "q_lang_topwords",
    tags=("llm", "text"),
    oracle="""
WITH w AS (
  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
), counted AS (
  SELECT lang, word, COUNT(*) AS n FROM w GROUP BY lang, word
), ranked AS (
  SELECT lang, word, n,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, word) AS rnk
  FROM counted
)
SELECT lang, word, n, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 3
""",
)
def q_lang_topwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 words per language (explode → count → windowed top-k)."""
    c = catalog(spark, sf_dir)
    w = c.documents.select("lang", F.explode(F.split("text", " ")).alias("word"))
    counted = w.groupBy("lang", "word").agg(F.count("*").alias("n"))
    win = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("word"))
    return (
        counted.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= 3)
        .select("lang", "word", "n", F.col("rnk").cast("long").alias("rnk"))
    )


@REGISTRY.register(
    "q_lang_id",
    tags=("llm", "text"),
    bench=True,
    oracle="""
WITH w AS (
  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
), counted AS (
  SELECT lang, word, COUNT(*) AS n FROM w GROUP BY lang, word
), profile AS (
  SELECT lang, word FROM (
    SELECT lang, word,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, word) AS rnk
    FROM counted
  ) WHERE rnk <= 10
), doc_words AS (
  SELECT doc_id, lang AS true_lang,
         unnest(list_distinct(string_split(text, ' '))) AS word
  FROM documents
), overlap AS (
  SELECT d.doc_id, d.true_lang, p.lang AS cand_lang, COUNT(*) AS hits
  FROM doc_words d JOIN profile p USING (word)
  GROUP BY d.doc_id, d.true_lang, p.lang
), best AS (
  SELECT doc_id, true_lang, cand_lang AS pred_lang,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY hits DESC, cand_lang) AS rnk
  FROM overlap
)
SELECT doc_id, true_lang, pred_lang,
       CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END AS correct
FROM best WHERE rnk = 1
""",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: build a top-10-words profile per language
    from the corpus itself, classify each doc by profile overlap
    (argmax hits, lexicographic tiebreak). Profile: explode → count →
    window top-k, collected (bounded: 10 × n_langs rows); scoring: one
    Arrow kernel pass over the corpus (see inline notes)."""
    import numpy as np
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import IntegerType, StructField, StructType

    c = catalog(spark, sf_dir)
    docs = c.documents
    w = docs.select("lang", F.explode(F.split("text", " ")).alias("word"))
    counted = w.groupBy("lang", "word").agg(F.count("*").alias("n"))
    win = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("word"))
    profile = (
        counted.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= 10)
        .select(F.col("lang").alias("cand_lang"), "word")
    )
    # Classification pass (optimization r12 session 2, guide §4.2): the
    # profile is bounded (10 words × n_langs) so it is COLLECTED at
    # build time (same bounded-side discipline as knn_cosine's probe
    # set) and the per-doc scoring runs in a mapInArrow kernel —
    # tokenize (split_pattern), match tokens against the ≤10·n_langs
    # profile words (index_in), distinct the (doc, word) matches
    # (np.unique — equals the former array_distinct + intersect
    # semantics), count hits per language, argmax with the exact former
    # tiebreak (hits DESC, cand_lang ASC NULLS FIRST == first max in
    # None-first lex language order). All-integer/string arithmetic —
    # no float path, so equivalence is exact set equality; verified
    # exceptAll-identical at sf0.01/sf0.1/the 100× rung and pinned by
    # the differential-fuzz suite. Replaced the broadcast
    # profile-array cross + array_intersect scoring (session 1):
    # measured 2.45 → 1.73 s min at the 100× rung, 0.63 → 0.50 s at
    # sf0.1, and the former whole-corpus 5× row duplication and argmax
    # exchange are gone (plans/r12/q_lang_id_after.txt).
    prof_rows = profile.collect()
    langs = sorted(
        {r.cand_lang for r in prof_rows}, key=lambda x: (x is not None, x)
    )
    lang_of = {l: i for i, l in enumerate(langs)}
    words = sorted({r.word for r in prof_rows})
    word_of = {wd: i for i, wd in enumerate(words)}
    word_langs = np.zeros((len(words), len(langs)), dtype=np.int64)
    for r in prof_rows:
        word_langs[word_of[r.word], lang_of[r.cand_lang]] = 1

    lang_type = docs.schema["lang"].dataType
    langs_np = np.array(langs, dtype=object)
    pa_lang_type = to_arrow_type(lang_type)

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        if not langs:  # empty corpus -> empty profile -> no matches
            return
        wtab = pa.array(words, type=pa.string())
        n_words, n_langs = word_langs.shape
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            doc_id, true_lang, text = b.column(0), b.column(1), b.column(2)
            toks = pc.split_pattern(text, " ")  # null text -> null row
            lens = np.asarray(
                pc.fill_null(pc.list_value_length(toks), 0), dtype=np.int64
            )
            flat = pc.list_flatten(toks)
            widx = np.asarray(
                pc.fill_null(pc.index_in(flat, value_set=wtab), -1),
                dtype=np.int64,
            )
            doc_of = np.repeat(np.arange(n, dtype=np.int64), lens)
            hits = np.zeros((n, n_langs), dtype=np.int64)
            m = widx >= 0
            if m.any():
                # distinct (doc, word) pairs == array_distinct before
                # the former intersect: multiplicity never counts
                pairs = np.unique(doc_of[m] * n_words + widx[m])
                np.add.at(hits, pairs // n_words, word_langs[pairs % n_words])
            best = hits.max(axis=1)
            # argmax -> FIRST max in langs order = ASC NULLS FIRST tiebreak
            pred_i = hits.argmax(axis=1)
            ki = np.flatnonzero(best >= 1)
            tl = pc.take(true_lang, pa.array(ki))
            pred = pa.array(langs_np[pred_i[ki]], type=pa_lang_type)
            correct = pc.fill_null(
                pc.cast(pc.equal(tl, pred), pa.int32()), 0
            )
            yield pa.record_batch(
                [pc.take(doc_id, pa.array(ki)), tl, pred, correct],
                names=["doc_id", "true_lang", "pred_lang", "correct"],
            )

    out_schema = StructType(
        [
            StructField("doc_id", docs.schema["doc_id"].dataType),
            StructField("true_lang", lang_type),
            StructField("pred_lang", lang_type),
            StructField("correct", IntegerType()),
        ]
    )
    return docs.select(
        "doc_id", F.col("lang").alias("true_lang"), "text"
    ).mapInArrow(kernel, out_schema)


@REGISTRY.register(
    "q_text_quality",
    tags=("llm", "text"),
    oracle=f"""
WITH d AS (
  SELECT doc_id,
         n_chars,
         string_split(text, ' ') AS toks
  FROM documents
), m AS (
  SELECT doc_id, n_chars,
         len(toks) AS n_words,
         len(list_distinct(toks)) * 1.0 / len(toks) AS uniq_ratio,
         list_sum(list_transform(toks, t -> length(t))) * 1.0 / len(toks)
           AS avg_word_len,
         len(list_filter(toks, t -> list_contains({list(STOPWORDS)!r}, t)))
           * 1.0 / len(toks) AS stop_ratio
  FROM d
)
SELECT doc_id, n_words,
       ROUND(uniq_ratio, 6) AS uniq_ratio,
       ROUND(avg_word_len, 6) AS avg_word_len,
       ROUND(stop_ratio, 6) AS stop_ratio,
       ROUND(0.4 * uniq_ratio
           + 0.3 * LEAST(n_words / 20.0, 1.0)
           + 0.2 * (1.0 - stop_ratio)
           + 0.1 * LEAST(avg_word_len / 6.0, 1.0), 6) AS quality_score
FROM m
""",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score per doc: unique-token ratio, length
    saturation, stopword ratio, word-length — the
    Gopher/C4-style filter-feature family as one JVM-side expression."""
    c = catalog(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    n_words = F.size(toks)
    uniq_ratio = F.size(F.array_distinct(toks)) / n_words
    avg_word_len = (
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
        / n_words
    )
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_ratio = (
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))) / n_words
    )
    quality = (
        0.4 * uniq_ratio
        + 0.3 * F.least(n_words / F.lit(20.0), F.lit(1.0))
        + 0.2 * (1.0 - stop_ratio)
        + 0.1 * F.least(avg_word_len / F.lit(6.0), F.lit(1.0))
    )
    return c.documents.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(uniq_ratio, 6).alias("uniq_ratio"),
        F.round(avg_word_len, 6).alias("avg_word_len"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(quality, 6).alias("quality_score"),
    )


@REGISTRY.register(
    "q_token_count",
    tags=("llm", "text"),
    oracle="""
SELECT lang,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
       CAST(SUM(len(regexp_extract_all(text, '[a-zA-Z0-9]+'))) AS BIGINT)
         AS re_tokens,
       CAST(SUM(CAST(CEIL(n_chars / 4.0) AS BIGINT)) AS BIGINT) AS bpe_est,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY lang
""",
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways per language: whitespace split,
    word-regex extraction, and a BPE-ish chars/4 estimate."""
    c = catalog(spark, sf_dir)
    ws = F.size(F.split(F.col("text"), " "))
    re_toks = F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-zA-Z0-9]+"), 0))
    bpe = F.ceil(F.col("n_chars") / 4.0)
    return c.documents.groupBy("lang").agg(
        F.sum(ws).alias("ws_tokens"),
        F.sum(re_toks).alias("re_tokens"),
        F.sum(bpe).alias("bpe_est"),
        F.count("*").alias("n_docs"),
    )


@REGISTRY.register(
    "q_doc_fingerprint",
    tags=("llm", "text"),
    oracle=f"""
SELECT doc_id,
       list_reduce(
         [CAST(0 AS BIGINT)] ||
           list_transform(string_split(text, ''), ch -> CAST(ascii(ch) AS BIGINT)),
         (acc, x) -> (acc * 31 + x) % {FNV_MOD}
       ) AS fingerprint,
       length(text) AS n_chars_seen
FROM documents
""",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document fingerprint: polynomial rolling hash over
    the character stream, acc = (acc*31 + code) mod 2^31-1 — the same
    arithmetic is expressible exactly in both engines (builtin hash
    functions are not cross-engine portable)."""
    c = catalog(spark, sf_dir)
    chars = F.split(F.col("text"), "")
    fp = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % FNV_MOD,
    )
    return c.documents.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.length("text").alias("n_chars_seen"),
    )


@REGISTRY.register(
    "q_text_tfidf",
    tags=("llm", "text"),
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), tf AS (
  SELECT doc_id, w, COUNT(*) AS cnt FROM tok GROUP BY doc_id, w
), dl AS (
  SELECT doc_id, COUNT(*) AS len FROM tok GROUP BY doc_id
), df AS (
  SELECT w, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY w
), nd AS (
  SELECT COUNT(*) AS n FROM documents
), scored AS (
  SELECT tf.doc_id, tf.w,
         ROUND(tf.cnt * 1.0 / dl.len * ln(nd.n * 1.0 / df.df), 6) AS tfidf
  FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN df ON tf.w = df.w
  CROSS JOIN nd
)
SELECT doc_id, w, tfidf
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, w) AS rn
  FROM scored
)
WHERE rn <= 3
""",
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document. All counting is 2-phase hash
    agg after one tokenize-explode; corpus size and per-term document
    frequency join back in (df is vocabulary-sized -> broadcast).
    Scores are rounded *before* ranking so ordering is engine-stable."""
    c = catalog(spark, sf_dir)
    tok = c.documents.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    tf = tok.groupBy("doc_id", "w").agg(F.count("*").alias("cnt"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("len"))
    df = tok.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    nd = c.documents.agg(F.count("*").alias("n"))
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df), "w")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "w",
            F.round(
                F.col("cnt") / F.col("len") * F.log(F.col("n") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    wd = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "w")
    return (
        scored.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "w", "tfidf")
    )


@REGISTRY.register(
    "q_word_pmi",
    tags=("llm", "text"),
    oracle="""
WITH dw AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), df AS (
  SELECT w, COUNT(*) AS df FROM dw GROUP BY w
), nd AS (
  SELECT COUNT(*) AS n FROM documents
), cooc AS (
  SELECT a.w AS w_a, b.w AS w_b, COUNT(*) AS n_ab
  FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY a.w, b.w
)
SELECT w_a, w_b, n_ab,
       ROUND(ln(n_ab * 1.0 * nd.n / (fa.df * 1.0 * fb.df)), 6) AS pmi
FROM cooc
JOIN df fa ON cooc.w_a = fa.w
JOIN df fb ON cooc.w_b = fb.w
CROSS JOIN nd
WHERE n_ab >= 5
""",
)
def q_word_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level pointwise mutual information for word pairs:
    which words co-occur more than chance predicts. The pair space is
    bounded by the doc-level self-join on doc_id (each doc contributes
    |vocab_doc|^2/2 pairs, never corpus^2); marginals join back
    broadcast. Corpus-statistics workhorse for phrase mining /
    tokenizer construction over training data."""
    c = catalog(spark, sf_dir)
    dw = (
        c.documents.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .distinct()
    )
    df = dw.groupBy("w").agg(F.count("*").alias("df"))
    nd = c.documents.agg(F.count("*").alias("n"))
    a = dw.select("doc_id", F.col("w").alias("w_a"))
    b = dw.select("doc_id", F.col("w").alias("w_b"))
    cooc = (
        a.join(b, "doc_id")
        .filter(F.col("w_a") < F.col("w_b"))
        .groupBy("w_a", "w_b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 5)
    )
    fa = df.select(F.col("w").alias("w_a"), F.col("df").alias("df_a"))
    fb = df.select(F.col("w").alias("w_b"), F.col("df").alias("df_b"))
    return (
        cooc.join(F.broadcast(fa), "w_a")
        .join(F.broadcast(fb), "w_b")
        .crossJoin(F.broadcast(nd))
        .select(
            "w_a",
            "w_b",
            "n_ab",
            F.round(
                F.log(F.col("n_ab") * F.col("n") / (F.col("df_a") * F.col("df_b"))),
                6,
            ).alias("pmi"),
        )
    )


@REGISTRY.register(
    "q_text_entropy",
    tags=("llm", "text"),
    oracle="""
WITH w AS (
  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
), counted AS (
  SELECT lang, word, COUNT(*) AS n FROM w GROUP BY lang, word
), tot AS (
  SELECT lang, word, n, SUM(n) OVER (PARTITION BY lang) AS t FROM counted
)
SELECT lang,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       ROUND(-SUM((n * 1.0 / t) * ln(n * 1.0 / t)) / ln(2), 4) AS entropy_bits
FROM tot GROUP BY lang
""",
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language unigram Shannon entropy (bits/token) — the corpus
    diversity measure used to spot template/boilerplate-heavy sources in
    training-data audits. explode → per-(lang, word) count (partial agg
    map-side) → per-lang total via an unordered window reusing the same
    hash partitioning → one final per-lang aggregate. Entropy terms are
    computed from exact integer counts so both engines see identical
    doubles before the 4dp round."""
    import math

    c = catalog(spark, sf_dir)
    w = c.documents.select("lang", F.explode(F.split("text", " ")).alias("word"))
    counted = w.groupBy("lang", "word").agg(F.count("*").alias("n"))
    tot = counted.withColumn("t", F.sum("n").over(Window.partitionBy("lang")))
    p = F.col("n") / F.col("t")
    return tot.groupBy("lang").agg(
        F.sum("n").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.round(-F.sum(p * F.log(p)) / math.log(2), 4).alias("entropy_bits"),
    )


@REGISTRY.register(
    "q_ngram_lm",
    tags=("llm", "text", "lm"),
    oracle="""
WITH bg AS (
  SELECT string_split(text, ' ')[i] AS w1,
         string_split(text, ' ')[i + 1] AS w2
  FROM documents,
       unnest(generate_series(1, len(string_split(text, ' ')) - 1)) AS t(i)
), pc AS (
  SELECT w1, w2, COUNT(*) AS n_pair FROM bg GROUP BY w1, w2
), tot AS (
  SELECT w1, SUM(n_pair) AS n_tot FROM pc GROUP BY w1
), ranked AS (
  SELECT pc.w1, w2, n_pair, n_tot,
         ROW_NUMBER() OVER (PARTITION BY pc.w1
                            ORDER BY n_pair DESC, w2) AS rn
  FROM pc JOIN tot USING (w1)
)
SELECT w1, w2 AS next_word,
       CAST(n_pair AS BIGINT) AS n_pair,
       ROUND(n_pair * 1.0 / n_tot, 6) AS prob
FROM ranked WHERE rn = 1 AND n_tot >= 50
""",
)
def q_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram language model: the most likely next word per word
    with its conditional probability P(w2|w1) — the statistic behind
    boilerplate detection and tokenizer/merge-rule construction over
    training corpora. Bigrams come from a lead() window per document
    (one shuffle on doc_id, already the parquet layout order); the
    conditional normalizer is a second window over the per-pair counts
    (reuses the w1 hash partitioning). Nothing leaves the JVM; pair
    space is bounded by observed-vocab^2, not corpus size."""
    c = catalog(spark, sf_dir)
    toks = c.documents.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w1")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = toks.withColumn("w2", F.lead("w1").over(w)).filter(
        F.col("w2").isNotNull()
    )
    pc = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n_pair"))
    tot = pc.withColumn("n_tot", F.sum("n_pair").over(Window.partitionBy("w1")))
    rw = Window.partitionBy("w1").orderBy(F.col("n_pair").desc(), F.col("w2"))
    return (
        tot.withColumn("rn", F.row_number().over(rw))
        .filter((F.col("rn") == 1) & (F.col("n_tot") >= 50))
        .select(
            "w1",
            F.col("w2").alias("next_word"),
            F.col("n_pair").cast("long").alias("n_pair"),
            F.round(F.col("n_pair") / F.col("n_tot"), 6).alias("prob"),
        )
    )


@REGISTRY.register(
    "q_doc_perplexity",
    tags=("llm", "text", "lm"),
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), vocab AS (
  SELECT word, COUNT(*) AS cw FROM toks GROUP BY word
), n AS (
  SELECT COUNT(*) AS total FROM toks
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(exp((-SUM(ln(cw * 1.0 / total)) / COUNT(*))), 4) AS ppl
FROM toks JOIN vocab USING (word) CROSS JOIN n
GROUP BY doc_id
""",
)
def q_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under the corpus unigram LM — the
    classic quality-filter signal (wiki-like text scores low, gibberish
    and boilerplate score high/low extremes). The vocabulary table
    (word → corpus count) is vocab-sized and broadcast back onto the
    token stream; per-doc -mean-log-prob is a single grouped agg. Two
    passes over the tokens, zero Python, shuffle width bounded by vocab
    + documents, never raw corpus tokens."""
    c = catalog(spark, sf_dir)
    toks = c.documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    vocab = toks.groupBy("word").agg(F.count("*").alias("cw"))
    total = toks.agg(F.count("*").alias("total"))
    logp = F.log(F.col("cw") / F.col("total"))
    return (
        toks.join(F.broadcast(vocab), "word")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.exp(-F.sum(logp) / F.count("*")), 4).alias("ppl"),
        )
    )


@REGISTRY.register(
    "q_bpe_pairs",
    tags=("llm", "text", "tokenizer"),
    oracle="""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
), pairs AS (
  SELECT substring(w, i, 2) AS pair
  FROM words, unnest(generate_series(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 2
), counted AS (
  SELECT pair, CAST(COUNT(*) AS BIGINT) AS n FROM pairs GROUP BY pair
)
SELECT pair, n FROM counted
ORDER BY n DESC, pair
LIMIT 20
""",
)
def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-candidate statistics: the most frequent adjacent
    character pairs inside words — iteration 0 of byte-pair-encoding
    tokenizer training (each BPE round merges the top pair and
    recounts; the counting plan is identical every round). Words
    explode map-side into (position, 2-gram) pairs, counts are a
    2-phase hash agg over a ≤|alphabet|² key space, the top-20 is
    TakeOrdered — no global sort. At corpus scale the pair-count table
    is alphabet-bounded, so every BPE round's shuffle is tiny no
    matter how large the corpus."""
    c = catalog(spark, sf_dir)
    words = c.documents.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(20)
    )


@REGISTRY.register(
    "q_inverted_index",
    tags=("llm", "text", "retrieval"),
    oracle="""
WITH postings AS (
  SELECT DISTINCT unnest(string_split(text, ' ')) AS term, doc_id
  FROM documents
), df AS (
  SELECT term, COUNT(*) AS doc_freq FROM postings GROUP BY term
)
SELECT p.term,
       CAST(d.doc_freq AS BIGINT) AS doc_freq,
       array_to_string(list_sort(list(p.doc_id)), ',') AS posting_list
FROM postings p JOIN df d ON p.term = d.term
WHERE d.doc_freq BETWEEN 2 AND 400
GROUP BY p.term, d.doc_freq
""",
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction — the retrieval building block
    (term → sorted posting list of documents). Tokenize-explode-
    distinct map-side, one shuffle on the term, postings assembled with
    collect_list + array_sort (emitted as a joined string so the
    oracle hashes scalars). The doc-freq band filter is what a real
    index build does too: stopwords (huge lists) and hapaxes (useless
    lists) are pruned before materialization — at 100 TB the posting
    lists for unpruned stopwords would be corpus-sized rows."""
    c = catalog(spark, sf_dir)
    postings = c.documents.select(
        F.explode(F.split("text", " ")).alias("term"), "doc_id"
    ).distinct()
    lists = postings.groupBy("term").agg(
        F.count("*").alias("doc_freq"),
        F.array_join(F.array_sort(F.collect_list("doc_id")), ",").alias(
            "posting_list"
        ),
    )
    return lists.filter(F.col("doc_freq").between(2, 400)).select(
        "term", F.col("doc_freq").cast("long").alias("doc_freq"), "posting_list"
    )


@REGISTRY.register(
    "q_vocab_coverage",
    tags=("text", "tokenizer"),
    oracle="""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
), counts AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n
  FROM words WHERE word <> '' GROUP BY word
), ranked AS (
  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, word) AS rnk
  FROM counts
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts
)
SELECT k,
       CAST((SELECT SUM(n) FROM ranked WHERE rnk <= k) AS BIGINT)
         AS covered,
       (SELECT total FROM tot) AS total,
       CAST((SELECT SUM(n) FROM ranked WHERE rnk <= k) AS DOUBLE)
         / (SELECT total FROM tot) AS coverage
FROM (SELECT unnest([10, 100, 1000]) AS k)
""",
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what fraction of all token
    occurrences do the top-10 / top-100 / top-1000 words cover? The
    sizing question every tokenizer/vocab design starts from (a
    heavy-head curve means a small vocab suffices; a flat one means
    byte-fallback will fire constantly).

    Exact integer counts end to end. The top-k rank reuses the
    lossless two-phase hash-bucket prune (per-bucket top-k, then a
    global window over the <=64k survivors) so no window ever sees the
    full vocabulary; the three coverage points come from one ranked
    pass."""
    from pyspark.sql import Window

    c = catalog(spark, sf_dir)
    counts = (
        c.documents.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    total = counts.agg(F.sum("n").alias("total"))
    max_k = 1000
    w_bucket = Window.partitionBy(F.crc32(F.col("word")) % 64).orderBy(
        F.col("n").desc(), "word"
    )
    candidates = counts.withColumn(
        "_brn", F.row_number().over(w_bucket)
    ).filter(F.col("_brn") <= max_k)
    w_rank = Window.orderBy(F.col("n").desc(), "word")
    ranked = candidates.withColumn("rnk", F.row_number().over(w_rank)).filter(
        F.col("rnk") <= max_k
    )
    ks = spark.createDataFrame([(10,), (100,), (1000,)], "k int")
    # left join: an EMPTY corpus must keep the 3-row k spine with NULL
    # coverage, matching the oracle's scalar subqueries over an empty
    # ranking (empty-fixture fuzz) — inner dropped the spine entirely
    per_k = (
        F.broadcast(ks)
        .join(ranked, ranked.rnk <= ks.k, "left")
        .groupBy("k")
        .agg(F.sum("n").alias("covered"))
    )
    return per_k.crossJoin(F.broadcast(total)).select(
        "k",
        "covered",
        "total",
        (F.col("covered").cast("double") / F.col("total")).alias(
            "coverage"
        ),
    )


@REGISTRY.register(
    "q_pii_scan",
    tags=("text", "privacy"),
    oracle="""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(LEN(regexp_extract_all(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')))
         AS BIGINT) AS n_emails,
       CAST(SUM(LEN(regexp_extract_all(text, '[0-9]{6,}')))
         AS BIGINT) AS n_long_digit_runs,
       CAST(SUM(CASE WHEN LEN(regexp_extract_all(text, '[0-9]{6,}')) > 0
                     OR LEN(regexp_extract_all(text,
                          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                        > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged_docs
FROM documents GROUP BY source
""",
)
def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII pre-release scan: count email addresses and long digit runs
    (phone/account-number proxies) per corpus source, plus how many
    documents are flagged at all — the audit gate before a corpus
    leaves a trust boundary, and the targeting input for a redaction
    pass (q_pseudonymize handles structured ids; this catches PII
    embedded in free text).

    Pure map-side regex extraction (JVM, codegen'd) into a
    source-count-sized aggregate; patterns are simple enough to parse
    identically under Java regex and DuckDB's RE2. On the synthetic
    corpus matches are rare-to-zero — the audit PROVES absence, which
    is exactly its production job."""
    c = catalog(spark, sf_dir)
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    digits = r"[0-9]{6,}"
    n_email = F.size(F.regexp_extract_all("text", F.lit(email)))
    n_digit = F.size(F.regexp_extract_all("text", F.lit(digits)))
    return c.documents.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(n_email).alias("n_emails"),
        F.sum(n_digit).alias("n_long_digit_runs"),
        F.sum(
            ((n_email > 0) | (n_digit > 0)).cast("long")
        ).alias("n_flagged_docs"),
    )


@REGISTRY.register(
    "q_phrase_search",
    tags=("text", "search"),
    oracle="""
WITH pos AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS p
  FROM documents
), top_bigram AS (
  SELECT a.w AS w1, b.w AS w2
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
  GROUP BY a.w, b.w
  ORDER BY COUNT(*) DESC, a.w, b.w
  LIMIT 1
)
SELECT d.doc_id, t.w1 || ' ' || t.w2 AS phrase
FROM documents d CROSS JOIN top_bigram t
WHERE ' ' || d.text || ' ' LIKE '% ' || t.w1 || ' ' || t.w2 || ' %'
""",
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search via a POSITIONAL inverted index — the
    search-engine kernel: posting lists carry (doc, position), and a
    phrase match is a self-join on doc with position adjacency
    (p2 = p1 + 1). The query phrase is the corpus's most frequent
    bigram (deterministic tie-break), so the query adapts to any
    fixture. The oracle verifies with an INDEPENDENT mechanism —
    padded LIKE substring match — so index-based and scan-based
    retrieval must agree document-for-document.

    At 100 TB the positional index is built once (one explode + one
    keyed shuffle); each phrase query touches only the posting lists
    of its terms — the scan-based oracle is what the index SAVES."""
    from pyspark.sql import Window

    c = catalog(spark, sf_dir)
    pos = c.documents.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("p", "w"),
    )
    a = pos.select("doc_id", F.col("w").alias("w1"), F.col("p").alias("p1"))
    b = pos.select("doc_id", F.col("w").alias("w2"), F.col("p").alias("p2"))
    bigrams = a.join(b, "doc_id").filter(F.col("p2") == F.col("p1") + 1)
    w_rank = Window.orderBy(
        F.col("cnt").desc(), "w1", "w2"
    )
    top = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select("w1", "w2")
    )
    hits = (
        bigrams.join(F.broadcast(top), ["w1", "w2"])
        .select("doc_id")
        .distinct()
    )
    return hits.crossJoin(F.broadcast(top)).select(
        "doc_id",
        F.concat_ws(" ", "w1", "w2").alias("phrase"),
    )


@REGISTRY.register(
    "q_ngram_novelty",
    tags=("llm", "text"),
    oracle="""
WITH grams AS MATERIALIZED (
  SELECT doc_id, source,
         unnest(list_distinct(list_transform(
           generate_series(1, len(string_split(text,' ')) - 1),
           i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
         ))) AS g
  FROM documents
  WHERE len(string_split(text,' ')) >= 2
), df AS MATERIALIZED (
  SELECT g, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d FROM grams GROUP BY g
), per_doc AS MATERIALIZED (
  SELECT grams.doc_id, grams.source,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN df.d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
  FROM grams JOIN df USING (g)
  GROUP BY grams.doc_id, grams.source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_grams) AS BIGINT) AS total_grams,
       CAST(SUM(n_unique) AS BIGINT) AS corpus_unique_grams,
       ROUND(SUM(n_unique) * 1.0 / SUM(n_grams), 6) AS novelty
FROM per_doc GROUP BY source
""",
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram novelty per source: the fraction of a document's
    distinct word bigrams that occur in NO other document — the
    memorization / boilerplate signal a training-data pipeline tracks
    per source (low novelty = templated or duplicated content;
    complements the dedup ops, which only surface pairwise matches).

    Shape: one shuffle on the gram for document frequencies, join back
    (gram-keyed, the same key — AQE-coalesced), one doc-level and one
    source-level aggregation. The gram DF table is vocabulary-bounded,
    not corpus-bounded; ratios are exact integer tallies divided once."""
    c = catalog(spark, sf_dir)
    from catenae_kafka_spark.operators.llm_dedup import word_bigrams

    grams = (
        c.documents.select(
            "doc_id", "source", word_bigrams(F.col("text")).alias("bigrams")
        )
        .filter(F.size("bigrams") > 0)
        .select("doc_id", "source", F.explode("bigrams").alias("g"))
    )
    df = grams.groupBy("g").agg(F.countDistinct("doc_id").alias("d"))
    per_doc = (
        grams.join(df, "g")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("d") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_unique"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_grams").cast("bigint").alias("total_grams"),
        F.sum("n_unique").cast("bigint").alias("corpus_unique_grams"),
        F.round(F.sum("n_unique") / F.sum("n_grams"), 6).alias("novelty"),
    )


@REGISTRY.register(
    "q_word_burstiness",
    tags=("llm", "text"),
    oracle="""
WITH counts AS (
  SELECT doc_id, w AS word, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY doc_id, w
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
stats AS (
  SELECT word,
         CAST(COUNT(*) AS BIGINT) AS n_docs_with,
         CAST(SUM(n) AS BIGINT) AS s1,
         CAST(SUM(n * n) AS BIGINT) AS s2
  FROM counts GROUP BY word
)
SELECT word, n_docs_with, s1 AS total_count,
       CAST(FLOOR((CAST(n_docs AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
                  / (CAST(n_docs AS DOUBLE) * s1) * 1000000) AS BIGINT)
         AS vmr_micro
FROM stats CROSS JOIN tot
ORDER BY vmr_micro DESC, word LIMIT 15
""",
)
def q_word_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word burstiness (corpus dispersion): variance-to-mean ratio of
    per-document counts, including the zero-count documents — words
    with VMR >> 1 are 'bursty' (topical: concentrated in few docs),
    VMR ~ 1 is Poisson-like (function words). The corpus-linguistics
    signal behind stopword discovery and keyword weighting, distinct
    from TF-IDF (which ignores within-doc repetition shape).

    VMR over all N docs reduces to (N*S2 - S1^2) / (N*S1) on two
    BIGINT power sums (zero rows contribute nothing), so one
    word-keyed aggregation computes it exactly; the emitted value is
    floored to micro-units after a deterministic double division of
    exact integers. Top-15 is a TakeOrdered, not a global sort."""
    c = catalog(spark, sf_dir)
    counts = (
        c.documents.select(
            "doc_id", F.explode(F.split("text", " ")).alias("word")
        )
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("n"))
    )
    n_docs = c.documents.select(F.count("*").alias("n_docs"))
    stats = counts.groupBy("word").agg(
        F.count("*").alias("n_docs_with"),
        F.sum("n").cast("bigint").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("s2"),
    )
    return (
        stats.crossJoin(F.broadcast(n_docs))
        .select(
            "word",
            "n_docs_with",
            F.col("s1").alias("total_count"),
            F.floor(
                (
                    F.col("n_docs").cast("double") * F.col("s2")
                    - F.col("s1").cast("double") * F.col("s1")
                )
                / (F.col("n_docs").cast("double") * F.col("s1"))
                * 1000000
            )
            .cast("bigint")
            .alias("vmr_micro"),
        )
        .orderBy(F.col("vmr_micro").desc(), "word")
        .limit(15)
    )


@REGISTRY.register(
    "q_bm25",
    tags=("llm", "text", "search"),
    oracle="""
WITH words AS MATERIALIZED (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), dl AS MATERIALIZED (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dlen FROM words GROUP BY doc_id
), corpus AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dlen) AS BIGINT) AS total_len
  FROM dl
), top3 AS MATERIALIZED (
  SELECT w, rnk FROM (
    SELECT w, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS rnk
    FROM words GROUP BY w
  ) WHERE rnk <= 3
), tf AS MATERIALIZED (
  SELECT words.doc_id, top3.rnk, CAST(COUNT(*) AS BIGINT) AS tf
  FROM words JOIN top3 ON words.w = top3.w
  GROUP BY words.doc_id, top3.rnk
), df AS MATERIALIZED (
  SELECT rnk, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY rnk
), terms AS MATERIALIZED (
  SELECT tf.doc_id, tf.rnk,
         ln((corpus.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
         * (tf.tf * 2.2)
         / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dlen
                           / (CAST(corpus.total_len AS DOUBLE) / corpus.n_docs)))
           AS s
  FROM tf
  JOIN df ON tf.rnk = df.rnk
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN corpus
), pivoted AS MATERIALIZED (
  SELECT doc_id,
         COALESCE(MAX(CASE WHEN rnk = 1 THEN s END), 0.0) AS s1,
         COALESCE(MAX(CASE WHEN rnk = 2 THEN s END), 0.0) AS s2,
         COALESCE(MAX(CASE WHEN rnk = 3 THEN s END), 0.0) AS s3
  FROM terms GROUP BY doc_id
)
SELECT doc_id,
       CAST(FLOOR((s1 + s2 + s3) * 1000000) AS BIGINT) AS bm25_micro
FROM pivoted
ORDER BY bm25_micro DESC, doc_id LIMIT 10
""",
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Okapi, k1=1.2 b=0.75) for a query built
    from the corpus itself (its 3 globally most frequent words, so the
    operator is fixture-drift-proof) — the lexical-search scorer that
    complements the embedding KNN ops; together they are the hybrid
    retrieval pair every RAG/training-data stack runs.

    Shape: doc lengths and term document-frequencies are one
    aggregation each; the query-term postings join is
    term-cardinality-bounded (3 terms) and broadcast; per-term scores
    PIVOT to columns and add in FIXED order (s1+s2+s3) so the float
    sum has one evaluation order on both engines — the one
    order-dependence a GROUP BY SUM would reintroduce. Top-10 is a
    TakeOrdered. ln/div are correctly-rounded primitives on identical
    inputs (same discipline as the entropy/TF-IDF ops)."""
    c = catalog(spark, sf_dir)
    words = c.documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    dl = words.groupBy("doc_id").agg(F.count("*").alias("dlen"))
    corpus = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dlen").cast("bigint").alias("total_len")
    )
    top3 = (
        words.groupBy("w")
        .agg(F.count("*").alias("n"))
        .select(
            "w",
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), "w"))
            .alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
    )
    tf = (
        words.join(F.broadcast(top3), "w")
        .groupBy("doc_id", "rnk")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("rnk").agg(F.countDistinct("doc_id").alias("df"))
    terms = (
        tf.join(F.broadcast(df), "rnk")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            "rnk",
            (
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * 2.2)
                / (
                    F.col("tf")
                    + 1.2
                    * (
                        0.25
                        + 0.75
                        * F.col("dlen")
                        / (
                            F.col("total_len").cast("double")
                            / F.col("n_docs")
                        )
                    )
                )
            ).alias("s"),
        )
    )
    pivoted = terms.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("rnk") == i, F.col("s"))), F.lit(0.0)
            ).alias(f"s{i}")
            for i in (1, 2, 3)
        ]
    )
    return (
        pivoted.select(
            "doc_id",
            F.floor(
                (F.col("s1") + F.col("s2") + F.col("s3")) * 1000000
            )
            .cast("bigint")
            .alias("bm25_micro"),
        )
        .orderBy(F.col("bm25_micro").desc(), "doc_id")
        .limit(10)
    )


@REGISTRY.register(
    "q_keyphrases",
    tags=("llm", "text"),
    oracle="""
WITH grams AS MATERIALIZED (
  SELECT source,
         unnest(list_distinct(list_transform(
           generate_series(1, len(string_split(text,' ')) - 1),
           i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
         ))) AS g
  FROM documents WHERE len(string_split(text,' ')) >= 2
), src_counts AS MATERIALIZED (
  SELECT source, g, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY source, g
), src_tot AS MATERIALIZED (
  SELECT source, CAST(SUM(n) AS BIGINT) AS tot FROM src_counts GROUP BY source
), corpus_counts AS MATERIALIZED (
  SELECT g, CAST(SUM(n) AS BIGINT) AS cn FROM src_counts GROUP BY g
), corpus_tot AS MATERIALIZED (
  SELECT CAST(SUM(cn) AS BIGINT) AS ctot FROM corpus_counts
), scored AS MATERIALIZED (
  SELECT s.source, s.g, s.n,
         CAST(FLOOR((CAST(s.n AS DOUBLE) / st.tot)
                    / (CAST(c.cn AS DOUBLE) / ct.ctot) * 1000000) AS BIGINT)
           AS lift_micro
  FROM src_counts s
  JOIN src_tot st ON s.source = st.source
  JOIN corpus_counts c ON s.g = c.g
  CROSS JOIN corpus_tot ct
  WHERE s.n >= 5
)
SELECT source, g AS phrase, n, lift_micro FROM (
  SELECT source, g, n, lift_micro,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY lift_micro DESC, g) AS rn
  FROM scored
) WHERE rn <= 3
""",
)
def q_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive keyphrases per source: the top-3 word bigrams by
    LIFT (in-source document rate over corpus rate, min support 5
    source-docs — sources are 25 docs each on these fixtures) — the
    source-characterization readout a corpus curator scans before
    weighting a mixture (complements q_word_pmi's global collocations
    with per-source distinctiveness).

    Two gram-keyed aggregations (source counts roll up to corpus
    counts — partial reuse), marginals broadcast back, lift floored to
    micro from exact integer rates, and top-3 via a per-source window
    over support-filtered candidates only."""
    c = catalog(spark, sf_dir)
    from catenae_kafka_spark.operators.llm_dedup import word_bigrams

    grams = (
        c.documents.select("source", word_bigrams(F.col("text")).alias("bg"))
        .filter(F.size("bg") > 0)
        .select("source", F.explode("bg").alias("g"))
    )
    src_counts = grams.groupBy("source", "g").agg(F.count("*").alias("n"))
    src_tot = src_counts.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("tot")
    )
    corpus_counts = src_counts.groupBy("g").agg(
        F.sum("n").cast("bigint").alias("cn")
    )
    corpus_tot = corpus_counts.agg(F.sum("cn").cast("bigint").alias("ctot"))
    scored = (
        src_counts.filter(F.col("n") >= 5)
        .join(F.broadcast(src_tot), "source")
        .join(corpus_counts, "g")
        .crossJoin(F.broadcast(corpus_tot))
        .select(
            "source",
            "g",
            "n",
            F.floor(
                (F.col("n").cast("double") / F.col("tot"))
                / (F.col("cn").cast("double") / F.col("ctot"))
                * 1000000
            )
            .cast("bigint")
            .alias("lift_micro"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.col("lift_micro").desc(), "g")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("source", F.col("g").alias("phrase"), "n", "lift_micro")
    )


@REGISTRY.register(
    "q_lang_tvd",
    tags=("llm", "text", "drift"),
    oracle="""
WITH w AS (
  SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents
), wc AS (
  SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS c
  FROM w WHERE word <> '' GROUP BY lang, word
), n AS (
  SELECT lang, CAST(SUM(c) AS BIGINT) AS nw FROM wc GROUP BY lang
), p AS (
  SELECT a.lang AS la, b.lang AS lb, a.nw AS na, b.nw AS nb
  FROM n a JOIN n b ON a.lang < b.lang
), t AS (
  SELECT p.la, p.lb, p.na, p.nb, wc.word,
         CAST(SUM(CASE WHEN wc.lang = p.la THEN wc.c ELSE 0 END) AS BIGINT)
           AS ca,
         CAST(SUM(CASE WHEN wc.lang = p.lb THEN wc.c ELSE 0 END) AS BIGINT)
           AS cb
  FROM p JOIN wc ON wc.lang IN (p.la, p.lb)
  GROUP BY p.la, p.lb, p.na, p.nb, wc.word
)
SELECT la, lb,
       (CAST(SUM(ABS(ca * nb - cb * na)) AS BIGINT) * 1000000)
         // (2 * na * nb) AS tvd_micro
FROM t GROUP BY la, lb, na, nb
""",
)
def q_lang_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise total-variation distance between per-language word
    distributions: TVD(P,Q) = 1/2 * sum_w |P(w) - Q(w)| — the
    log-free corpus-drift / domain-shift metric (complements the
    entropy and perplexity signals, which need transcendental
    functions and so can't be hash-oracled).

    Exact: with common denominators, 2*na*nb*TVD =
    sum_w |ca*nb - cb*na| is pure BIGINT; the floor-division
    micro-unit output hash-matches with zero tolerance (safe while
    per-word count x corpus size < 2^63 — beyond that, TVD over
    per-mille quantized frequencies).

    Scale shape: one (lang, word) count shuffle; the k(k-1)/2
    language-pair table is BROADCAST against the sparse count table
    (each count row fans out to only the k-1 pairs containing its
    language — absent words contribute via the other side's count, so
    no dense vocab x pair cross join); final agg is keyed by pair."""
    c0 = catalog(spark, sf_dir)
    wc = (
        c0.documents.select(
            "lang", F.explode(F.split("text", " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("lang", "word")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    n = wc.groupBy("lang").agg(F.sum("c").cast("bigint").alias("nw"))
    a = n.select(
        F.col("lang").alias("la"), F.col("nw").alias("na")
    )
    b = n.select(F.col("lang").alias("lb"), F.col("nw").alias("nb"))
    pairs = a.join(b, F.col("la") < F.col("lb"))
    t = (
        wc.join(
            F.broadcast(pairs),
            (F.col("lang") == F.col("la")) | (F.col("lang") == F.col("lb")),
        )
        .groupBy("la", "lb", "na", "nb", "word")
        .agg(
            F.sum(F.when(F.col("lang") == F.col("la"), F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("ca"),
            F.sum(F.when(F.col("lang") == F.col("lb"), F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("cb"),
        )
    )
    return (
        t.groupBy("la", "lb", "na", "nb")
        .agg(
            F.sum(F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na")))
            .cast("bigint")
            .alias("_num")
        )
        .select(
            "la",
            "lb",
            F.expr("(_num * 1000000) div (2 * na * nb)").alias("tvd_micro"),
        )
    )


@REGISTRY.register(
    "q_langid_confusion",
    tags=("llm", "text", "evaluation"),
    oracle="""
WITH counted AS (
  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
), prof0 AS (
  SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS n
  FROM counted WHERE word <> '' GROUP BY lang, word
), profile AS (
  SELECT lang AS cand_lang, word FROM (
    SELECT lang, word,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, word) AS rnk
    FROM prof0
  ) WHERE rnk <= 10
), doc_words AS (
  SELECT doc_id, lang AS true_lang,
         unnest(list_distinct(string_split(text, ' '))) AS word
  FROM documents
), overlap AS (
  SELECT dw.doc_id, dw.true_lang, p.cand_lang,
         CAST(COUNT(*) AS BIGINT) AS hits
  FROM doc_words dw JOIN profile p ON dw.word = p.word
  GROUP BY dw.doc_id, dw.true_lang, p.cand_lang
), pred AS (
  SELECT doc_id, true_lang, cand_lang AS pred_lang FROM (
    SELECT doc_id, true_lang, cand_lang,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY hits DESC, cand_lang) AS rnk
    FROM overlap
  ) WHERE rnk = 1
)
SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
FROM pred GROUP BY true_lang, pred_lang
""",
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the q_lang_id classifier: (true language,
    predicted language) counts — the evaluation artifact that turns "we
    have a language-ID heuristic" into "here is exactly where it
    confuses es with fr", which decides whether the heuristic is safe
    to gate corpus routing on. Same profile construction and total
    argmax tie-break as q_lang_id, so the two can never disagree.

    Scale shape: identical to q_lang_id (broadcast 50-row profile, one
    doc-keyed argmax) plus a tiny |langs|^2 rollup."""
    c = catalog(spark, sf_dir)
    docs = c.documents
    w = docs.select("lang", F.explode(F.split("text", " ")).alias("word"))
    counted = (
        w.filter(F.col("word") != "")
        .groupBy("lang", "word")
        .agg(F.count("*").alias("n"))
    )
    win = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("word"))
    profile = (
        counted.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= 10)
        .select(F.col("lang").alias("cand_lang"), "word")
    )
    doc_words = docs.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        F.explode(F.array_distinct(F.split("text", " "))).alias("word"),
    )
    overlap = (
        doc_words.join(F.broadcast(profile), "word")
        .groupBy("doc_id", "true_lang", "cand_lang")
        .agg(F.count("*").alias("hits"))
    )
    best_w = Window.partitionBy("doc_id").orderBy(
        F.col("hits").desc(), F.col("cand_lang")
    )
    pred = (
        overlap.withColumn("rnk", F.row_number().over(best_w))
        .filter(F.col("rnk") == 1)
        .select("true_lang", F.col("cand_lang").alias("pred_lang"))
    )
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count("*").cast("bigint").alias("n")
    )


@REGISTRY.register(
    "q_self_bleu_lite",
    tags=("llm", "text", "generation-eval"),
    oracle="""
WITH grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(string_split(text, ' ')) - 1),
           i -> string_split(text, ' ')[i] || ' '
                || string_split(text, ' ')[i + 1])) AS bg
  FROM documents WHERE len(string_split(text, ' ')) >= 2
), pairs AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb, a.bg AS ba, b.bg AS bb
  FROM grams a JOIN grams b
    ON b.doc_id = a.doc_id + 7 AND a.doc_id % 5 = 0
), scored AS (
  SELECT (len(list_intersect(ba, bb)) * 1000000) // len(ba) AS prec_micro
  FROM pairs WHERE len(ba) > 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(prec_micro) AS BIGINT) // COUNT(*) AS self_bleu2_micro,
       CAST(MAX(prec_micro) AS BIGINT) AS max_pair_micro
FROM scored
""",
)
def q_self_bleu_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-BLEU (bigram precision flavor) over a deterministic pair
    sample: how much does the corpus repeat ITSELF — the generation-
    diversity metric for synthetic/model-written data (high Self-BLEU
    = mode collapse; a dedup'd human corpus sits low). Pairs are the
    fixed (doc_id, doc_id+7) lattice over every 5th doc — a
    deterministic sample, so the metric is rerun-stable and
    hash-checked (sampling pairs is standard; all-pairs Self-BLEU is
    quadratic and adds nothing).

    Exact: distinct-bigram set intersections over integer micro
    precision, floor-mean.

    Scale shape: the pair lattice is an equi-join on doc_id+7 (no
    cross join); bigram sets are map-side."""
    c = catalog(spark, sf_dir)
    from catenae_kafka_spark.operators.llm_dedup import word_bigrams

    grams = c.documents.filter(
        F.size(F.split("text", " ")) >= 2
    ).select("doc_id", word_bigrams(F.col("text")).alias("bg"))
    a = grams.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("ida"), F.col("bg").alias("ba")
    )
    b = grams.select((F.col("doc_id") - 7).alias("match_id"), F.col("bg").alias("bb"))
    pairs = a.join(b, F.col("ida") == F.col("match_id"))
    scored = pairs.filter(F.size("ba") > 0).select(
        F.expr(
            "(size(array_intersect(ba, bb)) * 1000000) div size(ba)"
        ).alias("prec_micro")
    )
    return scored.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.expr("sum(prec_micro) div count(*)").alias("self_bleu2_micro"),
        F.max("prec_micro").cast("bigint").alias("max_pair_micro"),
    )


@REGISTRY.register(
    "q_perplexity_buckets",
    tags=("llm", "text", "quality"),
    oracle="""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
  FROM documents
), vocab AS MATERIALIZED (
  SELECT word, COUNT(*) AS cw FROM toks GROUP BY word
), n AS (
  SELECT COUNT(*) AS total FROM toks
), ppl AS MATERIALIZED (
  SELECT doc_id, any_value(lang) AS lang,
         CAST(ROUND(ROUND(exp((-SUM(ln(cw * 1.0 / total)) / COUNT(*))), 4)
                    * 10000) AS BIGINT) AS ppl_e4
  FROM toks JOIN vocab USING (word) CROSS JOIN n
  GROUP BY doc_id
), bucketed AS (
  SELECT lang, ppl_e4,
         NTILE(3) OVER (PARTITION BY lang ORDER BY ppl_e4, doc_id) AS bucket
  FROM ppl
)
SELECT lang, bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ppl_e4) AS BIGINT) AS sum_ppl_e4,
       CAST(FLOOR(CAST(SUM(ppl_e4) AS DOUBLE) / COUNT(*)) AS BIGINT)
         AS mean_ppl_e4
FROM bucketed GROUP BY lang, bucket
""",
)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: score every document under the
    corpus unigram LM (q_doc_perplexity's signal), then split each
    language into head/middle/tail terciles by perplexity — the
    standard corpus-quality partition (CCNet trains on "head", audits
    "tail"). Output: per (lang, bucket) doc count + summed/mean score.

    Cross-engine determinism: the tercile boundary is a rank cut, so
    the ORDER inside each language must be identical on both engines.
    Raw double perplexities could differ in the last ulp (per-doc SUM
    of logs is order-sensitive), so the sort key is the 4dp-ROUNDed
    score lifted to integer e4 units (the exact value q_doc_perplexity
    already hash-verifies cross-engine), tie-broken by doc_id — a total
    order both engines agree on. NTILE(3) follows the SQL-standard
    "first buckets take the remainder" rule in both engines; bucket
    means use exact integer sums with explicit FLOOR division.

    Scale shape: vocab table is bounded and broadcast back onto the
    token stream (two passes over tokens, zero Python); the ntile
    window partitions BY LANGUAGE — at 100 TB swap the exact ntile for
    approx_percentile boundaries per language (documented trade: the
    rank cut becomes approximate, the shuffle per language disappears)."""
    c = catalog(spark, sf_dir)
    toks = c.documents.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("word")
    )
    vocab = toks.groupBy("word").agg(F.count("*").alias("cw"))
    total = toks.agg(F.count("*").alias("total"))
    logp = F.log(F.col("cw") * 1.0 / F.col("total"))
    ppl = (
        toks.join(F.broadcast(vocab), "word")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.first("lang").alias("lang"),
            F.round(
                F.round(F.exp(-F.sum(logp) / F.count("*")), 4) * 10000
            )
            .cast("bigint")
            .alias("ppl_e4"),
        )
    )
    w = Window.partitionBy("lang").orderBy("ppl_e4", "doc_id")
    bucketed = ppl.select(
        "lang", "ppl_e4", F.ntile(3).over(w).alias("bucket")
    )
    return bucketed.groupBy("lang", "bucket").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("ppl_e4").cast("bigint").alias("sum_ppl_e4"),
        F.floor(F.sum("ppl_e4").cast("double") / F.count("*"))
        .cast("bigint")
        .alias("mean_ppl_e4"),
    )


@REGISTRY.register(
    "q_quality_gopher",
    tags=("llm", "text", "quality"),
    oracle="""
WITH per_doc AS MATERIALIZED (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
), feats AS MATERIALIZED (
  SELECT doc_id, lang,
         len(toks) AS n_words,
         list_sum(list_transform(toks, w -> len(w))) * 1.0 / len(toks)
           AS mean_wlen,
         1.0 - len(list_distinct(list_transform(
                 generate_series(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1]))) * 1.0
               / greatest(len(toks) - 1, 1) AS dup_bigram_frac,
         (SELECT MAX(cnt) FROM (
            SELECT COUNT(*) AS cnt FROM unnest(toks) AS u(w) GROUP BY w))
           * 1.0 / len(toks) AS top_word_frac,
         len(list_filter(toks, w -> w IN ('the','a','of','to','and','in')))
           AS n_stop
  FROM per_doc
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (n_words < 20) AS BIGINT) AS fail_len,
       CAST(COUNT(*) FILTER (mean_wlen < 3 OR mean_wlen > 10) AS BIGINT)
         AS fail_wlen,
       CAST(COUNT(*) FILTER (dup_bigram_frac > 0.2) AS BIGINT) AS fail_rep,
       CAST(COUNT(*) FILTER (top_word_frac > 0.2) AS BIGINT) AS fail_topword,
       CAST(COUNT(*) FILTER (n_stop < 2) AS BIGINT) AS fail_stop,
       CAST(COUNT(*) FILTER (n_words >= 20 AND mean_wlen >= 3
             AND mean_wlen <= 10 AND dup_bigram_frac <= 0.2
             AND top_word_frac <= 0.2 AND n_stop >= 2) AS BIGINT) AS n_pass
FROM feats GROUP BY lang
""",
)
def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality FILTER CENSUS (Rae et al. 2021
    Appendix A): per language, how many documents fail each hard rule —
    min word count, mean-word-length band [3,10], duplicate-bigram
    fraction <= 0.2, most-common-word share <= 0.2, >= 2 stopwords —
    and how many pass all five. Differs from q_text_quality (a soft
    composite score) in semantics: these are the hard REJECTIONS a
    pipeline applies before any scoring, and the per-rule failure
    breakdown is what its quality dashboard reports. Rules that never
    fire on this fixture (word-length, repetition) are kept at their
    published thresholds — a zero count is a finding, not dead code.

    Scale shape: every feature is a per-row ARRAY expression (JVM
    higher-order functions — transform/filter/array_distinct; the
    top-word share scans the doc's own distinct tokens in place, d*n
    per row, bounded by doc length) — zero explodes, zero joins; the
    only shuffle is the 5-row-per-language census aggregate."""
    c = catalog(spark, sf_dir)
    toks = F.split(F.col("text"), " ")

    # Every feature references the token array many times from inside
    # HOF lambdas (the top-word share is a d×n nested scan), and an
    # inlined ``split`` re-runs once per reference — bind it to a
    # lambda variable so it's evaluated once per row, and project the
    # feature struct in its own SELECT so downstream field extraction
    # doesn't re-inline it (functions/hof.bind — optimization r12;
    # measured 3.4 s → 0.7 s at sf0.1, identical output).
    def _feats_of(t):
        n_words = F.size(t)
        mean_wlen = (
            F.aggregate(
                F.transform(t, lambda w: F.length(w)),
                F.lit(0),
                lambda acc, x: acc + x,
            )
            * 1.0
            / n_words
        )
        # guard: sequence(1, n<=0) is DESCENDING in Spark (the oracle's
        # generate_series is empty) — a 1-token doc has no bigrams and a
        # dup fraction pinned at 1.0 - 0/1 = 1.0 on both engines
        bigrams_raw = F.transform(
            F.sequence(F.lit(1), F.greatest(n_words - 1, F.lit(1))),
            lambda i: F.concat_ws(
                " ", F.try_element_at(t, i), F.try_element_at(t, i + 1)
            ),
        )
        bigrams = F.when(n_words >= 2, bigrams_raw).otherwise(
            F.expr("CAST(array() AS array<string>)")
        )
        dup_bigram_frac = 1.0 - F.size(F.array_distinct(bigrams)) * 1.0 / (
            F.greatest(n_words - 1, F.lit(1))
        )
        top_word_frac = (
            F.array_max(
                F.transform(
                    F.array_distinct(t),
                    lambda w: F.size(F.filter(t, lambda x: x == w)),
                )
            )
            * 1.0
            / n_words
        )
        n_stop = F.size(
            F.filter(
                t,
                lambda w: w.isin("the", "a", "of", "to", "and", "in"),
            )
        )
        return F.struct(
            n_words.alias("n_words"),
            mean_wlen.alias("mean_wlen"),
            dup_bigram_frac.alias("dup_bigram_frac"),
            top_word_frac.alias("top_word_frac"),
            n_stop.alias("n_stop"),
        )

    feats = c.documents.select(
        "lang", bind(toks, _feats_of).alias("_f")
    ).select(
        "lang",
        "_f.n_words",
        "_f.mean_wlen",
        "_f.dup_bigram_frac",
        "_f.top_word_frac",
        "_f.n_stop",
    )
    ok = (
        (F.col("n_words") >= 20)
        & (F.col("mean_wlen") >= 3)
        & (F.col("mean_wlen") <= 10)
        & (F.col("dup_bigram_frac") <= 0.2)
        & (F.col("top_word_frac") <= 0.2)
        & (F.col("n_stop") >= 2)
    )

    def fails(cond) -> "F.Column":
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    return feats.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        fails(F.col("n_words") < 20).alias("fail_len"),
        fails(
            (F.col("mean_wlen") < 3) | (F.col("mean_wlen") > 10)
        ).alias("fail_wlen"),
        fails(F.col("dup_bigram_frac") > 0.2).alias("fail_rep"),
        fails(F.col("top_word_frac") > 0.2).alias("fail_topword"),
        fails(F.col("n_stop") < 2).alias("fail_stop"),
        fails(ok).alias("n_pass"),
    )


@REGISTRY.register(
    "q_heaps_law",
    tags=("llm", "text", "stats"),
    oracle="""
WITH docs AS MATERIALIZED (
  SELECT doc_id + 1 AS rk, string_split(text, ' ') AS toks FROM documents
), grams AS MATERIALIZED (
  SELECT rk, toks[i] || ' ' || toks[i+1] AS g
  FROM docs, unnest(generate_series(1, len(toks) - 1)) AS t(i)
), n AS (SELECT COUNT(*) AS n_docs FROM docs),
first_seen AS MATERIALIZED (
  SELECT g, MIN(rk) AS first_rk FROM grams GROUP BY g
), doc_tokens AS MATERIALIZED (
  SELECT rk, len(toks) - 1 AS n_gram FROM docs
), ck AS (
  SELECT k, CAST(FLOOR(n_docs * k / 10.0) AS BIGINT) AS cutoff
  FROM n, unnest(generate_series(1, 10)) AS gg(k)
), curve AS MATERIALIZED (
  SELECT k, cutoff,
         (SELECT CAST(SUM(n_gram) AS BIGINT) FROM doc_tokens
          WHERE rk <= cutoff) AS grams_cum,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM first_seen
          WHERE first_rk <= cutoff) AS vocab_cum
  FROM ck
), fit AS (
  -- integer micro-unit OLS: quantize each ln term, sum in BIGINT
  -- (order-independent), divide once — mirrors the Spark side op-for-op
  SELECT FLOOR(CAST(COUNT(*) * SUM(lxu*lyu) - SUM(lxu)*SUM(lyu) AS DOUBLE)
               / CAST(COUNT(*) * SUM(lxu*lxu) - SUM(lxu)*SUM(lxu) AS DOUBLE)
               * 1000000 + 0.5) / 1000000 AS heaps_beta
  -- NULLIF: an empty corpus has vocab_cum = 0 at every checkpoint
  -- and DuckDB's ln(0) RAISES (not -inf); Spark's ln(0) is NULL, so
  -- NULLIF makes both sides skip the undefined points identically
  FROM (SELECT CAST(FLOOR(ln(NULLIF(grams_cum, 0)) * 1000000 + 0.5)
                    AS BIGINT) AS lxu,
               CAST(FLOOR(ln(NULLIF(vocab_cum, 0)) * 1000000 + 0.5)
                    AS BIGINT) AS lyu
        FROM curve)
)
SELECT k, cutoff AS n_docs_cum, grams_cum, vocab_cum, heaps_beta
FROM curve CROSS JOIN fit
""",
)
def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: cumulative distinct BIGRAM
    vocabulary at 10 corpus checkpoints plus the fitted growth exponent
    (OLS slope of ln(vocab) on ln(tokens) — Heaps V = K*n^beta). The
    standard corpus-health diagnostic: natural text grows beta~0.5;
    this fixture's 31-word closed vocabulary saturates its UNIGRAM
    vocab inside the first decile, so the curve runs on bigrams (851 ->
    916 across deciles), and the measured near-zero beta IS the correct
    diagnosis of synthetic uniform text. doc_id is the fixture's
    arrival order (contiguous from 0), so rank = doc_id + 1 with no
    global sort; at scale the rank is any monotone ingest id.

    Scale shape: NO cumulative window over the corpus — each
    checkpoint is an independent bounded aggregate: per-word first-rank
    (vocab-sized) and per-doc token counts (doc-level rollup) non-equi
    join onto a broadcast 10-row constant cutoff spine (x10 bounded
    fan-out, map-side), then group by k. The 10 checkpoint aggregates
    parallelize perfectly; nothing ever single-partitions."""
    c = catalog(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    # guard: sequence(1, n<=0) is DESCENDING in Spark (the oracle's
    # generate_series is empty) — a 1-token doc contributes no bigrams
    # and n_gram = 0, matching the oracle's len(toks) - 1.
    # bind: split evaluated once per row, not once per lambda reference
    # (functions/hof.bind — optimization r12)
    bigrams_raw = bind(
        toks,
        lambda t: F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(t) - 1, F.lit(1))),
            lambda i: F.concat_ws(
                " ", F.try_element_at(t, i), F.try_element_at(t, i + 1)
            ),
        ),
    )
    bigrams = F.when(F.size(toks) >= 2, bigrams_raw).otherwise(
        F.expr("CAST(array() AS array<string>)")
    )
    docs = c.documents.select(
        (F.col("doc_id") + 1).alias("rk"), bigrams.alias("grams")
    )
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    spine = (
        spark.range(1, 11)
        .withColumnRenamed("id", "k")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "k",
            F.floor(F.col("n_docs") * F.col("k") / 10.0)
            .cast("bigint")
            .alias("cutoff"),
        )
    )
    first_seen = (
        docs.select("rk", F.explode("grams").alias("g"))
        .groupBy("g")
        .agg(F.min("rk").alias("first_rk"))
    )
    doc_tokens = docs.select("rk", F.size("grams").alias("n_gram"))
    grams_cum = (
        doc_tokens.join(
            F.broadcast(spine), F.col("rk") <= F.col("cutoff")
        )
        .groupBy("k")
        .agg(F.sum("n_gram").cast("bigint").alias("grams_cum"))
    )
    vocab_cum = (
        first_seen.join(
            F.broadcast(spine), F.col("first_rk") <= F.col("cutoff")
        )
        .groupBy("k")
        .agg(F.count("*").cast("bigint").alias("vocab_cum"))
    )
    # re-attach the aggregates to the full 10-row spine: a checkpoint
    # with cutoff 0 (empty or <10-doc corpus) has no joined rows, and
    # the inner-join-only form dropped its row entirely where the
    # oracle's scalar subqueries keep it with NULL cumulatives
    # (empty-fixture fuzz). Both agg outputs are <=10 rows, so the
    # left joins are trivial.
    # vocab_cum coalesces to 0 (the oracle's scalar COUNT(*) is 0 over
    # no rows) while grams_cum stays NULL (scalar SUM over no rows)
    curve = (
        spine.join(grams_cum, "k", "left")
        .join(vocab_cum, "k", "left")
        .withColumn("vocab_cum", F.coalesce("vocab_cum", F.lit(0).cast("bigint")))
    )
    # OLS slope from INTEGER micro-unit sums: ln() per row is one IEEE
    # op on identical BIGINTs (portable), but a float SUM of the ln
    # terms is aggregation-order-dependent — quantize each term to
    # micro-units first so the sums are exact BIGINTs in any order,
    # then divide once (the q_embed_centroids discipline). Slope is
    # invariant to scaling both axes by 1e6, so beta is unchanged up
    # to the 1e-6 quantization of each ln term.
    lxu = half_up(F.log(F.col("grams_cum")), 1e6)
    lyu = half_up(F.log(F.col("vocab_cum")), 1e6)
    fit = (
        curve.agg(
            F.count("*").alias("_n"),
            F.sum(lxu * lyu).alias("_sxy"),
            F.sum(lxu).alias("_sx"),
            F.sum(lyu).alias("_sy"),
            F.sum(lxu * lxu).alias("_sxx"),
        )
        .select(
            # try_divide: a corpus whose grams_cum is the same at every
            # checkpoint has a zero denominator; the oracle's x / 0.0
            # is NULL, so the slope is NULL instead of DIVIDE_BY_ZERO
            (
                half_up(
                    F.try_divide(
                        (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
                        .cast("double"),
                        (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx"))
                        .cast("double"),
                    ),
                    1e6,
                )
                / 1e6
            ).alias("heaps_beta")
        )
    )
    return curve.crossJoin(F.broadcast(fit)).select(
        "k",
        F.col("cutoff").alias("n_docs_cum"),
        "grams_cum",
        "vocab_cum",
        "heaps_beta",
    )


@REGISTRY.register(
    "q_winnowing_fingerprint",
    tags=("llm", "text", "dedup"),
    oracle="""
WITH docs AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), kg AS MATERIALIZED (
  SELECT doc_id, len(toks) - 2 AS n_kg, i,
         list_reduce(
           [CAST(0 AS BIGINT)] ||
             list_transform(
               string_split(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2],
                            ''),
               ch -> CAST(ascii(ch) AS BIGINT)),
           (acc, x) -> (acc * 31 + x) % 2147483647
         ) AS h
  FROM docs, unnest(generate_series(1, len(toks) - 2)) AS t(i)
), wins AS MATERIALIZED (
  SELECT doc_id, n_kg, i - o AS j, i, h
  FROM kg, unnest(generate_series(0, 3)) AS t(o)
  WHERE i - o >= 1 AND i - o <= n_kg - 3
), sel AS MATERIALIZED (
  SELECT DISTINCT doc_id, n_kg, i
  FROM (SELECT doc_id, n_kg, j, i,
               ROW_NUMBER() OVER (PARTITION BY doc_id, j
                                  ORDER BY h, i DESC) AS rn
        FROM wins)
  WHERE rn = 1
)
SELECT doc_id,
       CAST(MAX(n_kg) AS BIGINT) AS n_kgrams,
       CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
       CAST(FLOOR(COUNT(*) * 1000000.0 / MAX(n_kg) + 0.5) AS BIGINT)
         AS density_ppm
FROM sel GROUP BY doc_id
""",
)
def q_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): hash every 3-token k-gram with the repo's
    polynomial char hash (q_doc_fingerprint's rolling-hash core), then
    from every window of w=4 consecutive k-gram hashes keep the
    minimum (rightmost on ties); the distinct selected positions are
    the document's fingerprint set. Guarantees any shared substring of
    length >= w+k-1 tokens contributes a shared fingerprint — the
    position-robust property plain every-Nth sampling lacks. Per-doc
    census out: k-grams, fingerprints kept, selection density (theory:
    2/(w+1) = 400000 ppm for random hashes).

    Scale shape: the window structure needs NO window function —
    each k-gram replicates to the <= w windows covering it (a constant
    x4 map-side fan-out), then one groupBy(doc, window) picks the
    rightmost-min via min_by over a (hash, -position) struct, and the
    census groups by doc. All shuffle keys are (doc_id, ...) —
    embarrassingly parallel across documents at any corpus size."""
    c = catalog(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    n_kg = F.size(toks) - 2
    # guard: sequence(1, n<=0) is DESCENDING in Spark (the oracle's
    # generate_series is empty) — sub-3-token docs have no k-grams
    positions = F.when(
        F.size(toks) >= 3, F.sequence(F.lit(1), n_kg)
    ).otherwise(F.expr("CAST(array() AS array<int>)"))
    kg = c.documents.select(
        "doc_id",
        n_kg.alias("n_kg"),
        F.explode(positions).alias("i"),
        toks.alias("_toks"),
    ).select(
        "doc_id",
        "n_kg",
        "i",
        F.aggregate(
            F.split(
                F.concat_ws(
                    " ",
                    F.try_element_at(F.col("_toks"), F.col("i")),
                    F.try_element_at(F.col("_toks"), F.col("i") + 1),
                    F.try_element_at(F.col("_toks"), F.col("i") + 2),
                ),
                "",
            ),
            F.lit(0).cast("long"),
            lambda acc, ch: (acc * 31 + F.ascii(ch)) % 2147483647,
        ).alias("h"),
    )
    wins = (
        kg.select(
            "doc_id",
            "n_kg",
            "i",
            "h",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("o"),
        )
        .withColumn("j", F.col("i") - F.col("o"))
        .filter((F.col("j") >= 1) & (F.col("j") <= F.col("n_kg") - 3))
    )
    sel = (
        wins.groupBy("doc_id", "j")
        .agg(
            F.max("n_kg").alias("n_kg"),
            F.min_by(
                "i", F.struct(F.col("h"), (-F.col("i")).alias("ni"))
            ).alias("i"),
        )
        .select("doc_id", "n_kg", "i")
        .distinct()
    )
    return sel.groupBy("doc_id").agg(
        F.max("n_kg").cast("bigint").alias("n_kgrams"),
        F.count("*").cast("bigint").alias("n_fingerprints"),
        half_up(F.count("*") * 1000000.0 / F.max("n_kg")).alias("density_ppm"),
    )
