"""Deduplication operators for LLM training-data pipelines.

Five dedup families (north star / BASELINE.json): exact hash, canonical
(normalized) exact, MinHash+LSH banding, SimHash, n-gram Jaccard, and
embedding-cosine near-dup. All are pure DataFrame compositions — no
Python UDFs in any hot path.

Scale posture (the whole point of these):

- exact/canonical dedup: one hash-groupBy shuffle; the hash (sha2) is
  computed map-side so the shuffle carries 32 bytes, not documents.
- MinHash/LSH: signature computation is per-row (map-only); banding
  explodes each doc into `bands` rows and shuffles by (band, band_hash)
  — candidate generation is linear in corpus size, never all-pairs.
  The only pairwise work happens inside buckets (skew-guarded by AQE).
- SimHash: explode-tokens + 16 conditional sums per doc = one shuffle.
- n-gram Jaccard: EXACT prefix-filter candidate generation
  (AllPairs/PPJoin) — recall provably 1.0, candidate volume bounded by
  rare-prefix-token collisions, never corpus-per-block quadratic.
- embedding-cosine: multi-table hyperplane-LSH bucketed candidates
  (llm_similarity.lsh_candidate_pairs) + exact cosine on candidates;
  recall vs the all-pairs ground truth asserted in tests.
- fuzzy levenshtein: exact length-bucket prefilter (dist<=3 ⇒
  |Δlen|<=3) inside brand blocks.

This data (FIXTURES.md): 500–5000 docs over a 31-word vocabulary, no
exact text dupes but many permuted near-dups (same token set), random
embeddings (max cosine ≈0.51) — thresholds below are set to exercise
real matches on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from catenae_kafka_spark.catalog import catalog
from catenae_kafka_spark.functions.compat import half_up
from catenae_kafka_spark.functions.hof import bind
from catenae_kafka_spark.functions.ident import quote_ident as _quote_ident
from catenae_kafka_spark.operators.checkpointing import make_checkpointer, past_gate
from catenae_kafka_spark.registry import REGISTRY

HEX_HIGH = ("8", "9", "a", "b", "c", "d", "e", "f")

# The cluster chain (q_dedup_ngram_jaccard -> q_dedup_clusters ->
# q_dedup_apply) shares its expensive stages: candidate pairs feed the
# component labels feed the apply report. Run as three separate driver
# queries, the un-memoized chain recomputes the pair pipeline 3x and the
# iterative CC loop 2x — the round-2 slow tail under host contention.
# Memoize the shared DataFrames per (SparkContext, sf_dir), persisted:
# both tables are pair-graph-sized (KBs here; still tiny next to the
# corpus at 100 TB, where this is the standard "materialize the cluster
# table once" step of a dedup job).
_MEMO: dict[tuple[int, str, str], DataFrame] = {}


def _memo(spark: SparkSession, sf_dir: str, key: str, build) -> DataFrame:
    k = (id(spark.sparkContext), sf_dir, key)
    if k not in _MEMO:
        _MEMO[k] = build().persist()
    return _MEMO[k]


@REGISTRY.register(
    "q_dedup_exact",
    tags=("llm", "dedup"),
    oracle="""
SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents
GROUP BY text
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: group on sha2(text) (the shuffle
    carries the 64-hex digest, not the document), keep the smallest
    doc_id per group. Oracle groups by the text itself — identical
    semantics assuming no sha256 collisions."""
    c = catalog(spark, sf_dir)
    return (
        c.documents.groupBy(F.sha2(F.col("text"), 256).alias("_h"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .drop("_h")
    )


@REGISTRY.register(
    "q_dedup_canonical",
    tags=("llm", "dedup"),
    oracle="""
SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents
GROUP BY array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')
HAVING COUNT(*) > 1
""",
)
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exact dedup: canonicalize to the sorted distinct token
    set before hashing — catches permuted/repeated-word copies (the
    common crawl-dedup normalization step). Only groups with real
    duplicates are returned."""
    c = catalog(spark, sf_dir)
    sig = F.sha2(
        F.array_join(F.array_sort(F.array_distinct(F.split(F.col("text"), " "))), " "),
        256,
    )
    return (
        c.documents.groupBy(sig.alias("_sig"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
        .drop("_sig")
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_len: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature over word shingles.

    Shape: shingle once → explode → one row per (doc, shingle) with
    num_hashes plain xxhash64 columns → groupBy(doc).min per hash
    (partial aggregation map-side) → repack as an array.

    NOT the nested-higher-order-function form
    (array(array_min(transform(shingles, hash_h)) for h ...)): that
    builds a 64-lambda mega-projection that falls out of whole-stage
    codegen into interpreted evaluation — measured 200 s vs ~2 s here at
    sf0.1. Flat hash columns + partial agg is also the shape that scales:
    the shuffle carries (id, 64 longs), never shingle arrays.
    """
    # a small single-file parquet table scans as ONE partition; spread
    # rows first or the CPU-heavy shingle/hash expressions run on one
    # core (measured 4× of the whole pipeline's cost at sf0.1). The
    # partition count is explicit because AQE would coalesce a bare
    # repartition(col) of small data straight back to one partition.
    par = docs.sparkSession.sparkContext.defaultParallelism
    # quoted refs for the string-ref contexts below (ADVICE r10/r11:
    # every column-name parameter, not just id_col)
    id_ref = _quote_ident(id_col)
    docs = docs.repartition(par, F.col(id_ref))
    toks = F.split(F.col(_quote_ident(text_col)), " ")

    # try_element_at: docs shorter than shingle_len index past the end;
    # under Spark 4 ANSI mode plain element_at would throw. concat_ws
    # drops the nulls, yielding the doc's full (short) token run.
    #
    # The token array is BOUND to a lambda variable (functions/hof.bind)
    # before the shingle loop references it (optimization r12):
    # referencing the ``split(text)`` expression directly inside the
    # per-position lambda makes Catalyst inline it into every
    # ``try_element_at`` call, re-running the split ~3×n_shingles times
    # per document. Measured 59 s → 6.7 s for the signature pipeline at
    # the 100× bench rung, identical output.
    def _shingles_of(t):
        n_sh = F.greatest(F.size(t) - (shingle_len - 1), F.lit(1))
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_sh),
                lambda i: F.concat_ws(
                    " ", *[F.try_element_at(t, i + k) for k in range(shingle_len)]
                ),
            )
        )

    shingles = bind(toks, _shingles_of)
    base = docs.select(F.col(id_ref), shingles.alias("shingles"))
    exploded = base.select(id_ref, F.explode("shingles").alias("_sh"))
    # The 64-column projections/aggregations are built as parsed SQL
    # expression strings, not composed Column objects (optimization r12,
    # guide §5 — the driver should do almost no [plan-build] work):
    # every F.xxhash64/F.min/F.col/.alias is 1-3 py4j round trips, and
    # the three 64-column listcomps here measured ~4,700 round trips /
    # ~1.0 s of the 1.16 s sf0.1 plan-build — per BENCH REP. selectExpr
    # / F.expr parse the same expressions JVM-side in a handful of
    # calls. Analyzed-plan-identical to the Column-object form (an SQL
    # integer literal and F.lit(int) are both IntegerType), pinned by
    # tests/test_minhash_build_parity.py.
    hashed = exploded.selectExpr(
        id_ref,
        *[f"xxhash64({h}, `_sh`) AS `_h{h}`" for h in range(num_hashes)],
    )
    sig = hashed.groupBy(id_ref).agg(
        *[F.expr(f"min(`_h{h}`) AS `_m{h}`") for h in range(num_hashes)]
    )
    packed = sig.selectExpr(
        id_ref,
        "array(" + ", ".join(f"`_m{h}`" for h in range(num_hashes)) + ") AS sig",
    )
    return base.join(packed, id_col)


#: In-bucket pair generation materializes each LSH bucket's id list in
#: ONE aggregation buffer (collect_list does not spill); a degenerate
#: mega-bucket — e.g. thousands of near-empty docs sharing one shingle —
#: would hold the whole bucket in memory at once (VERDICT r12 #5).
#: Under the skew guard, buckets over this cap are routed through the
#: classic two-sided self-join instead (many rows, no giant buffer,
#: AQE skew-split eligible); the emitted pair set is identical either
#: way. 1024 ids ≈ 8 KB buffer per bucket, and a 1024-doc bucket
#: already yields ~524k pairs — any bigger bucket is better off as
#: join rows.
_LSH_BUCKET_CAP = 1024

#: The guard itself costs ~40% on the candidate stage (measured
#: interleaved at sf0.1: 0.86 → 1.39 s, and the 100× rung: 2.2 → 3.2 s
#: — the bucket-size window sort plus the union's join branch), so it
#: is INPUT-SIZE-ADAPTIVE (guide §2 — scale-adaptive, not a constant):
#: below this estimated-bytes gate the r12 single-aggregation plan runs
#: unguarded, which is provably OOM-safe there — the worst single
#: buffer is every doc id in one bucket, 8-16 B × n_docs ≲ input_bytes
#: / 4 ≤ ~256 MB at the gate — while past the gate (where a mega-bucket
#: buffer could reach executor-heap scale) the guarded plan bounds
#: every buffer at ``_LSH_BUCKET_CAP`` ids. The gate is
#: ``checkpointing.past_gate``: an unknown size fails TOWARD the guard.
_LSH_GUARD_GATE_BYTES = 1 << 30


def minhash_candidate_pairs(
    signed: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
    bucket_cap: int | None = None,
) -> DataFrame:
    """LSH banding: docs agreeing on all rows of any band become a
    candidate pair. Linear explode (bands per doc) + shuffle by bucket;
    pairwise join happens only within buckets.

    16 bands × 4 rows ⇒ candidate threshold (1/b)^(1/r) ≈ 0.5 and miss
    probability ~2e-8 at J≥0.9. Band width matters for skew as much as
    recall: on this corpus (31-word vocabulary) 2-row bands collide so
    often that a few buckets held hundreds of docs and the in-bucket
    pair join went quadratic (192 s at sf0.1); 4-row bands keep buckets
    small (12 s) at the same effective recall.

    ``id_col`` must name the same id column the signatures were built
    with (minhash_signatures' ``id_col``).

    Shape (optimization r12, guide §2.3/§2.4): one shuffle, not a
    two-sided self-join. Each doc explodes to ``bands`` bucket keys —
    the band index is folded INTO the bucket hash (same collision class
    as the per-band row hash the join form compared alongside a band
    column, and every candidate is exact-verified downstream anyway) —
    then buckets group on that single long and pairs are generated
    inside each bucket list. The former a⋈b self-join shuffled the
    exploded table twice (2 × bands × |docs| rows) and re-deduped the
    multi-band matches; this shuffles it once and was measured 2.3 s →
    1.7 s at the 100× bench rung with an identical pair set.

    Skew guard (optimization r13, guide §2.5/§5): when the input is
    past ``_LSH_GUARD_GATE_BYTES`` (or ``bucket_cap`` is passed
    explicitly), bucket sizes are counted with a window over the same
    (one) exchange, and buckets over the cap bypass the collect_list
    path — their pairs come from the two-sided self-join, which
    produces many rows but never a single unbounded aggregation buffer
    (and is AQE-skew-split eligible). Both branches emit exactly the
    per-bucket a<b pairs, so the distinct'd union is the same pair set
    as the uncapped form (pinned by tests/test_llm_ops.py on an
    identical-docs skew fixture). Below the gate the unguarded r12
    single-aggregation plan runs — see the gate constant's docstring
    for why that is memory-safe there and why the guard is not free."""
    guarded = bucket_cap is not None
    if bucket_cap is None and past_gate(signed, _LSH_GUARD_GATE_BYTES):
        guarded = True
        bucket_cap = _LSH_BUCKET_CAP
    bt = _quote_ident(id_col)  # ADVICE r10 — see _quote_ident
    # Built as one parsed SQL expression, not bands×rows composed Column
    # objects — same py4j plan-build discipline (and parity test) as
    # minhash_signatures above.
    band_hashes = ", ".join(
        "xxhash64({b}, {rows})".format(
            b=b,
            rows=", ".join(
                f"element_at(sig, {b * rows_per_band + r + 1})"
                for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    banded = signed.selectExpr(
        f"{bt} AS _cid", f"explode(array({band_hashes})) AS _bh"
    )
    if not guarded:
        buckets = (
            banded.groupBy("_bh")
            .agg(F.collect_list("_cid").alias("_ds"))
            .filter(F.size("_ds") > 1)
        )
        return (
            buckets.select(F.explode("_ds").alias("id_a"), "_ds")
            .select(
                "id_a",
                F.explode(F.filter("_ds", lambda y: y > F.col("id_a"))).alias(
                    "id_b"
                ),
            )
            .distinct()
        )
    counted = banded.select(
        "_cid",
        "_bh",
        F.count("*").over(Window.partitionBy("_bh")).alias("_n"),
    ).filter(F.col("_n") > 1)
    small_pairs = (
        counted.filter(F.col("_n") <= bucket_cap)
        .groupBy("_bh")
        .agg(F.collect_list("_cid").alias("_ds"))
        .select(F.explode("_ds").alias("id_a"), "_ds")
        .select(
            "id_a",
            F.explode(F.filter("_ds", lambda y: y > F.col("id_a"))).alias(
                "id_b"
            ),
        )
    )
    big = counted.filter(F.col("_n") > bucket_cap)
    big_pairs = (
        big.select("_bh", F.col("_cid").alias("id_a"))
        .join(big.select("_bh", F.col("_cid").alias("id_b")), "_bh")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    return small_pairs.unionByName(big_pairs).distinct()


@REGISTRY.register(
    "q_dedup_minhash",
    tags=("llm", "dedup"),
    bench=True,
    oracle=None,  # LSH banding is probabilistic machinery; verified in
    # tests against exact shingle-Jaccard ground truth instead.
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified: candidates from banding,
    then exact shingle-Jaccard on candidates only; keep >= 0.7.

    The signature DF is cached before fan-out: banding references
    element_at(sig, i) 64 times and Catalyst would otherwise INLINE the
    whole 64-hash minhash pipeline into every reference (observed 40×
    slowdown). At 100 TB the same principle holds — materialize
    signatures (storage/cache) before the bucket join, never recompute
    them per band."""
    c = catalog(spark, sf_dir)
    signed = minhash_signatures(c.documents).cache()
    cands = minhash_candidate_pairs(signed)
    sa = signed.select(
        F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a")
    )
    sb = signed.select(
        F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b")
    )
    # |A∪B| = |A|+|B|−|A∩B| exactly (shingle arrays are array_distinct'ed
    # by minhash_signatures), so the union array is never materialized —
    # same integer operands into the same double division, value-identical
    # (optimization r12; exceptAll-checked at sf0.01/sf0.1/100× rung).
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    verified = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(inter / (F.size("sh_a") + F.size("sh_b") - inter), 6),
        )
        .filter(F.col("jaccard") >= 0.7)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


@REGISTRY.register(
    "q_dedup_simhash",
    tags=("llm", "dedup"),
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), bits AS (
  SELECT doc_id,
         {bit_sums}
  FROM tok GROUP BY doc_id
)
SELECT doc_id, {bit_concat} AS simhash16
FROM bits
""".format(
        bit_sums=",\n         ".join(
            f"SUM(CASE WHEN substr(md5(w), {i + 1}, 1) IN "
            f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s{i}"
            for i in range(16)
        ),
        bit_concat=" || ".join(
            f"(CASE WHEN s{i} > 0 THEN '1' ELSE '0' END)" for i in range(16)
        ),
    ),
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document: per-token md5, one ±1 vote per bit
    position, sign of the vote sum. Bit i is the high bit of hex nibble
    i — a construction both engines express exactly (cross-engine
    portable, unlike builtin hash functions). Near-dup docs (permuted
    token multisets) get identical signatures."""
    c = catalog(spark, sf_dir)
    tok = c.documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).withColumn("_md5", F.md5("w"))
    sums = [
        F.sum(
            F.when(F.substring("_md5", i + 1, 1).isin(*HEX_HIGH), 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(16)
    ]
    bits = tok.groupBy("doc_id").agg(*sums)
    sim = F.concat(
        *[F.when(F.col(f"s{i}") > 0, "1").otherwise("0") for i in range(16)]
    )
    return bits.select("doc_id", sim.alias("simhash16"))


def word_bigrams(text_col) -> "F.Column":
    """Distinct word bigrams; EMPTY for sub-2-token docs (Spark 4 ANSI:
    sequence(1, 0) yields the descending [1, 0] and out-of-range
    element_at throws — the guard matches DuckDB's generate_series(1, 0)
    → empty-list semantics exactly)."""
    toks = F.split(text_col, " ")

    # bind: evaluate the split once per row; inlining it into the
    # per-position lambda re-runs it 2×n_positions times (see
    # functions/hof.bind — optimization r12)
    def _grams_of(t):
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(t) - 1, F.lit(1))),
                lambda i: F.concat_ws(
                    " ", F.try_element_at(t, i), F.try_element_at(t, i + 1)
                ),
            )
        )

    grams = bind(toks, _grams_of)
    return F.when(F.size(toks) >= 2, grams).otherwise(
        F.expr("CAST(array() AS array<string>)")
    )


def jaccard_prefix_candidates(
    g: DataFrame,
    threshold: float,
    block_cols: tuple[str, ...] = ("lang",),
    id_col: str = "doc_id",
    set_col: str = "bigrams",
    order: str = "hash",
) -> DataFrame:
    """EXACT candidate generation for a set-similarity self-join
    (AllPairs/PPJoin prefix filtering): if J(A,B) >= t, then the prefixes
    of length |X| - ceil(t*|X|) + 1 — taken under any one total order of
    the token universe — must share at least one token. Ordering tokens
    by ascending document frequency makes the shared-prefix tokens RARE,
    so candidate volume stays near-linear instead of quadratic.

    Unlike MinHash banding this is deterministic-complete (recall is
    provably 1.0), so it can back an exactly-oracle-checked operator.

    ``order`` picks the token total order the prefixes are taken under
    (any fixed order is correct; it only changes candidate VOLUME):

    - ``"hash"`` (default): xxhash64 of the token — fully map-side
      (scan -> array_sort inside the row -> explode -> one keyed join);
      the shallowest plan, best when per-stage fixed cost dominates.
    - ``"df"``: ascending document frequency — prefix tokens become the
      RARE ones, minimizing candidates; costs one aggregation + one
      (broadcastable) join more. The right choice for a zipfian
      real-corpus vocabulary at scale; measured on these 31-word-vocab
      fixtures it saves only ~15% candidates, which doesn't pay for the
      extra stages.
    """
    # Parsed string-ref contexts (select/groupBy/F.size/F.explode) get
    # backtick-quoted names; join(on=[...]) lists resolve EXACT names and
    # must stay raw (ADVICE r11 — extends the r10 id_col fix to every
    # column-name parameter).
    block = [_quote_ident(c) for c in block_cols]
    block_on = list(block_cols)
    qid = _quote_ident(id_col)  # ADVICE r10 — see _quote_ident
    qset = _quote_ident(set_col)
    sized = g.withColumn("_s", F.size(qset)).filter(F.col("_s") > 0)
    plen = (F.col("_s") - F.ceil(F.lit(threshold) * F.col("_s")) + 1).cast("int")
    if order == "hash":
        pref_arr = F.slice(
            F.array_sort(
                F.transform(
                    qset,
                    lambda x: F.struct(F.xxhash64(x).alias("h"), x.alias("g")),
                )
            ),
            F.lit(1),
            plen,
        )
        pref = sized.select(
            *block, qid, "_s", F.posexplode(pref_arr).alias("_p", "_pg")
        ).select(*block, qid, "_s", "_p", F.col("_pg.g").alias("_g"))
    elif order == "df":
        ex = sized.select(*block, qid, "_s", F.explode(qset).alias("_g"))
        dfreq = ex.groupBy(*block, "_g").agg(F.count("*").alias("_df"))
        # broadcast keeps the probe side's explode map-side; with an
        # unbounded vocabulary drop the hint and let this shuffle
        ranked = ex.join(F.broadcast(dfreq), block_on + ["_g"])
        pref = (
            ranked.groupBy(*block, qid, "_s")
            .agg(F.array_sort(F.collect_list(F.struct("_df", "_g"))).alias("_sorted"))
            .select(
                *block,
                qid,
                "_s",
                F.posexplode(F.slice("_sorted", F.lit(1), plen)).alias("_p", "_pg"),
            )
            .select(*block, qid, "_s", "_p", F.col("_pg._g").alias("_g"))
        ).cache()  # self-joined below — uncached, the pipeline runs twice
    else:
        raise ValueError(f"order must be 'hash' or 'df', got {order!r}")
    a = pref.select(
        *block,
        "_g",
        F.col(qid).alias("id_a"),
        F.col("_s").alias("_sa"),
        F.col("_p").alias("_pa"),
    )
    b = pref.select(
        *block,
        "_g",
        F.col(qid).alias("id_b"),
        F.col("_s").alias("_sb"),
        F.col("_p").alias("_pb"),
    )
    t = F.lit(threshold)
    # PPJoin positional filter: a shared prefix token at positions
    # (pa, pb) caps the achievable overlap at 1 + min(sa-pa-1, sb-pb-1);
    # J >= t needs overlap >= ceil(t/(1+t) * (sa+sb)). Prunes ~1/3 of
    # candidate rows before the distinct on these fixtures, more on
    # zipfian vocabularies.
    alpha = F.ceil(F.lit(threshold / (1 + threshold)) * (F.col("_sa") + F.col("_sb")))
    return (
        a.join(b, block_on + ["_g"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # size filter: J >= t bounds the partner's size to [t*s, s/t]
            & (F.col("_sb") >= t * F.col("_sa"))
            & (F.col("_sa") >= t * F.col("_sb"))
            & (
                1
                + F.least(
                    F.col("_sa") - F.col("_pa") - 1, F.col("_sb") - F.col("_pb") - 1
                )
                >= alpha
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )


@REGISTRY.register(
    "q_dedup_ngram_jaccard",
    tags=("llm", "dedup"),
    oracle="""
WITH grams AS MATERIALIZED (
  SELECT doc_id, lang,
         list_distinct(list_transform(
           generate_series(1, len(string_split(text,' ')) - 1),
           i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
         )) AS bigrams
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(len(list_intersect(a.bigrams, b.bigrams)) * 1.0
             / len(list_distinct(a.bigrams || b.bigrams)), 6) AS jaccard
FROM grams a JOIN grams b
  ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.bigrams, b.bigrams)) * 1.0
      / len(list_distinct(a.bigrams || b.bigrams)) >= 0.5
""",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram Jaccard near-dup with prefix-filter candidate
    generation (exact — recall provably 1.0, see
    jaccard_prefix_candidates), verified by exact Jaccard on candidates
    only. The oracle states the naive all-pairs semantics; the Spark
    plan never materializes an unbounded block join — at 100 TB the
    pair term is bounded by prefix-token collision counts, not by
    corpus-per-language size (the round-1 lang-block was quadratic
    within a language)."""
    def build() -> DataFrame:
        c = catalog(spark, sf_dir)
        # spread the single-file scan before the CPU-heavy bigram/prefix
        # expressions (one partition = one core otherwise)
        par = spark.sparkContext.defaultParallelism
        g = c.documents.repartition(par, F.col("doc_id")).select(
            "doc_id", "lang", word_bigrams(F.col("text")).alias("bigrams")
        )
        cands = jaccard_prefix_candidates(g, 0.5, block_cols=("lang",))
        ga = g.select(F.col("doc_id").alias("id_a"), F.col("bigrams").alias("g_a"))
        gb = g.select(F.col("doc_id").alias("id_b"), F.col("bigrams").alias("g_b"))
        jac = F.size(F.array_intersect("g_a", "g_b")) / F.size(
            F.array_union("g_a", "g_b")
        )
        return (
            cands.join(ga, "id_a")
            .join(gb, "id_b")
            .withColumn("jaccard", F.round(jac, 6))
            .filter(jac >= 0.5)
            .select("id_a", "id_b", "jaccard")
        )

    return _memo(spark, sf_dir, "ngram_jaccard_edges", build)


@REGISTRY.register(
    "q_dedup_embedding",
    tags=("llm", "dedup", "similarity"),
    oracle="""
WITH v AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), n AS MATERIALIZED (
  SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_sum(list_transform(generate_series(1, 64),
                                     i -> a.e[i] * b.e[i]))
             / (a.nrm * b.nrm), 6) AS cos_sim
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE list_sum(list_transform(generate_series(1, 64), i -> a.e[i] * b.e[i]))
      / (a.nrm * b.nrm) >= 0.35
""",
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs with LSH-bucketed candidate
    generation: multi-table hyperplane buckets + Hamming<=1 probing
    (llm_similarity.lsh_candidate_pairs — one keyed shuffle, no cross
    join), exact cosine only on candidates. Parameters are tuned so
    recall vs the all-pairs ground truth (embedding_allpairs, kept for
    tests) is 1.0 on these fixtures — signatures are hash-derived and
    deterministic, so the driver sees the same pairs the tests verify.
    Threshold 0.35: fixtures are random vectors with max cosine ≈0.51;
    at a production near-dup threshold (>=0.8) the same machinery
    prunes far harder per table (docstring in lsh_candidate_pairs)."""
    from catenae_kafka_spark.operators.llm_similarity import lsh_candidate_pairs

    c = catalog(spark, sf_dir)
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    v = c.embeddings.select(
        "vec_id",
        e.alias("e"),
        F.sqrt(
            F.aggregate(e, F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("nrm"),
    )
    cands = lsh_candidate_pairs(
        c.embeddings, "vec_id", "embedding", planes=4, tables=12, dim=64
    )
    a = v.select(
        F.col("vec_id").alias("id_a"), F.col("e").alias("e_a"), F.col("nrm").alias("n_a")
    )
    b = v.select(
        F.col("vec_id").alias("id_b"), F.col("e").alias("e_b"), F.col("nrm").alias("n_b")
    )
    dot = F.aggregate(
        F.zip_with("e_a", "e_b", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    cos = dot / (F.col("n_a") * F.col("n_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cos_sim", F.round(cos, 6))
        .filter(cos >= 0.35)
        .select("id_a", "id_b", "cos_sim")
    )


def embedding_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine >= 0.35 (crossJoin) — the exact ground truth the
    LSH-bucketed q_dedup_embedding is recall-tested against. TEST-ONLY:
    quadratic in corpus size, never registered as a query."""
    c = catalog(spark, sf_dir)
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    v = c.embeddings.select(
        "vec_id",
        e.alias("e"),
        F.sqrt(
            F.aggregate(e, F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("nrm"),
    )
    a = v.select(
        F.col("vec_id").alias("id_a"), F.col("e").alias("e_a"), F.col("nrm").alias("n_a")
    )
    b = v.select(
        F.col("vec_id").alias("id_b"), F.col("e").alias("e_b"), F.col("nrm").alias("n_b")
    )
    dot = F.aggregate(
        F.zip_with("e_a", "e_b", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    cos = dot / (F.col("n_a") * F.col("n_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", F.round(cos, 6))
        .filter(cos >= 0.35)
        .select("id_a", "id_b", "cos_sim")
    )


@REGISTRY.register(
    "q_fuzzy_levenshtein",
    tags=("llm", "dedup", "fuzzy"),
    oracle="""
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 3
""",
)
def q_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching: near-identical part names (edit distance
    <= 3) within a brand block, with an EXACT length-bucket prefilter:
    dist(a,b) <= 3 implies |len(a)-len(b)| <= 3, so joining on
    (brand, length-bucket) with side A exploded to its three covering
    width-4 buckets finds every qualifying pair exactly once (side B
    keeps its own bucket, which is unique per row) — the quadratic
    brand-block join becomes a keyed join whose pair term is bounded by
    per-(brand, ~length) counts, and the expensive levenshtein runs
    only on length-compatible candidates."""
    c = catalog(spark, sf_dir)
    width = 4  # bucket width > max distance ⇒ ±1 bucket covers ±3 chars
    a = c.part.select(
        F.col("p_brand"),
        F.col("p_partkey").alias("id_a"),
        F.col("p_name").alias("n_a"),
        F.length("p_name").alias("_la"),
    ).select(
        "*",
        F.explode(
            F.array(
                *[
                    (F.floor(F.col("_la") / width) + off).alias("x")
                    for off in (-1, 0, 1)
                ]
            )
        ).alias("_bkt"),
    )
    b = c.part.select(
        F.col("p_brand"),
        F.col("p_partkey").alias("id_b"),
        F.col("p_name").alias("n_b"),
        F.length("p_name").alias("_lb"),
        F.floor(F.length("p_name") / width).alias("_bkt"),
    )
    dist = F.levenshtein("n_a", "n_b")
    return (
        a.join(b, ["p_brand", "_bkt"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("_la") - F.col("_lb")) <= 3)
        )
        .withColumn("dist", dist)
        .filter(F.col("dist") <= 3)
        .select("id_a", "id_b", "dist")
    )


@REGISTRY.register(
    "q_dedup_clusters",
    tags=("llm", "dedup", "iterative"),
    oracle="""
WITH RECURSIVE grams AS MATERIALIZED (
  SELECT doc_id, lang,
         list_distinct(list_transform(
           generate_series(1, len(string_split(text,' ')) - 1),
           i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
         )) AS bigrams
  FROM documents
), pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM grams a JOIN grams b
    ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.bigrams, b.bigrams)) * 1.0
        / len(list_distinct(a.bigrams || b.bigrams)) >= 0.5
), und AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
), reach(id, r) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.dst, reach.r FROM reach JOIN und u ON u.src = reach.id
)
SELECT id AS doc_id, MIN(r) AS component
FROM reach GROUP BY id
""",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the bigram-Jaccard
    pair graph (component id = min doc_id reachable) — the step that
    turns pairwise near-dup hits into keep-one-per-cluster decisions.

    Iterative min-label propagation: each round every node takes the
    min of its own label and its neighbours' labels (one shuffle per
    round, converges in graph-diameter rounds — near-dup graphs are
    shallow). ``localCheckpoint`` truncates the growing lineage so the
    plan stays flat; the oracle expresses the same closure as a
    recursive CTE."""
    def build() -> DataFrame:
        edges = q_dedup_ngram_jaccard(spark, sf_dir).select("id_a", "id_b")
        labels = connected_components(edges)
        return labels.select(
            F.col("id").alias("doc_id"), F.col("comp").alias("component")
        )

    return _memo(spark, sf_dir, "ngram_components", build)


def connected_components(
    edges: DataFrame,
    max_rounds: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components by min-label propagation + pointer jumping.

    Each round a node takes the min of (its label, its neighbours'
    labels, its label's label). The pointer-jumping term halves the
    remaining label-chain length every round, so convergence is
    O(log diameter) rounds instead of O(diameter) — one extra tiny join
    per round buys chain robustness (a 1000-hop path converges in ~10
    rounds, not 1000).

    Lineage is truncated every round; with ``checkpoint_dir`` set, via a
    RELIABLE checkpoint (``sparkContext.setCheckpointDir`` + storage-
    backed ``checkpoint()``) that survives executor loss on a real
    cluster — ``localCheckpoint`` (the default, fine for local/driver
    runs) stores blocks on executors and dies with them. Change
    detection rides the same materialization (prev label kept as a
    column), so each round costs exactly two jobs. Raises RuntimeError
    if the loop exits without converging — a silent cap would return
    labels that diverge from the recursive-CTE oracle with no error.
    """
    ckpt = make_checkpointer(edges.sparkSession, checkpoint_dir)
    und = edges.union(
        edges.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).toDF("src", "dst")
    und = ckpt(und)
    labels = (
        und.select(F.col("src").alias("id")).distinct().withColumn("comp", F.col("id"))
    )
    for _ in range(max_rounds):
        nbr = (
            und.join(labels, und.dst == labels.id)
            .groupBy("src")
            .agg(F.min("comp").alias("nbr_min"))
        )
        prop = labels.join(nbr, labels.id == nbr.src, "left").select(
            "id",
            F.least(
                F.col("comp"), F.coalesce(F.col("nbr_min"), F.col("comp"))
            ).alias("comp"),
            F.col("comp").alias("_prev"),
        )
        parent = labels.select(
            F.col("id").alias("_pid"), F.col("comp").alias("_pcomp")
        )
        jumped = (
            prop.join(parent, prop.comp == parent._pid, "left")
            .select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce(F.col("_pcomp"), F.col("comp"))
                ).alias("comp"),
                "_prev",
            )
        )
        jumped = ckpt(jumped)
        changed = jumped.filter(F.col("comp") != F.col("_prev")).count()
        labels = jumped.drop("_prev")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds; "
            "the result would silently diverge from the transitive closure"
        )
    return labels


@REGISTRY.register(
    "q_dedup_apply",
    tags=("llm", "dedup", "composite"),
    oracle="""
WITH RECURSIVE grams AS MATERIALIZED (
  SELECT doc_id, lang,
         list_distinct(list_transform(
           generate_series(1, len(string_split(text,' ')) - 1),
           i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
         )) AS bigrams
  FROM documents
), pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM grams a JOIN grams b
    ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.bigrams, b.bigrams)) * 1.0
        / len(list_distinct(a.bigrams || b.bigrams)) >= 0.5
), und AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
), reach(id, r) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.dst, reach.r FROM reach JOIN und u ON u.src = reach.id
), comp AS (
  SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id
)
SELECT d.lang,
       COUNT(*) AS n_docs,
       COUNT(*) FILTER (c.doc_id IS NULL OR c.doc_id = c.component) AS n_kept,
       COUNT(*) FILTER (c.doc_id IS NOT NULL AND c.doc_id <> c.component) AS n_dropped
FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
GROUP BY d.lang
""",
)
def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup application: cluster near-dups, keep one
    canonical document per cluster (the component minimum) plus every
    unclustered document, and account kept/dropped per language — the
    shape of a real corpus-dedup job's output report. The cluster table
    is pair-graph-sized (tiny next to the corpus), so the final join is
    broadcast at any scale."""
    c = catalog(spark, sf_dir)
    comp = q_dedup_clusters(spark, sf_dir)
    keep = F.col("component").isNull() | (F.col("doc_id") == F.col("component"))
    return (
        c.documents.join(F.broadcast(comp), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(keep, 1)).alias("n_kept"),
            F.count(F.when(~keep, 1)).alias("n_dropped"),
        )
    )


@REGISTRY.register(
    "q_dedup_containment",
    tags=("llm", "dedup"),
    oracle="""
WITH grams AS MATERIALIZED (
  SELECT doc_id, lang,
         list_distinct(list_transform(
           generate_series(1, len(string_split(text,' ')) - 1),
           i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
         )) AS bigrams
  FROM documents
  WHERE len(string_split(text,' ')) >= 2
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(len(list_intersect(a.bigrams, b.bigrams)) * 1.0
             / len(a.bigrams), 6) AS containment
FROM grams a JOIN grams b
  ON a.lang = b.lang AND a.doc_id <> b.doc_id
WHERE len(list_intersect(a.bigrams, b.bigrams)) * 1.0
      / len(a.bigrams) >= 0.9
""",
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC set-containment near-dup: C(A->B) = |A∩B| / |A| >= 0.9
    flags doc A as (near-)contained in doc B — the partial-copy /
    superset-duplication case that symmetric Jaccard structurally
    misses (a paragraph pasted into a much longer doc has high
    containment but low Jaccard, since the union is dominated by B).

    Candidate generation is the containment variant of the AllPairs
    prefix filter: if |A∩B| >= ceil(t·|A|), then A's prefix of length
    |A| - ceil(t·|A|) + 1 (under the fixed hash order of the token
    universe) must hit SOME token of B — so A's prefix tokens are
    joined against B's FULL token list (the asymmetric side has no
    size upper bound, only |B| >= t·|A|). Recall is provably 1.0;
    exact containment is computed on candidates only, never all
    pairs. At 100 TB candidate volume is bounded by prefix-token
    collision counts exactly as in q_dedup_ngram_jaccard."""
    def build() -> DataFrame:
        c = catalog(spark, sf_dir)
        t = 0.9
        par = spark.sparkContext.defaultParallelism
        g = c.documents.repartition(par, F.col("doc_id")).select(
            "doc_id", "lang", word_bigrams(F.col("text")).alias("bigrams")
        )
        sized = g.withColumn("_s", F.size("bigrams")).filter(F.col("_s") > 0)
        plen = (F.col("_s") - F.ceil(F.lit(t) * F.col("_s")) + 1).cast("int")
        pref_arr = F.slice(
            F.array_sort(
                F.transform(
                    "bigrams",
                    lambda x: F.struct(F.xxhash64(x).alias("h"), x.alias("g")),
                )
            ),
            F.lit(1),
            plen,
        )
        a = sized.select(
            "lang",
            F.col("doc_id").alias("id_a"),
            F.col("_s").alias("_sa"),
            F.explode(pref_arr).alias("_pg"),
        ).select("lang", "id_a", "_sa", F.col("_pg.g").alias("_g"))
        b = sized.select(
            "lang",
            F.col("doc_id").alias("id_b"),
            F.col("_s").alias("_sb"),
            F.explode("bigrams").alias("_g"),
        )
        cands = (
            a.join(b, ["lang", "_g"])
            .filter(
                (F.col("id_a") != F.col("id_b"))
                & (F.col("_sb") >= F.lit(t) * F.col("_sa"))
            )
            .select("id_a", "id_b")
            .distinct()
        )
        ga = sized.select(
            F.col("doc_id").alias("id_a"), F.col("bigrams").alias("g_a")
        )
        gb = sized.select(
            F.col("doc_id").alias("id_b"), F.col("bigrams").alias("g_b")
        )
        cont = F.size(F.array_intersect("g_a", "g_b")) / F.size("g_a")
        return (
            cands.join(ga, "id_a")
            .join(gb, "id_b")
            .withColumn("containment", F.round(cont, 6))
            .filter(cont >= t)
            .select("id_a", "id_b", "containment")
        )

    return _memo(spark, sf_dir, "containment_edges", build)


@REGISTRY.register(
    "q_dedup_threshold_sweep",
    tags=("llm", "dedup"),
    oracle="""
WITH grams AS MATERIALIZED (
  SELECT doc_id, lang,
         list_distinct(list_transform(
           generate_series(1, len(string_split(text,' ')) - 1),
           i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
         )) AS bigrams
  FROM documents
), pairs AS MATERIALIZED (
  SELECT len(list_intersect(a.bigrams, b.bigrams)) * 1.0
         / len(list_distinct(a.bigrams || b.bigrams)) AS j
  FROM grams a JOIN grams b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.bigrams, b.bigrams)) * 1.0
        / len(list_distinct(a.bigrams || b.bigrams)) >= 0.5
), t AS MATERIALIZED (SELECT unnest([50, 60, 70, 80, 90]) AS thr_pct)
SELECT t.thr_pct,
       CAST(COUNT(CASE WHEN pairs.j >= t.thr_pct / 100.0 THEN 1 END) AS BIGINT)
         AS n_pairs
FROM t LEFT JOIN pairs ON TRUE
GROUP BY t.thr_pct
""",
)
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold sensitivity: how many candidate pairs survive
    at Jaccard >= 0.5 / 0.6 / 0.7 / 0.8 / 0.9 — the one-pass analysis
    that picks a dedup threshold by showing where the pair count
    plateaus (true clones) vs explodes (topical similarity). Reuses
    the MEMOIZED exact prefix-filter edge pipeline
    (q_dedup_ngram_jaccard's candidates), so the sweep costs one
    broadcast of the tiny threshold list and one re-aggregation —
    never a recomputation per threshold."""
    edges = q_dedup_ngram_jaccard(spark, sf_dir)  # memoized (>=0.5 pairs)
    thr = spark.range(5).select(
        (F.lit(50) + F.col("id") * 10).cast("int").alias("thr_pct")
    )
    return (
        F.broadcast(thr)
        .join(
            edges.select("jaccard"),
            F.col("jaccard") >= F.col("thr_pct") / 100.0,
            "left",
        )
        .groupBy("thr_pct")
        .agg(F.count("jaccard").alias("n_pairs"))
    )


@REGISTRY.register(
    "q_dedup_minhash_recall",
    tags=("llm", "dedup", "eval"),
    oracle=None,  # minhash banding uses xxhash64 (no DuckDB analog);
    # the exact side IS oracled via q_dedup_ngram_jaccard, and recall
    # is additionally lower-bound-asserted in tests/test_llm_ops.py
)
def q_dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED MinHash recall, registered as driver-visible evidence:
    ground truth = the exact prefix-filter pair set at Jaccard >= 0.7
    (memoized q_dedup_ngram_jaccard edges), candidates = the banded
    MinHash LSH pair generation. Both are deterministic (fixed xxhash64
    seeds), so the emitted recall is a stable number, not a sample —
    the per-corpus accuracy readout a pipeline records next to every
    probabilistic dedup run."""
    truth = (
        q_dedup_ngram_jaccard(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.7)
        .select("id_a", "id_b")
    )
    docs = catalog(spark, sf_dir).documents
    sigs = minhash_signatures(docs)
    cands = minhash_candidate_pairs(sigs).select("id_a", "id_b")
    hit = truth.join(cands, ["id_a", "id_b"], "left_semi")
    n_truth = truth.count()
    n_hit = hit.count()
    import pandas as pd

    return (
        truth.sparkSession.createDataFrame(
            pd.DataFrame(
                {
                    "n_true_pairs": [n_truth],
                    "n_found": [n_hit],
                    "recall_ppm": [
                        (n_hit * 1_000_000) // n_truth if n_truth else None
                    ],
                }
            )
        )
        .select(
            F.col("n_true_pairs").cast("bigint").alias("n_true_pairs"),
            F.col("n_found").cast("bigint").alias("n_found"),
            F.col("recall_ppm").cast("bigint").alias("recall_ppm"),
        )
    )


@REGISTRY.register(
    "q_golden_record",
    tags=("llm", "dedup", "mdm"),
    oracle="""
WITH k AS (
  SELECT doc_id, n_chars, lang,
         md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))),
             ' ')) AS ck
  FROM documents
), g AS (
  SELECT ck, CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(MAX(n_chars) AS BIGINT) AS max_chars
  FROM k GROUP BY ck HAVING COUNT(*) > 1
), golden AS (
  SELECT ck, doc_id AS golden_doc_id FROM (
    SELECT k.ck, k.doc_id,
           ROW_NUMBER() OVER (PARTITION BY k.ck
                              ORDER BY k.n_chars DESC, k.doc_id) AS rn
    FROM k JOIN g ON k.ck = g.ck
  ) WHERE rn = 1
)
SELECT g.ck AS group_key, golden_doc_id, n_members, n_langs, max_chars
FROM g JOIN golden ON g.ck = golden.ck
""",
)
def q_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record (MDM survivorship) selection: group documents by
    their canonical word-set key (the drift-proof exact-dup tier — see
    q_dedup_canonical), and for every multi-member group elect ONE
    surviving record by an explicit survivorship rule (longest text,
    then lowest doc_id) with group stats for the stewardship report.

    md5 is the only engine-portable hash (environment fact), so the
    group key itself is hash-checked. The ROW_NUMBER survivorship rule
    is a total order — no arbitrary first().

    Scale shape: one groupBy on the canonical key (map-side combined
    counts) + one window over only the multi-member groups (joined
    back via the small group table — at 100 TB the duplicate-group
    table is corpus-fraction-sized, so the window input is too)."""
    c = catalog(spark, sf_dir)
    k = c.documents.select(
        "doc_id",
        "n_chars",
        "lang",
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(F.split("text", " "))))
        ).alias("ck"),
    )
    g = (
        k.groupBy("ck")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
        .filter(F.col("n_members") > 1)
    )
    w = Window.partitionBy("ck").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    golden = (
        k.join(F.broadcast(g.select("ck")), "ck")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("ck", F.col("doc_id").alias("golden_doc_id"))
    )
    return g.join(golden, "ck").select(
        F.col("ck").alias("group_key"),
        "golden_doc_id",
        "n_members",
        "n_langs",
        "max_chars",
    )


@REGISTRY.register(
    "q_dedup_waterfall",
    tags=("llm", "dedup", "report"),
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT text) AS BIGINT) AS after_exact,
       CAST(COUNT(DISTINCT array_to_string(
         list_sort(list_distinct(string_split(text, ' '))), ' '))
         AS BIGINT) AS after_canonical,
       CAST(COUNT(DISTINCT array_to_string(
         string_split(text, ' ')[1:8], ' ')) AS BIGINT) AS after_prefix8,
       CAST(COUNT(*) - COUNT(DISTINCT text) AS BIGINT) AS exact_removed,
       CAST(COUNT(DISTINCT text) - COUNT(DISTINCT array_to_string(
         list_sort(list_distinct(string_split(text, ' '))), ' '))
         AS BIGINT) AS canonical_removed
FROM documents
""",
)
def q_dedup_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup waterfall report: survivors after each successive tier of
    the dedup cascade — byte-exact, canonical word-set, and the
    8-token-prefix near-dup screen — in ONE corpus pass. This is the
    funnel chart every dedup run reports before anyone approves
    deleting data: each tier's marginal removal count tells you
    whether the expensive fuzzy tiers (MinHash & friends, measured
    separately) are even worth scheduling.

    Tier keys match the registered operators exactly (q_dedup_exact's
    text group, q_dedup_canonical's sorted-distinct-token key), so
    the waterfall numbers reconcile with the per-tier queries.
    Survivor counts are monotone non-increasing by construction for
    the exact->canonical pair (canonical key is a function of text);
    the prefix screen is reported alongside as the cheap-recall tier.

    Scale shape: one aggregation; each distinct-count shuffles its
    key digest (at 100 TB, swap COUNT(DISTINCT) for the sha2-digest
    group pattern of q_dedup_exact — same result, bounded rows)."""
    c = catalog(spark, sf_dir)
    canon_key = F.array_join(
        F.array_sort(F.array_distinct(F.split("text", " "))), " "
    )
    prefix_key = F.array_join(F.slice(F.split("text", " "), 1, 8), " ")
    return c.documents.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("text").cast("bigint").alias("after_exact"),
        F.countDistinct(canon_key).cast("bigint").alias("after_canonical"),
        F.countDistinct(prefix_key).cast("bigint").alias("after_prefix8"),
        (F.count("*") - F.countDistinct("text"))
        .cast("bigint")
        .alias("exact_removed"),
        (F.countDistinct("text") - F.countDistinct(canon_key))
        .cast("bigint")
        .alias("canonical_removed"),
    )


@REGISTRY.register(
    "q_semdedup",
    tags=("llm", "dedup", "similarity"),
    oracle="""
WITH v AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), nn AS MATERIALIZED (
  SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
  FROM v
), cents AS MATERIALIZED (
  SELECT vec_id AS centroid_id, e AS ec, nrm AS nc FROM nn
  WHERE vec_id % 61 = 0
), scored AS MATERIALIZED (
  SELECT a.vec_id, c.centroid_id,
         list_sum(list_transform(generate_series(1, 64),
                                 i -> a.e[i] * c.ec[i])) / (a.nrm * c.nc)
           AS cs
  FROM nn a CROSS JOIN cents c
), assigned AS MATERIALIZED (
  SELECT s.vec_id, s.centroid_id AS cluster_id, b.e, b.nrm
  FROM (SELECT vec_id, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cs DESC, centroid_id) AS rn
        FROM scored) s JOIN nn b USING (vec_id)
  WHERE rn = 1
), dropped AS MATERIALIZED (
  SELECT DISTINCT b.vec_id
  FROM assigned a
  JOIN assigned b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE list_sum(list_transform(generate_series(1, 64),
                                i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm)
        >= 0.30
)
SELECT a.cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(COUNT(d.vec_id) AS BIGINT) AS n_dropped,
       CAST(COUNT(*) - COUNT(d.vec_id) AS BIGINT) AS n_kept
FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
GROUP BY a.cluster_id
""",
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    embedding space with a coarse quantizer, then drop any vector that
    has a LOWER-id in-cluster neighbor above the cosine threshold —
    per-cluster keep/drop census out. Differs from q_dedup_embedding
    (pair listing via hyperplane LSH) in both the candidate structure
    (centroid partition, not hash buckets) and the output semantics (a
    keep/drop decision per item, the thing a pipeline actually writes).

    The quantizer is training-free and deterministic — centroids are
    the corpus vectors with vec_id % 61 == 0 (same reproducibility
    design as knn_ivf's coarse quantizer), so the DuckDB oracle replays
    assignment bit-for-bit: both engines fold the 64-dim dot product in
    index order, making the doubles identical and the argmin stable.
    Threshold 0.30 is tuned to the random fixture (max cosine ~0.51);
    production near-dup runs at >=0.9 and prunes far harder.

    Scale shape: never all-pairs (SemDeDup's core trick) — assignment
    costs O(N*k) map-side (centroids broadcast, per-row argmax), the
    in-cluster pair join O(N * N/k) shuffled on cluster_id; k ~ sqrt(N)
    balances the two, and the fixture's stride-61 quantizer sits near
    that point at test scales (5000 vectors -> 82 centroids vs
    sqrt=71). Production swaps the stride pick for trained centroids
    (the paper's k=50k at LAION scale) — same plan, one DataFrame
    swapped, and the only wide shuffle still keys on cluster_id,
    uniform by construction."""
    from catenae_kafka_spark.operators.llm_similarity import (
        _as_double,
        _dot,
        _norm,
    )

    c = catalog(spark, sf_dir)
    nn = c.embeddings.select(
        "vec_id",
        _as_double("embedding").alias("e"),
        _norm(_as_double("embedding")).alias("nrm"),
    )
    cents = nn.filter(F.col("vec_id") % 61 == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("e").alias("ec"),
        F.col("nrm").alias("nc"),
    )
    cs = _dot(F.col("e"), F.col("ec")) / (F.col("nrm") * F.col("nc"))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cs").desc(), F.col("centroid_id")
    )
    assigned = (
        nn.crossJoin(F.broadcast(cents))
        .withColumn("cs", cs)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id", F.col("centroid_id").alias("cluster_id"), "e", "nrm"
        )
    )
    a = assigned.select(
        F.col("cluster_id").alias("cl"),
        F.col("vec_id").alias("id_a"),
        F.col("e").alias("e_a"),
        F.col("nrm").alias("n_a"),
    )
    b = assigned.select(
        F.col("cluster_id").alias("cl"),
        F.col("vec_id").alias("id_b"),
        F.col("e").alias("e_b"),
        F.col("nrm").alias("n_b"),
    )
    pair_cos = _dot(F.col("e_a"), F.col("e_b")) / (F.col("n_a") * F.col("n_b"))
    dropped = (
        a.join(b, "cl")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(pair_cos >= 0.30)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("_drop", F.lit(1))
    )
    return (
        assigned.select("vec_id", "cluster_id")
        .join(dropped, "vec_id", "left")
        .groupBy("cluster_id")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.count(F.col("_drop")).cast("bigint").alias("n_dropped"),
            (F.count("*") - F.count(F.col("_drop")))
            .cast("bigint")
            .alias("n_kept"),
        )
    )


@REGISTRY.register(
    "q_substring_dedup_coverage",
    tags=("llm", "dedup", "corpus"),
    oracle="""
WITH docs AS MATERIALIZED (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
), kg AS MATERIALIZED (
  SELECT doc_id, i, md5(array_to_string(toks[i:(i+7)], ' ')) AS h
  FROM docs, unnest(generate_series(1, len(toks) - 7)) AS t(i)
), rep AS MATERIALIZED (
  SELECT h FROM kg GROUP BY h HAVING COUNT(*) >= 2
), cov AS MATERIALIZED (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_cov FROM (
    SELECT DISTINCT k.doc_id, k.i + o AS pos
    FROM kg k JOIN rep USING (h), unnest(generate_series(0, 7)) AS t(o)
  ) GROUP BY doc_id
)
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(d.toks)) AS BIGINT) AS n_tokens,
       CAST(SUM(COALESCE(c.n_cov, 0)) AS BIGINT) AS n_covered,
       CAST(COUNT(*) FILTER (c.n_cov IS NOT NULL) AS BIGINT) AS n_docs_hit,
       CAST(FLOOR(SUM(COALESCE(c.n_cov, 0)) * 1000000.0
                  / SUM(len(d.toks)) + 0.5) AS BIGINT) AS covered_ppm
FROM docs d LEFT JOIN cov c USING (doc_id)
GROUP BY d.lang
""",
)
def q_substring_dedup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication coverage (Lee et al. 2022's
    suffix-array ExactSubstr dedup, reshaped for a shuffle engine):
    every SLIDING 8-token window that occurs >= 2 times corpus-wide
    marks its 8 positions as duplicated; per language, report how many
    token positions sit inside some repeated substring. Differs from
    q_boilerplate_lines (fixed non-overlapping 8-token blocks, >= 3
    DISTINCT docs) in alignment and rule: sliding windows catch
    repeats at ANY offset — the property suffix arrays give — and
    within-corpus repetition counts even inside one document.

    Scale shape: the suffix array itself doesn't distribute; the
    equivalent join form does — window hashes (16-byte digests, text
    never shuffles) group-count corpus-wide, the >=2 survivors
    semi-join back, and position coverage is a bounded x8 fan-out +
    distinct keyed on (doc, pos). Repeated-window skew is capped by
    the fan-out being per-OCCURRENCE, not per-pair (the all-pairs
    blow-up the suffix-array paper exists to avoid is avoided here by
    never joining occurrences to each other)."""
    c = catalog(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    docs = c.documents.select(
        "doc_id", "lang", toks.alias("toks")
    )
    # guard: sequence(1, n<=0) is DESCENDING in Spark (the oracle's
    # generate_series is empty) — sub-8-token docs yield no windows
    # and still reach the census via the left join's COALESCE(0)
    positions = F.when(
        F.size("toks") >= 8, F.sequence(F.lit(1), F.size("toks") - 7)
    ).otherwise(F.expr("CAST(array() AS array<int>)"))
    kg = docs.select(
        "doc_id",
        F.explode(positions).alias("i"),
        "toks",
    ).select(
        "doc_id",
        "i",
        F.md5(
            F.concat_ws(" ", F.slice(F.col("toks"), F.col("i"), 8))
        ).alias("h"),
    )
    rep = kg.groupBy("h").agg(F.count("*").alias("n")).filter(
        F.col("n") >= 2
    ).select("h")
    cov = (
        kg.join(rep, "h", "left_semi")
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("o"),
            "i",
        )
        .select("doc_id", (F.col("i") + F.col("o")).alias("pos"))
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_cov"))
    )
    return (
        docs.select("doc_id", "lang", F.size("toks").alias("n_tok"))
        .join(cov, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.sum(F.coalesce(F.col("n_cov"), F.lit(0)))
            .cast("bigint")
            .alias("n_covered"),
            F.count(F.col("n_cov")).cast("bigint").alias("n_docs_hit"),
            half_up(
                F.sum(F.coalesce(F.col("n_cov"), F.lit(0)))
                * 1000000.0
                / F.sum("n_tok")
            ).alias("covered_ppm"),
        )
    )


@REGISTRY.register(
    "q_dup_growth_curve",
    tags=("llm", "dedup", "stats"),
    oracle="""
WITH docs AS MATERIALIZED (
  SELECT doc_id + 1 AS rk,
         md5(array_to_string(
           list_sort(list_distinct(string_split(text, ' '))), ' ')) AS h
  FROM documents
), n AS (SELECT COUNT(*) AS n_docs FROM docs),
first_seen AS MATERIALIZED (
  SELECT h, MIN(rk) AS first_rk FROM docs GROUP BY h
), ck AS (
  SELECT k, CAST(FLOOR(n_docs * k / 10.0) AS BIGINT) AS cutoff
  FROM n, unnest(generate_series(1, 10)) AS g(k)
), curve AS (
  SELECT k, cutoff,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM first_seen
          WHERE first_rk <= cutoff) AS n_distinct
  FROM ck
)
SELECT k, cutoff AS n_docs_cum, n_distinct,
       cutoff - n_distinct AS n_dups,
       CAST(FLOOR((cutoff - n_distinct) * 1000000.0 / cutoff + 0.5)
            AS BIGINT) AS dup_ppm
FROM curve
""",
)
def q_dup_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication growth curve: duplicate rate (under the canonical
    permutation-proof key, q_dedup_canonical's signature — the fixture
    has no byte-exact clones at sf0.01, but 54/500 canonical ones) at
    10 cumulative corpus checkpoints. THE planning artifact for dedup
    at scale: duplicate density grows superlinearly with corpus size
    (every new doc can collide with everything before it), so the curve
    tells you what dedup a 10x-larger crawl will face — sampling a
    prefix and extrapolating linearly undercounts. doc_id is the
    fixture's contiguous arrival order (rank = doc_id + 1, no sort).

    Scale shape: q_heaps_law's checkpoint machinery — per-key
    first-rank (key-space-sized, 16-byte digests) non-equi joins a
    broadcast 10-row cutoff spine; 10 independent bounded aggregates,
    no cumulative window, nothing single-partitions."""
    c = catalog(spark, sf_dir)
    canon = F.md5(
        F.array_join(
            F.array_sort(F.array_distinct(F.split("text", " "))), " "
        )
    )
    docs = c.documents.select(
        (F.col("doc_id") + 1).alias("rk"), canon.alias("h")
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
    first_seen = docs.groupBy("h").agg(F.min("rk").alias("first_rk"))
    per_k = (
        first_seen.join(
            F.broadcast(spine), F.col("first_rk") <= F.col("cutoff")
        )
        .groupBy("k")
        .agg(F.count("*").cast("bigint").alias("n_distinct"))
    )
    # spine left join + coalesce: a checkpoint with cutoff 0 (empty or
    # <10-doc corpus) keeps its row with a 0 count like the oracle's
    # scalar COUNT(*) — the inner-join form dropped it (fuzz); the ppm
    # ratio is try_divide'd since cutoff 0 makes it 0/0 -> NULL
    curve = spine.join(per_k, "k", "left").withColumn(
        "n_distinct", F.coalesce("n_distinct", F.lit(0).cast("bigint"))
    )
    return curve.select(
        "k",
        F.col("cutoff").alias("n_docs_cum"),
        "n_distinct",
        (F.col("cutoff") - F.col("n_distinct")).alias("n_dups"),
        half_up(
            F.try_divide(
                (F.col("cutoff") - F.col("n_distinct")) * 1000000.0,
                F.col("cutoff"),
            )
        ).alias("dup_ppm"),
    )


@REGISTRY.register(
    "q_dedup_incremental",
    tags=("llm", "dedup", "dataops"),
    oracle="""
WITH keyed AS MATERIALIZED (
  SELECT doc_id, lang,
         md5(array_to_string(
           list_sort(list_distinct(string_split(text, ' '))), ' ')) AS h,
         doc_id % 2 = 1 AS is_arrival
  FROM documents
), index_keys AS MATERIALIZED (
  SELECT DISTINCT h FROM keyed WHERE NOT is_arrival
), arrivals AS MATERIALIZED (
  SELECT k.doc_id, k.lang, k.h,
         i.h IS NOT NULL AS dup_index,
         ROW_NUMBER() OVER (PARTITION BY k.h ORDER BY k.doc_id) AS rn
  FROM keyed k LEFT JOIN index_keys i USING (h)
  WHERE k.is_arrival
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_arrivals,
       CAST(COUNT(*) FILTER (dup_index) AS BIGINT) AS n_dup_index,
       CAST(COUNT(*) FILTER (NOT dup_index AND rn > 1) AS BIGINT)
         AS n_dup_batch,
       CAST(COUNT(*) FILTER (NOT dup_index AND rn = 1) AS BIGINT)
         AS n_novel
FROM arrivals GROUP BY lang
""",
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (index-vs-batch) dedup — the nightly-ingest job: a
    new arrival batch (doc_id odd, a deterministic 50/50 backfill
    stand-in) dedups against the EXISTING corpus index first, then
    within itself. Per arrival, three disjoint verdicts: duplicate of
    an index key, intra-batch duplicate (first batch occurrence by
    doc_id wins), or novel (these are what the index ingests). Keys are
    q_dedup_canonical's permutation-proof signature. Per-language
    census out — the three counts partition n_arrivals exactly.

    Scale shape: the index is a DISTINCT-KEY table (16-byte digests,
    not documents) — the production form is a bucketed/sorted key store
    that new batches semi-join WITHOUT shuffling the index (arrivals
    are small vs the corpus; broadcast or bucket-local join). Here both
    phases key on the digest: one left join against index keys, one
    windowed first-wins inside the batch (state bounded by batch size,
    never corpus size). The corpus text itself is read once, map-side
    hashed, and never shuffled."""
    c = catalog(spark, sf_dir)
    canon = F.md5(
        F.array_join(
            F.array_sort(F.array_distinct(F.split("text", " "))), " "
        )
    )
    keyed = c.documents.select(
        "doc_id",
        "lang",
        canon.alias("h"),
        (F.col("doc_id") % 2 == 1).alias("is_arrival"),
    )
    index_keys = (
        keyed.filter(~F.col("is_arrival")).select("h").distinct()
        .withColumn("_in_index", F.lit(1))
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    arrivals = (
        keyed.filter(F.col("is_arrival"))
        .join(index_keys, "h", "left")
        .withColumn("rn", F.row_number().over(w))
    )
    dup_index = F.col("_in_index").isNotNull()
    return arrivals.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_arrivals"),
        F.sum(F.when(dup_index, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_index"),
        F.sum(F.when(~dup_index & (F.col("rn") > 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_batch"),
        F.sum(F.when(~dup_index & (F.col("rn") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n_novel"),
    )
