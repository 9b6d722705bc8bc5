"""Property tests for the approximate (weak-oracle) LLM operators:
MinHash-LSH recall vs exact Jaccard, LSH-ANN recall vs brute force,
SimHash invariance, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from catenae_kafka_spark.catalog import catalog
from catenae_kafka_spark.operators.llm_dedup import (
    minhash_candidate_pairs,
    minhash_signatures,
    q_dedup_minhash,
    q_dedup_simhash,
)
from catenae_kafka_spark.operators.llm_multimodal import (
    decode_media,
    featurize_media,
    with_media_column,
)
from catenae_kafka_spark.operators.llm_similarity import q_knn_cosine, q_knn_lsh

SF = "/root/testdata/sf0.001"


def test_minhash_finds_high_jaccard_pairs(spark, weakcheck):
    """Every pair with shingle-Jaccard >= 0.9 must surface as an LSH
    candidate (recall on the near-certain band), and verified output
    must contain no pair below its threshold."""
    c = catalog(spark, SF)
    signed = minhash_signatures(c.documents).cache()
    sa = signed.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = signed.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    truth = (
        sa.crossJoin(sb)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "j",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("j") >= 0.9)
        .select("id_a", "id_b")
    )
    cands = minhash_candidate_pairs(signed).select("id_a", "id_b")
    missed = truth.subtract(cands).count()
    n_truth = truth.count()
    assert n_truth > 0, "fixtures should contain >=0.9 Jaccard pairs"
    assert missed == 0, f"LSH missed {missed}/{n_truth} high-Jaccard pairs"

    out = q_dedup_minhash(spark, SF)
    below = out.filter(F.col("jaccard") < 0.7).count()
    assert below == 0
    weakcheck(
        "q_dedup_minhash",
        n_truth_pairs_j09=n_truth,
        missed_j09=missed,
        recall_j09=1.0 - missed / n_truth,
        output_pairs_below_threshold=below,
    )


def test_lsh_knn_recall_vs_brute_force(spark, weakcheck):
    exact = {
        (r.query_id, r.match_id) for r in q_knn_cosine(spark, SF).collect()
    }
    approx = {(r.query_id, r.match_id) for r in q_knn_lsh(spark, SF).collect()}
    recall = len(exact & approx) / len(exact)
    # hyperplane LSH with Hamming<=1 probing on random vectors: modest
    # recall is expected; the operator contract is "top-k are true
    # near-ties, found cheaply", not exactness
    assert recall >= 0.3, f"LSH recall collapsed: {recall:.2f}"
    assert len(approx) > 0
    weakcheck("q_knn_lsh", recall_random_fixture=recall, floor_random=0.3)


def test_ivf_knn_recall_and_probe_contract(spark, weakcheck):
    from catenae_kafka_spark.operators.llm_similarity import q_knn_ivf

    exact = {
        (r.query_id, r.match_id) for r in q_knn_cosine(spark, SF).collect()
    }
    rows = q_knn_ivf(spark, SF).collect()
    approx = {(r.query_id, r.match_id) for r in rows}
    recall = len(exact & approx) / len(exact)
    # random fixture vectors spread neighbours across lists; the
    # contract is "true near-ties found while scanning ~nprobe/C of the
    # corpus", not exactness
    assert recall >= 0.3, f"IVF recall collapsed: {recall:.2f}"
    weakcheck("q_knn_ivf", recall_random_fixture=recall, floor_random=0.3)
    # every query returns a full top-k ranking 1..k with no duplicates
    by_q: dict[int, list[int]] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rn)
    for qid, rns in by_q.items():
        assert sorted(rns) == list(range(1, len(rns) + 1)), (qid, rns)


def test_simhash_invariant_to_permutation(spark):
    """Same token multiset (any order) → identical SimHash."""
    base = q_dedup_simhash(spark, SF)
    c = catalog(spark, SF)
    permuted = c.documents.withColumn(
        "text", F.array_join(F.array_sort(F.split("text", " ")), " ")
    )
    from catenae_kafka_spark.registry import all_specs  # noqa: F401

    # recompute simhash on permuted text via the same plan shape
    tok = permuted.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    tok = tok.withColumn("_md5", F.md5("w"))
    sums = [
        F.sum(
            F.when(
                F.substring("_md5", i + 1, 1).isin(*"89abcdef"), 1
            ).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(16)
    ]
    bits = tok.groupBy("doc_id").agg(*sums)
    sim = F.concat(
        *[F.when(F.col(f"s{i}") > 0, "1").otherwise("0") for i in range(16)]
    )
    perm = bits.select("doc_id", sim.alias("simhash16"))
    diff = (
        base.alias("a")
        .join(perm.alias("b"), "doc_id")
        .filter(F.col("a.simhash16") != F.col("b.simhash16"))
        .count()
    )
    assert diff == 0


def test_multimodal_plumbing(spark):
    c = catalog(spark, SF)
    media = with_media_column(c.documents)
    assert dict(media.dtypes)["media"] == "binary"
    feats = featurize_media(media)
    rows = feats.limit(5).collect()
    assert all(r.n_bytes > 0 and r.first_byte >= 0 for r in rows)
    # partition layout preserved through mapInPandas (no implicit shuffle)
    assert feats.rdd.getNumPartitions() == media.rdd.getNumPartitions()


def test_decode_media_is_explicit_stub(spark):
    c = catalog(spark, SF)
    with pytest.raises(NotImplementedError):
        decode_media(with_media_column(c.documents))


def test_approx_aggregates_within_tolerance(spark, weakcheck):
    """Weak-oracle approximate aggregates must track their exact
    counterparts: HLL count-distinct within the configured rsd*3, approx
    median within 1% relative error."""
    from catenae_kafka_spark.registry import all_specs

    specs = all_specs()
    worst_parts = 0.0
    for r in specs["q_agg_approx"].fn(spark, SF).collect():
        assert abs(r.approx_parts - r.exact_parts) <= max(3, 0.06 * r.exact_parts)
        worst_parts = max(worst_parts, abs(r.approx_parts - r.exact_parts) / r.exact_parts)
    weakcheck("q_agg_approx", max_rel_err=worst_parts, tolerance=0.06)
    worst_p50 = 0.0
    for r in specs["q_agg_approx_quantiles"].fn(spark, SF).collect():
        assert abs(r.approx_p50 - r.exact_p50) <= 0.01 * abs(r.exact_p50)
        worst_p50 = max(worst_p50, abs(r.approx_p50 - r.exact_p50) / abs(r.exact_p50))
    weakcheck("q_agg_approx_quantiles", max_rel_err_p50=worst_p50, tolerance=0.01)


def test_embedding_lsh_recall_is_total_on_fixtures(spark):
    """The LSH-bucketed q_dedup_embedding must recall EVERY all-pairs
    cosine>=0.35 pair (signatures are deterministic hash-derived, so
    this is a stable property, and it is what keeps the query on its
    exact SQL oracle)."""
    from catenae_kafka_spark.operators.llm_dedup import (
        embedding_allpairs,
        q_dedup_embedding,
    )

    lsh = {(r.id_a, r.id_b, r.cos_sim) for r in q_dedup_embedding(spark, SF).collect()}
    truth = {(r.id_a, r.id_b, r.cos_sim) for r in embedding_allpairs(spark, SF).collect()}
    assert lsh == truth
    assert len(truth) > 0


def test_prefix_filter_candidates_complete_under_both_orders(spark):
    """Prefix filtering is deterministic-complete under ANY fixed token
    order: both the map-side hash order and the df order must produce a
    candidate superset of the true J>=0.5 pairs (and hence identical
    verified output)."""
    from catenae_kafka_spark.operators.llm_dedup import (
        jaccard_prefix_candidates,
        word_bigrams,
    )

    c = catalog(spark, SF)
    g = c.documents.select(
        "doc_id", "lang", word_bigrams(F.col("text")).alias("bigrams")
    )
    ga = g.select("lang", F.col("doc_id").alias("id_a"), F.col("bigrams").alias("g_a"))
    gb = g.select("lang", F.col("doc_id").alias("id_b"), F.col("bigrams").alias("g_b"))
    jac = F.size(F.array_intersect("g_a", "g_b")) / F.size(F.array_union("g_a", "g_b"))
    truth = {
        (r.id_a, r.id_b)
        for r in ga.join(gb, "lang")
        .filter((F.col("id_a") < F.col("id_b")) & (jac >= 0.5))
        .select("id_a", "id_b")
        .collect()
    }
    assert len(truth) > 0
    for order in ("hash", "df"):
        cands = {
            (r.id_a, r.id_b)
            for r in jaccard_prefix_candidates(g, 0.5, order=order).collect()
        }
        assert truth <= cands, f"order={order} missed {truth - cands}"


def test_fuzzy_levenshtein_length_bucket_equals_brute_force(spark):
    """The length-bucket prefilter must not change the result set vs
    the plain brand-blocked quadratic join (dist<=3 ⇒ |Δlen|<=3 is a
    theorem, not a heuristic)."""
    from catenae_kafka_spark.operators.llm_dedup import q_fuzzy_levenshtein

    c = catalog(spark, SF)
    a = c.part.select(
        "p_brand", F.col("p_partkey").alias("id_a"), F.col("p_name").alias("n_a")
    )
    b = c.part.select(
        "p_brand", F.col("p_partkey").alias("id_b"), F.col("p_name").alias("n_b")
    )
    brute = {
        (r.id_a, r.id_b, r.dist)
        for r in a.join(b, "p_brand")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("n_a", "n_b"))
        .filter(F.col("dist") <= 3)
        .select("id_a", "id_b", "dist")
        .collect()
    }
    fast = {
        (r.id_a, r.id_b, r.dist) for r in q_fuzzy_levenshtein(spark, SF).collect()
    }
    assert fast == brute
    assert len(brute) > 0


def test_connected_components_reliable_checkpoint_and_loud_failure(
    spark, ckpt_root
):
    """checkpoint_dir switches lineage truncation to storage-backed
    checkpoints (survives executor loss on a real cluster); max_rounds
    exhaustion raises instead of silently returning partial labels.
    Uses the session-shared ckpt_root: the dir is SparkContext-global."""
    from catenae_kafka_spark.operators.llm_dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    labels = {
        r["id"]: r["comp"]
        for r in connected_components(edges, checkpoint_dir=ckpt_root).collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    # a 6-node path cannot converge in 1 round even with pointer jumping
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_rounds=1)


def test_minhash_pipeline_custom_id_col_and_empty_input(spark):
    """minhash_candidate_pairs takes the id column name the signatures
    were built with (it used to hardcode doc_id while
    minhash_signatures parameterized it — any caller with a different
    id name got an unresolved-column crash); and the whole pipeline
    degrades to empty output on empty input."""
    from catenae_kafka_spark.operators.llm_dedup import (
        minhash_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "entirely different words in this one here now")],
        "item_id long, body string",
    )
    signed = minhash_signatures(docs, text_col="body", id_col="item_id")
    pairs = minhash_candidate_pairs(signed, id_col="item_id").collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}
    empty = spark.createDataFrame([], "doc_id long, text string")
    out = minhash_candidate_pairs(minhash_signatures(empty))
    assert out.columns == ["id_a", "id_b"]
    assert out.count() == 0
    # ADVICE r10: an id column with a dot (or space) parsed as a nested
    # reference in the alias-qualified f-string refs and crashed with
    # unresolved-column even though minhash_signatures accepted it
    dotted = docs.withColumnRenamed("item_id", "item.id")
    signed_d = minhash_signatures(dotted, text_col="body", id_col="item.id")
    pairs_d = minhash_candidate_pairs(signed_d, id_col="item.id").collect()
    assert {(r.id_a, r.id_b) for r in pairs_d} == {(1, 2)}


def test_hll_sketch_tolerance(spark, weakcheck):
    """q_hll_sketch (weak oracle): per-type and unioned estimates stay
    within 5% of exact distinct counts, and the union row is consistent
    with merging the per-type sketches (not re-scanning raw values)."""
    from catenae_kafka_spark.operators.profiling import q_hll_sketch

    est = {r.event_type: r.approx_users for r in q_hll_sketch(spark, SF).collect()}
    events = spark.read.parquet(f"{SF}/events.parquet")
    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    exact["ALL"] = events.select("user_id").distinct().count()
    assert set(est) == set(exact)
    for k, n in exact.items():
        assert abs(est[k] - n) / n < 0.05, (k, est[k], n)
    weakcheck(
        "q_hll_sketch",
        max_rel_err=max(abs(est[k] - n) / n for k, n in exact.items()),
        tolerance=0.05,
    )


def _planted_clusters(spark, n_clusters=12, per=40, dim=64, sigma=0.05):
    """Deterministic clustered vectors: unit-ish cluster centers plus
    small noise, ids sequential by cluster, so each vector's true
    nearest neighbours are its cluster-mates. Random fixtures can't
    discriminate a healthy ANN from a broken one (recall floor ~0.3);
    planted clusters demand recall near 1."""
    import numpy as np

    rng = np.random.RandomState(7)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for c in range(n_clusters):
        pts = centers[c] + sigma * rng.normal(size=(per, dim))
        for i in range(per):
            rows.append((c * per + i, [float(x) for x in pts[i]]))
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )


def test_lsh_and_ivf_recall_on_planted_clusters(spark, weakcheck):
    """On clustered data (the regime ANN exists for), both index
    structures must recover nearly all true top-5 neighbours; this is
    the discriminating twin of the loose random-fixture recall floors."""
    from catenae_kafka_spark.operators.llm_similarity import (
        knn_cosine,
        knn_ivf,
        knn_lsh,
    )

    vecs = _planted_clusters(spark)
    queries = vecs.filter(F.col("vec_id") % 40 == 0)  # one per cluster
    exact = {
        (r.query_id, r.match_id)
        for r in knn_cosine(queries, vecs, k=5).collect()
    }
    lsh = {
        (r.query_id, r.match_id)
        for r in knn_lsh(queries, vecs, k=5, planes=6, tables=4).collect()
    }
    ivf = {
        (r.query_id, r.match_id)
        for r in knn_ivf(
            queries, vecs, k=5, nprobe=3, centroid_stride=31
        ).collect()
    }
    assert len(exact) == 12 * 5
    lsh_recall = len(exact & lsh) / len(exact)
    ivf_recall = len(exact & ivf) / len(exact)
    assert lsh_recall >= 0.9, f"LSH recall on planted clusters: {lsh_recall:.2f}"
    assert ivf_recall >= 0.9, f"IVF recall on planted clusters: {ivf_recall:.2f}"
    weakcheck("q_knn_lsh", recall_planted_lib=lsh_recall, floor_planted=0.9)
    weakcheck("q_knn_ivf", recall_planted_lib=ivf_recall, floor_planted=0.9)


def test_short_doc_shingle_guards_match_oracle(spark, tmp_path):
    """Docs SHORTER than the shingle width must contribute an EMPTY gram
    set, exactly like the oracle's generate_series(1, n<=0) -> empty.
    Unguarded, Spark's sequence(1, 0) yields the DESCENDING [1, 0] and
    try_element_at(toks, 0) throws INVALID_INDEX_OF_ZERO — the fixture
    never exercises this (>=10 tokens everywhere), so this synthetic
    corpus with 1/2/3/7-token docs pins the guard (ADVICE r8)."""
    import duckdb
    import pandas as pd

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "the quick brown fox jumps over the lazy dog now",
        "one",  # 1 token: no bigrams, no trigrams, no 8-grams
        "two tokens",  # 2 tokens: bigram but no trigram
        "just three tokens",  # 3 tokens: trigram but no 4-gram window
        "alpha beta gamma delta epsilon zeta eta",  # 7 < 8-gram width
        "red green blue cyan magenta yellow black white grey pink",
        "north south east west up down left right in out",
        "one two three four five six seven eight nine ten",
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "be or not to be",
        "spark duck row col sum min max avg count join",
    ]
    docs = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en", "de", "fr", "en", "de", "fr"] * 2,
            "source": ["src0", "src1", "src2", "src0", "src1", "src2"] * 2,
            "n_chars": [len(t) for t in texts],
        }
    )
    path = tmp_path / "documents.parquet"
    docs.to_parquet(path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')"
    )

    from catenae_kafka_spark.registry import all_specs

    specs = all_specs()
    for name in (
        "q_source_overlap",
        "q_substring_dedup_coverage",
        "q_quality_gopher",
        "q_heaps_law",
        "q_winnowing_fingerprint",
    ):
        sdf = specs[name].fn(spark, str(tmp_path)).toPandas()
        odf = con.execute(specs[name].oracle).fetchdf()
        cols = sorted(sdf.columns)
        assert cols == sorted(odf.columns), name

        def norm(df):
            out = []
            for row in df[cols].itertuples(index=False):
                out.append(
                    tuple(
                        f"{v:.6f}" if isinstance(v, float) else str(v)
                        for v in row
                    )
                )
            return sorted(out)

        assert norm(sdf) == norm(odf), name


def test_similarity_and_jaccard_degrade_on_empty_inputs(spark):
    """Empty corpus or query slices return empty results from every
    ANN path (brute force, IVF, LSH) and from the exact-Jaccard
    candidate generator — no div-by-zero on centroid counts, no
    crash on empty bucket joins."""
    from pyspark.sql import functions as F

    from catenae_kafka_spark.operators.llm_dedup import (
        jaccard_prefix_candidates,
        word_bigrams,
    )
    from catenae_kafka_spark.operators.llm_similarity import (
        knn_cosine,
        knn_ivf,
        knn_lsh,
    )

    corpus = spark.createDataFrame(
        [(1, [0.1] * 8), (2, [0.2] * 8)], "vec_id long, embedding array<double>"
    )
    q1 = spark.createDataFrame(
        [(100, [0.1] * 8)], "vec_id long, embedding array<double>"
    )
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    for fn in (knn_cosine, knn_ivf, knn_lsh):
        assert fn(q1, empty).count() == 0, fn.__name__
        assert fn(empty, corpus).count() == 0, fn.__name__
    docs = spark.createDataFrame([], "doc_id long, text string, lang string")
    g = docs.select("doc_id", "lang", word_bigrams(F.col("text")).alias("bigrams"))
    assert jaccard_prefix_candidates(g, 0.5).count() == 0


def test_knn_and_prefix_candidates_accept_dotted_id_col(spark):
    """ADVICE r10 follow-through (code-review r11): every operator that
    takes a column-name parameter must accept a dotted name — the refs
    are backtick-quoted via functions/ident.quote_ident, not parsed as
    nested fields."""
    from catenae_kafka_spark.operators.llm_dedup import (
        jaccard_prefix_candidates,
        word_bigrams,
    )
    from catenae_kafka_spark.operators.llm_similarity import knn_cosine

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        "`v.id` long, emb array<double>",
    )
    out = knn_cosine(vecs.limit(1), vecs, k=2, id_col="v.id", vec_col="emb")
    got = {(r.query_id, r.match_id) for r in out.collect()}
    assert got == {(1, 2), (1, 3)}  # self-match excluded, top-2 of the rest

    docs = spark.createDataFrame(
        [(1, "en", "a b c d e"), (2, "en", "a b c d x"), (3, "en", "p q r s t")],
        "`d.id` long, lang string, text string",
    )
    g = docs.select("`d.id`", "lang", word_bigrams(F.col("text")).alias("bigrams"))
    cands = jaccard_prefix_candidates(g, 0.5, id_col="d.id")
    pairs = {(r.id_a, r.id_b) for r in cands.collect()}
    assert (1, 2) in pairs and not any(3 in p for p in pairs)


def test_quote_ident_handles_hostile_column_names(spark):
    """The escaping rule itself: dots, spaces, and embedded backticks
    (doubled per Spark's quoting) must all round-trip through
    minhash_signatures' string-ref contexts."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from catenae_kafka_spark.functions.ident import quote_ident
    from catenae_kafka_spark.operators.llm_dedup import minhash_signatures

    assert quote_ident("a.b") == "`a.b`"
    assert quote_ident("a`b") == "`a``b`"
    for name in ("my.doc id", "we`ird", "normal_id"):
        schema = StructType(
            [StructField(name, LongType()), StructField("text", StringType())]
        )
        docs = spark.createDataFrame([(1, "a b c d"), (2, "x y z w")], schema)
        signed = minhash_signatures(docs, id_col=name)
        assert signed.columns[0] == name
        assert signed.count() == 2


def test_text_set_and_block_col_params_accept_hostile_names(spark):
    """ADVICE r11: the remaining column-name parameters — text_col
    (minhash_signatures), set_col and block_cols
    (jaccard_prefix_candidates) — are routed through quote_ident like
    id_col, so dotted/spaced/backticked names work end-to-end in every
    parsed string-ref context (join on-lists stay raw by design: they
    resolve exact names)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from catenae_kafka_spark.operators.llm_dedup import (
        jaccard_prefix_candidates,
        minhash_candidate_pairs,
        minhash_signatures,
        word_bigrams,
    )

    for tname in ("body.text col", "we`ird text"):
        schema = StructType(
            [StructField("doc_id", LongType()), StructField(tname, StringType())]
        )
        docs = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "the quick brown fox jumps over the lazy dog"),
             (3, "entirely different words in this one here now")],
            schema,
        )
        signed = minhash_signatures(docs, text_col=tname)
        pairs = minhash_candidate_pairs(signed).collect()
        assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}, tname

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("lang.code", StringType()),
            StructField("text", StringType()),
        ]
    )
    base = spark.createDataFrame(
        [(1, "en", "a b c d e"), (2, "en", "a b c d x"), (3, "fr", "a b c d e")],
        schema,
    )
    g = base.select(
        "doc_id",
        F.col("`lang.code`"),
        word_bigrams(F.col("text")).alias("my`grams"),
    )
    for order in ("hash", "df"):
        cands = jaccard_prefix_candidates(
            g, 0.5, block_cols=("lang.code",), set_col="my`grams", order=order
        )
        pairs = {(r.id_a, r.id_b) for r in cands.collect()}
        # 1-3 share identical text but different blocks; only 1-2 qualify
        assert pairs == {(1, 2)}, order


def test_registered_knn_queries_recall_on_planted_embeddings(
    spark, tmp_path, weakcheck
):
    """VERDICT r11 #3, q-level twin of the planted-cluster test: the
    REGISTERED q_knn_lsh / q_knn_ivf — their exact default
    parameterization and table plumbing — must recover >=0.9 of the
    true top-5 neighbours when the embeddings TABLE itself is a
    planted-cluster corpus. Ids are laid out so the 8 query vectors
    (vec_id < 8, the registered queries' slice) land in 8 DIFFERENT
    clusters; each one's true neighbours are its cluster-mates at
    cosine >= ~0.99, so a half-broken banding cannot hide behind a
    loose random-fixture floor."""
    import numpy as np
    import pandas as pd

    from catenae_kafka_spark.operators.llm_similarity import (
        q_knn_ivf,
        q_knn_lsh,
    )

    n_clusters, per, dim, sigma = 12, 40, 64, 0.05
    rng = np.random.RandomState(7)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    ids, vecs, labels = [], [], []
    for c in range(n_clusters):
        pts = centers[c] + sigma * rng.normal(size=(per, dim))
        for i in range(per):
            # vec_id = i*n_clusters + c: vec_id<8 spans 8 distinct clusters
            ids.append(i * n_clusters + c)
            vecs.append(np.asarray(pts[i], dtype=np.float32))
            labels.append(c)
    pd.DataFrame(
        {"vec_id": ids, "embedding": vecs, "label": labels}
    ).to_parquet(tmp_path / "embeddings.parquet")

    sf = str(tmp_path)
    exact = {(r.query_id, r.match_id) for r in q_knn_cosine(spark, sf).collect()}
    assert len(exact) == 8 * 5
    lsh = {(r.query_id, r.match_id) for r in q_knn_lsh(spark, sf).collect()}
    ivf = {(r.query_id, r.match_id) for r in q_knn_ivf(spark, sf).collect()}
    lsh_recall = len(exact & lsh) / len(exact)
    ivf_recall = len(exact & ivf) / len(exact)
    assert lsh_recall >= 0.9, f"q_knn_lsh planted recall: {lsh_recall:.2f}"
    assert ivf_recall >= 0.9, f"q_knn_ivf planted recall: {ivf_recall:.2f}"
    weakcheck("q_knn_lsh", recall_planted_qlevel=lsh_recall)
    weakcheck("q_knn_ivf", recall_planted_qlevel=ivf_recall)


def test_minhash_recall_row_is_self_consistent(spark, weakcheck):
    """q_dedup_minhash_recall is the driver-visible recall readout; pin
    its semantics (found <= true, ppm arithmetic exact) and record the
    measured numbers into the round's WEAKCHECK artifact."""
    from catenae_kafka_spark.operators.llm_dedup import q_dedup_minhash_recall

    r = q_dedup_minhash_recall(spark, SF).collect()[0]
    assert r.n_found <= r.n_true_pairs
    assert r.recall_ppm == (r.n_found * 1_000_000) // r.n_true_pairs
    # banding at (1/16)^(1/4) ~ 0.5 makes J>=0.7 misses vanishingly
    # rare; on these deterministic fixtures the measured value is stable
    assert r.recall_ppm >= 950_000, r
    weakcheck(
        "q_dedup_minhash_recall",
        n_true_pairs=r.n_true_pairs,
        n_found=r.n_found,
        recall_ppm=r.recall_ppm,
        floor_ppm=950_000,
    )


def test_lsh_skew_guard_pair_set_identical(spark, monkeypatch):
    """VERDICT r12 #5: a degenerate mega-bucket (identical docs) must
    not materialize the whole bucket in one collect_list buffer. The
    guarded plan (bucket-size window + per-bucket routing: collect_list
    under the cap, two-sided self-join over it) must emit EXACTLY the
    unguarded plan's pair set — the guard changes memory shape, never
    output."""
    from pyspark.sql import functions as F

    from catenae_kafka_spark.operators import checkpointing
    from catenae_kafka_spark.operators import llm_dedup as ld

    def _optimized(df):
        return df._jdf.queryExecution().optimizedPlan().toString().lower()

    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.lit("alpha beta gamma delta epsilon zeta").alias("text"),
    )
    signed = ld.minhash_signatures(docs).cache()
    try:
        # explicit cap below the 300-doc bucket -> every pair crosses the
        # self-join branch; auto path at this size is the unguarded plan
        capped = ld.minhash_candidate_pairs(signed, bucket_cap=64)
        auto = ld.minhash_candidate_pairs(signed)
        assert capped.exceptAll(auto).count() == 0
        assert auto.exceptAll(capped).count() == 0
        assert capped.count() == 300 * 299 // 2  # all-pairs, one bucket class
        # a cap ABOVE the bucket size routes through collect_list and
        # still matches (small-branch parity)
        wide = ld.minhash_candidate_pairs(signed, bucket_cap=10_000)
        assert wide.exceptAll(auto).count() == 0
        assert auto.exceptAll(wide).count() == 0
        assert "window" not in _optimized(auto)
        # gate forced to 0, and at the real gate an unknown input size:
        # the AUTO path must pick the guarded plan (bucket-size window
        # visible in the plan) and stay identical
        with monkeypatch.context() as mp:
            mp.setattr(ld, "_LSH_GUARD_GATE_BYTES", 0)
            gated = ld.minhash_candidate_pairs(signed)
        with monkeypatch.context() as mp:
            mp.setattr(checkpointing, "_estimated_bytes", lambda df: -1)
            unknown = ld.minhash_candidate_pairs(signed)
        for guarded in (gated, unknown):
            assert "window" in _optimized(guarded)
            assert guarded.exceptAll(auto).count() == 0
            assert auto.exceptAll(guarded).count() == 0
    finally:
        signed.unpersist()


def test_knn_cosine_probe_collect_cap(spark, monkeypatch):
    """VERDICT r12 #9: knn_cosine collects its queries side; the
    operator contract (small probe set) is now ENFORCED — one row over
    the cap raises a loud refusal instead of collecting a data-sized
    side to the driver. At the cap, it still works."""
    import pytest
    from pyspark.sql import functions as F

    from catenae_kafka_spark.operators import llm_similarity as ls

    vecs = spark.range(10).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") + 1).cast("double"), (F.col("id") + 2).cast("double")
        ).alias("embedding"),
    )
    monkeypatch.setattr(ls, "_KNN_PROBE_COLLECT_CAP", 5)
    with pytest.raises(RuntimeError, match="collect cap"):
        ls.knn_cosine(vecs, vecs, k=2)
    # at exactly the cap the operator works unchanged
    probes = vecs.limit(5)
    out = ls.knn_cosine(probes, vecs, k=2)
    assert out.count() == 10  # 5 probes x top-2
