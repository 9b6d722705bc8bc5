"""Similarity search over embedding columns (north-star addition).

- ``q_knn_cosine``: brute-force cosine top-k — the correctness baseline.
  Dot products are higher-order array expressions (zip_with/aggregate),
  JVM-side, double accumulation; top-k via per-query window (per-group
  heap, no global sort).
- ``q_knn_lsh``: random-hyperplane LSH bucketing — the 100 TB candidate
  path. Hyperplane weights are *hash-derived* (xxhash64 of
  (plane, dim)), so the "random" projections are deterministic,
  reproducible across engines/runs, and need no stored model. Probing
  all buckets at Hamming distance <= 1 bounds the recall loss; recall
  vs brute force is asserted in tests.

At 100 TB: brute force is a crossJoin — linear per query but quadratic
in corpus for all-pairs; LSH buckets cut candidates by ~2^bits. The
corpus side shuffles once on bucket id; queries broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from catenae_kafka_spark.catalog import catalog
from catenae_kafka_spark.functions.compat import half_up
from catenae_kafka_spark.functions.ident import quote_ident
from catenae_kafka_spark.registry import REGISTRY


#: Driver-side collect cap for knn_cosine's probe (queries) side. The
#: operator's contract is a bounded probe set (8-20 rows at every
#: registered call site); the cap gives orders-of-magnitude headroom
#: (10k × 64-dim float64 ≈ 5 MB) while refusing a corpus-sized side
#: loudly instead of OOMing the driver (VERDICT r12 #9, mirroring the
#: streaming batch-invariance collect guard).
_KNN_PROBE_COLLECT_CAP = 10_000


def _c(name: str) -> Column:
    """F.col with the name backtick-quoted — parameterized column names
    (id_col/vec_col) must not parse as nested refs when they contain a
    dot or space (ADVICE r10; see functions/ident.py)."""
    return F.col(quote_ident(name))


def _as_double(col) -> Column:
    return F.transform(_c(col) if isinstance(col, str) else col, lambda x: x.cast("double"))


def _norm(e: Column) -> Column:
    return F.sqrt(F.aggregate(e, F.lit(0.0), lambda acc, x: acc + x * x))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _knn_cosine_hof(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pure-JVM higher-order-function form of :func:`knn_cosine`.

    Kept as the executable REFERENCE SEMANTICS for the Arrow kernel:
    tests/test_knn_arrow_parity.py asserts the two paths produce
    identical rows on clean, null-bearing, ragged-length, NaN and empty
    inputs. Catalyst evaluates HOF lambdas interpreted (no codegen), so
    at bench scale the scoring projection costs ~14 µs per pair-core —
    the reason the registered path uses the kernel instead."""
    q = queries.select(
        _c(id_col).alias("query_id"),
        _as_double(vec_col).alias("e_q"),
        _norm(_as_double(vec_col)).alias("n_q"),
    )
    c = corpus.select(
        _c(id_col).alias("match_id"),
        _as_double(vec_col).alias("e_c"),
        _norm(_as_double(vec_col)).alias("n_c"),
    )
    cos = _dot(F.col("e_q"), F.col("e_c")) / (F.col("n_q") * F.col("n_c"))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("match_id"))
        .withColumn("cos_sim", F.round(cos, 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("match_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "match_id", "cos_sim", "rn")
    )


def _knn_score_kernel(qinfo: list, qids_pa):
    """Build the mapInArrow batch function scoring every corpus row
    against the (small, already-collected) query set.

    BIT-IDENTICAL to the HOF form by construction: dot products and
    norms accumulate in ascending dimension order over float64
    (``acc = acc + q[i] * c[i]``, one IEEE multiply + one IEEE add per
    step, exactly the expression tree ``aggregate(zip_with(..))``
    evaluates), ``sqrt`` and the final ``dot / (n_q * n_c)`` are single
    correctly-rounded IEEE ops in both engines, and rounding stays
    JVM-side (``F.round`` on the returned raw cosine). Null semantics
    mirror zip_with/aggregate null propagation: a pair scores non-null
    iff both vectors are non-null, null-element-free and equal-length
    (zip_with pads mismatched lengths with nulls, which nulls the dot).

    ``qinfo`` is a list of (length, norm, float64-ndarray) per query,
    with ``None`` for queries that cannot score (null / null-element
    vectors — their pairs stay null like the HOF form's). ``qids_pa``
    is the matching pyarrow array of query ids, emitted directly so no
    driver-side map table / broadcast join is needed downstream.
    """

    def fn(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        nq = len(qinfo)
        for b in batches:
            n = b.num_rows
            if n == 0 or nq == 0:
                continue
            ids = b.column(0)
            col = b.column(1)
            row_null = (
                col.is_null().to_numpy(zero_copy_only=False)
                if col.null_count
                else np.zeros(n, dtype=bool)
            )
            lens = np.asarray(
                pc.fill_null(pc.list_value_length(col), 0), dtype=np.int64
            )
            lens[row_null] = 0
            vals = pc.list_flatten(col)
            starts = np.concatenate(([0], np.cumsum(lens)))
            if vals.null_count:
                ev_null = np.cumsum(
                    np.concatenate(
                        ([0], vals.is_null().to_numpy(zero_copy_only=False))
                    )
                )
                has_null_elem = (ev_null[starts[1:]] - ev_null[starts[:-1]]) > 0
            else:
                has_null_elem = np.zeros(n, dtype=bool)
            valid = ~row_null & ~has_null_elem
            vals_np = vals.to_numpy(zero_copy_only=False)

            # corpus norms, grouped by vector length (i-ascending acc)
            n_c = np.empty(n, dtype=np.float64)
            for length in np.unique(lens[valid]):
                sel = valid & (lens == length)
                idx = starts[:-1][sel]
                acc = np.zeros(idx.shape[0], dtype=np.float64)
                for i in range(int(length)):
                    x = vals_np[idx + i]
                    acc = acc + x * x
                n_c[sel] = np.sqrt(acc)

            cos_parts = []
            mask_parts = []
            for q in qinfo:
                cos = np.zeros(n, dtype=np.float64)
                ok = np.zeros(n, dtype=bool)
                if q is not None:
                    qlen, qnorm, qv = q
                    sel = valid & (lens == qlen)
                    idx = starts[:-1][sel]
                    acc = np.zeros(idx.shape[0], dtype=np.float64)
                    for i in range(qlen):
                        acc = acc + qv[i] * vals_np[idx + i]
                    denom = qnorm * n_c[sel]
                    # ANSI parity: the HOF form's `dot / (n_q * n_c)`
                    # raises DIVIDE_BY_ZERO for a non-null dot over a
                    # zero norm product (Spark 4 ANSI divide); a pair
                    # is non-null here exactly when it is in `sel`.
                    if denom.size and np.any(denom == 0.0):
                        raise ZeroDivisionError(
                            "[DIVIDE_BY_ZERO] Division by zero: cosine "
                            "norm product is 0 (zero-norm vector in "
                            "queries/corpus), matching the ANSI "
                            "semantics of the JVM reference form"
                        )
                    cos[sel] = acc / denom
                    ok[sel] = True
                cos_parts.append(cos)
                mask_parts.append(ok)
            take_idx = pa.array(np.tile(np.arange(n, dtype=np.int64), nq))
            qid_idx = pa.array(np.repeat(np.arange(nq, dtype=np.int64), n))
            yield pa.record_batch(
                [
                    pc.take(qids_pa, qid_idx),
                    pc.take(ids, take_idx),
                    pa.array(
                        np.concatenate(cos_parts),
                        type=pa.float64(),
                        mask=~np.concatenate(mask_parts),
                    ),
                ],
                names=["query_id", "match_id", "cos_raw"],
            )

    return fn


def knn_cosine(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: every query row scored against every
    corpus row; exact, the correctness baseline (ANN siblings are the
    100 TB candidate path).

    Scoring runs in a ``mapInArrow`` NumPy kernel over the corpus
    (optimization r12, guide §4.2): the former ``aggregate(zip_with)``
    higher-order expressions are evaluated *interpreted* by Catalyst —
    measured ~14 µs per pair-core, 2.2 s of q_knn_cosine's 2.3 s at the
    100× bench rung — while the kernel streams the corpus through
    Arrow once and does the same arithmetic vectorized (bit-identical
    accumulation order; see :func:`_knn_score_kernel`). The query side
    is collected at build time — bounded by design: this operator's
    contract is a SMALL probe set against a corpus (8-20 rows at every
    call site); corpus×corpus similarity goes through the ANN
    operators. Ranking (round, top-k window) stays JVM-side,
    unchanged from the reference form (:func:`_knn_cosine_hof`).
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import DoubleType, StructField, StructType

    q_id_type = queries.select(_c(id_col)).schema[0].dataType
    c_id_type = corpus.select(_c(id_col)).schema[0].dataType
    # Bounded collect (VERDICT r12 #9): the probe side is collected to
    # the driver, which is only safe because this operator's contract
    # is a SMALL probe set (8-20 rows at every registered call site).
    # Enforce the contract instead of assuming it — limit(cap+1) bounds
    # the driver transfer in the same job (no extra count), and one row
    # over the cap raises the same loud refusal as the streaming
    # batch-invariance collect guard. Probe order does not affect the
    # output (results are per query_id; scoring is per pair).
    qrows = (
        queries.select(
            _c(id_col).alias("query_id"), _as_double(vec_col).alias("e_q")
        )
        .limit(_KNN_PROBE_COLLECT_CAP + 1)
        .collect()
    )
    if len(qrows) > _KNN_PROBE_COLLECT_CAP:
        raise RuntimeError(
            f"knn_cosine queries side exceeds the probe-set collect cap "
            f"({_KNN_PROBE_COLLECT_CAP} rows): this operator broadcasts "
            "a SMALL probe set against a corpus; for corpus-scale "
            "similarity use the ANN operators (knn_lsh / lsh_candidate_"
            "pairs), which never collect a data-sized side to the driver"
        )

    qinfo: list = []
    for r in qrows:
        vec = r[1]
        if vec is None or any(x is None for x in vec):
            qinfo.append(None)
            continue
        qv = np.asarray(vec, dtype=np.float64)
        acc = 0.0
        for x in qv:  # i-ascending, like the HOF norm
            acc = acc + float(x) * float(x)
        qinfo.append((len(qv), float(np.sqrt(acc)), qv))
    qids_pa = pa.array([r[0] for r in qrows], type=to_arrow_type(q_id_type))

    out_schema = StructType(
        [
            StructField("query_id", q_id_type),
            StructField("match_id", c_id_type),
            StructField("cos_raw", DoubleType()),
        ]
    )
    scored = (
        corpus.select(
            _c(id_col).alias("match_id"), _as_double(vec_col).alias("e_c")
        )
        .mapInArrow(_knn_score_kernel(qinfo, qids_pa), out_schema)
        .filter(F.col("query_id") != F.col("match_id"))
        .withColumn("cos_sim", F.round(F.col("cos_raw"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("match_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "match_id", "cos_sim", "rn")
    )


@REGISTRY.register(
    "q_knn_cosine",
    tags=("llm", "similarity"),
    bench=True,
    oracle="""
WITH v AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), n AS MATERIALIZED (
  SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v
), scored AS MATERIALIZED (
  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
         ROUND(list_sum(list_transform(generate_series(1, 64),
                                       i -> q.e[i] * c.e[i]))
               / (q.nrm * c.nrm), 6) AS cos_sim
  FROM n q JOIN n c ON q.vec_id != c.vec_id
  WHERE q.vec_id < 8
), ranked AS MATERIALIZED (
  SELECT query_id, match_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, match_id) AS rn
  FROM scored
)
SELECT query_id, match_id, cos_sim, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 5
""",
)
def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 nearest neighbours (cosine) for query vectors vec_id<8."""
    c = catalog(spark, sf_dir)
    emb = c.embeddings
    return knn_cosine(emb.filter(F.col("vec_id") < 8), emb, k=5)


def knn_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    centroid_stride: int = 31,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: a coarse quantizer partitions the corpus into
    inverted lists; each query scans only its ``nprobe`` nearest lists.

    The quantizer is training-free and deterministic — centroids are the
    corpus vectors whose id is a multiple of ``centroid_stride`` (~N/31
    of them), so results are reproducible across runs/engines with no
    stored model (same design choice as ``hyperplane_cells``). A k-means
    quantizer would slot in by swapping the ``cents`` DataFrame.

    At 100 TB: centroids are tiny (~sqrt(N)) and broadcast; assignment
    is a map-side broadcast join + per-row argmax (ONE shuffle, on
    list_id); probing multiplies query fan-out by nprobe but the join
    touches only nprobe/C of the corpus — the linear-scan term drops by
    ~C/nprobe vs brute force."""
    cents = corpus.filter(_c(id_col) % centroid_stride == 0).select(
        _c(id_col).alias("centroid_id"),
        _as_double(vec_col).alias("e_cent"),
        _norm(_as_double(vec_col)).alias("n_cent"),
    )
    cos_cent = _dot(F.col("e_v"), F.col("e_cent")) / (F.col("n_v") * F.col("n_cent"))

    def scored_against_centroids(side: DataFrame, label: str) -> DataFrame:
        v = side.select(
            _c(id_col).alias(label),
            _as_double(vec_col).alias("e_v"),
            _norm(_as_double(vec_col)).alias("n_v"),
        )
        return v.crossJoin(F.broadcast(cents)).withColumn("cent_cos", cos_cent)

    # corpus → exactly one inverted list each: argmax over centroid cosine
    assigned = (
        scored_against_centroids(corpus, "match_id")
        .groupBy("match_id")
        .agg(
            F.max_by("centroid_id", F.struct("cent_cos", "centroid_id")).alias(
                "list_id"
            ),
            F.first("e_v").alias("e_c"),
            F.first("n_v").alias("n_c"),
        )
    )
    # queries → their nprobe nearest lists
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cent_cos").desc(), F.col("centroid_id")
    )
    probed = (
        scored_against_centroids(queries, "query_id")
        .withColumn("probe_rn", F.row_number().over(wq))
        .filter(F.col("probe_rn") <= nprobe)
        .select("query_id", F.col("centroid_id").alias("list_id"), "e_v", "n_v")
    )
    cos = _dot(F.col("e_v"), F.col("e_c")) / (F.col("n_v") * F.col("n_c"))
    scored = (
        probed.join(assigned, "list_id")
        .filter(F.col("query_id") != F.col("match_id"))
        .withColumn("cos_sim", F.round(cos, 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("match_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "match_id", "cos_sim", "rn")
    )


@REGISTRY.register(
    "q_knn_ivf",
    tags=("llm", "similarity", "approx"),
    oracle=None,  # approximate-by-design; recall vs q_knn_cosine is
    # asserted in tests/test_llm_ops.py
)
def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via IVF inverted lists (deterministic coarse quantizer,
    nprobe=3) — the cluster-then-scan alternative to hyperplane LSH."""
    c = catalog(spark, sf_dir)
    emb = c.embeddings
    return knn_ivf(emb.filter(F.col("vec_id") < 8), emb, k=5, nprobe=3)


def hyperplane_cells(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 4,
    tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """(id, tbl, bucket) hyperplane-LSH cell per (vector, table), in the
    codegen-safe explode shape: posexplode the vector, equi-join a tiny
    broadcast weights table (plane × dim rows, hash-derived so there is
    no stored model), partial-agg the per-plane dots, then pack sign
    bits into per-table bucket ids. The per-element work stays inside
    whole-stage codegen — the nested higher-order-function form
    (``lsh_signature``) builds planes×tables lambda pipelines that fall
    out of codegen (STATUS.md fact #5).

    Shuffles: groupBy(id, plane) then groupBy(id, tbl) — both keyed,
    linear in N·dim·planes·tables; no pairwise term.
    """
    spark = vecs.sparkSession
    n_planes = planes * tables
    w = spark.range(n_planes * dim).select(
        F.expr(f"id div {dim}").alias("_p"),
        (F.col("id") % dim).alias("_d"),
        (
            F.pmod(F.xxhash64(F.expr(f"id div {dim}") * 1000 + 7, F.col("id") % dim), F.lit(1000))
            / 1000.0
            - 0.5
        ).alias("_w"),
    )
    ex = vecs.select(
        _c(id_col).alias("_id"), F.posexplode(_c(vec_col)).alias("_d", "_x")
    )
    dots = (
        ex.join(F.broadcast(w), "_d")
        .groupBy("_id", "_p")
        .agg(F.sum(F.col("_x").cast("double") * F.col("_w")).alias("_dot"))
    )
    bits = dots.select(
        "_id",
        F.expr(f"_p div {planes}").alias("tbl"),
        F.expr(
            f"shiftleft(CAST(_dot > 0 AS INT), CAST(_p % {planes} AS INT))"
        ).alias("_bitval"),
    )
    return bits.groupBy("_id", "tbl").agg(F.sum("_bitval").alias("bucket"))


def lsh_candidate_pairs(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 4,
    tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Self-join candidate pairs (id_a < id_b) from multi-table
    hyperplane LSH with Hamming<=1 probing: side A explodes each cell
    into the exact bucket plus its single-bit flips, side B keeps exact
    buckets, so any pair whose signatures differ by <=1 bit in ANY table
    collides. One keyed shuffle on (tbl, bucket); never a cross join.

    Recall tuning: per-plane agreement p = 1 - angle/pi; per-table
    detection p^planes + planes·p^(planes-1)(1-p); across L tables
    1-(1-P_table)^L. At real near-dup thresholds (cos >= 0.8) few
    tables suffice; the fixtures' 0.35 threshold is angularly weak, so
    defaults here use short buckets + several tables and the recall-vs-
    brute-force property is asserted in tests."""
    cells = hyperplane_cells(vecs, id_col, vec_col, planes, tables, dim)
    probes = cells.select(
        "_id",
        "tbl",
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << i))
                    for i in range(planes)
                ],
            )
        ).alias("bucket"),
    )
    a = probes.select(
        F.col("_id").alias("id_a"), "tbl", "bucket"
    )
    b = cells.select(F.col("_id").alias("id_b"), "tbl", "bucket")
    return (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def knn_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    planes: int = 6,
    tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """ANN top-k via multi-table hyperplane LSH with Hamming<=1 probing:
    L independent tables of ``planes`` planes each; corpus vectors hash
    into (table, bucket) cells (hyperplane_cells — the codegen-safe
    explode shape, one keyed shuffle), each query probes its cell plus
    the single-bit flips per table, exact cosine runs only on the
    unioned candidates. Multi-table is what rescues recall when
    neighbours are angularly far — L tables cost L× signature work but
    multiply miss probabilities."""
    corpus_cells = hyperplane_cells(
        corpus, id_col, vec_col, planes=planes, tables=tables, dim=dim
    ).select(F.col("_id").alias("match_id"), "tbl", "bucket")
    q_cells = hyperplane_cells(
        queries, id_col, vec_col, planes=planes, tables=tables, dim=dim
    )
    probes = q_cells.select(
        F.col("_id").alias("query_id"),
        "tbl",
        F.explode(
            F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(planes)],
            )
        ).alias("bucket"),
    )
    cand = (
        probes.join(corpus_cells, ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("match_id"))
        .select("query_id", "match_id")
        .distinct()  # a pair found by several tables/probes scores once
    )
    qv = queries.select(
        _c(id_col).alias("query_id"),
        _as_double(vec_col).alias("e_q"),
        _norm(_as_double(vec_col)).alias("n_q"),
    )
    cv = corpus.select(
        _c(id_col).alias("match_id"),
        _as_double(vec_col).alias("e_c"),
        _norm(_as_double(vec_col)).alias("n_c"),
    )
    cos = _dot(F.col("e_q"), F.col("e_c")) / (F.col("n_q") * F.col("n_c"))
    scored = (
        cand.join(qv, "query_id").join(cv, "match_id").withColumn(
            "cos_sim", F.round(cos, 6)
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("match_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "match_id", "cos_sim", "rn")
    )


@REGISTRY.register(
    "q_knn_lsh",
    tags=("llm", "similarity", "approx"),
    oracle=None,  # approximate-by-design; recall vs q_knn_cosine is
    # asserted in tests/test_llm_ops.py (fixtures + planted clusters)
)
def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via multi-table hyperplane LSH (L=4 tables × 6 planes,
    Hamming<=1 probing) — see ``knn_lsh``; these fixtures are random
    vectors, so the discriminating recall proof runs on planted
    clusters in tests/test_llm_ops.py."""
    c = catalog(spark, sf_dir)
    emb = c.embeddings
    return knn_lsh(
        emb.filter(F.col("vec_id") < 8), emb, k=5, planes=6, tables=4
    )


@REGISTRY.register(
    "q_embed_centroids",
    tags=("llm", "similarity", "vector"),
    oracle="""
SELECT label, pos,
       CAST(FLOOR(
         CAST(SUM(CAST(FLOOR(comp * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
         / COUNT(*)) AS BIGINT) AS c_micro
FROM (
  SELECT label,
         CAST(unnest(embedding) AS DOUBLE) AS comp,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
)
GROUP BY label, pos
""",
)
def q_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, elementwise (the k-means /
    class-prototype building block of embedding pipelines). posexplode
    turns the vector column into (label, pos, comp) rows, then a
    standard two-phase sum/count per (label, pos) — ONE shuffle whose
    width is n_labels x dim (tiny) regardless of corpus size; the
    explode itself is map-side. Long format out (label, pos, c_micro).

    Exact: components quantized to integer micro-units up front
    (round-half-up), centroid = FLOOR-divided integer mean. The
    previous ROUND(AVG(double), 4) form was float-summation-order
    sensitive: at sf0.1 the per-position means shrink toward 0 and
    several landed within one double ulp of a 4dp rounding midpoint,
    flipping the last digit between engines (caught by the sf0.1
    sweep, round 6). Integer sums commute — any order, any engine,
    same result. Floor division spelled explicitly on BOTH engines
    because their integer-division defaults disagree on negatives:
    Spark's ``div`` truncates toward zero (hence (s - pmod(s, n)) div
    n), and DuckDB's integer ``//`` also truncates (hence
    FLOOR(double(s)/n) — safe: a non-multiple s/n sits >= 1/n from any
    integer, far beyond double error at these magnitudes)."""
    c = catalog(spark, sf_dir)
    comp_micro = half_up("comp", 1_000_000)
    return (
        c.embeddings.select(
            "label", F.posexplode(_as_double("embedding")).alias("pos0", "comp")
        )
        # generate_subscripts is 1-based, posexplode 0-based
        .groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(
            F.sum(comp_micro).alias("s"),
            F.count("*").alias("n"),
        )
        .select(
            "label",
            "pos",
            F.expr("(s - pmod(s, n)) div n").cast("bigint").alias("c_micro"),
        )
    )


@REGISTRY.register(
    "q_embed_quantize",
    tags=("similarity", "compression"),
    oracle="""
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), scaled AS (
  SELECT vec_id, label,
         list_max(list_transform(v, x -> ABS(x))) / 127.0 AS scale, v
  FROM e
)
SELECT vec_id, label,
       ROUND(scale, 6) AS scale,
       ROUND(list_max(list_transform(v,
         x -> ABS(x - FLOOR(x / scale + 0.5) * scale))), 6)
         AS max_abs_err,
       CAST(list_max(list_transform(v,
         x -> ABS(FLOOR(x / scale + 0.5)))) AS BIGINT) AS max_code
FROM scaled
""",
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the 4x
    storage/bandwidth compression step before ANN indexes ship to a
    serving tier: per-vector scale = max|x|/127, codes =
    round(x/scale), plus the per-vector reconstruction-error audit
    that decides whether int8 is safe for this corpus.

    Entirely JVM-side higher-order array functions (transform /
    array_max) — no UDF, no shuffle, map-only at any scale. Parity:
    float32 widens to double exactly, quantization uses the explicit
    FLOOR(x/scale + 0.5) form (engine-portable round-half-up, unlike
    ROUND whose half-tie rule differs between engines), and each
    output row derives from its own vector only — no cross-row float
    accumulation anywhere.

    Engine gotcha, found the hard way: the error expressions must be
    computed BEFORE any projection re-aliases a rounded value back to
    the name ``scale`` — Spark's lateral column alias resolution makes
    a later expression in the same SELECT see the new alias, silently
    quantizing against the 6dp-rounded scale."""
    c = catalog(spark, sf_dir)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scaled = c.embeddings.select(
        "vec_id",
        "label",
        v.alias("v"),
        (
            F.array_max(F.transform(v, lambda x: F.abs(x))) / 127.0
        ).alias("scale"),
    )
    code = lambda x: half_up(x / F.col("scale"))  # noqa: E731
    computed = scaled.select(
        "vec_id",
        "label",
        "scale",
        F.array_max(
            F.transform(
                F.col("v"),
                lambda x: F.abs(x - code(x) * F.col("scale")),
            )
        ).alias("raw_err"),
        F.array_max(
            F.transform(F.col("v"), lambda x: F.abs(code(x)))
        )
        .cast("long")
        .alias("max_code"),
    )
    return computed.select(
        "vec_id",
        "label",
        F.round("scale", 6).alias("scale"),
        F.round("raw_err", 6).alias("max_abs_err"),
        "max_code",
    )


@REGISTRY.register(
    "q_cluster_quality",
    tags=("llm", "similarity", "evaluation"),
    oracle="""
WITH comp AS (
  SELECT label,
         generate_subscripts(embedding, 1) AS pos,
         unnest(embedding) AS comp
  FROM embeddings
), cent AS (
  SELECT label, pos, AVG(CAST(comp AS DOUBLE)) AS c
  FROM comp GROUP BY label, pos
), vecd AS (
  SELECT v.vec_id, v.label,
         SQRT(SUM((CAST(v.comp AS DOUBLE) - cent.c)
                  * (CAST(v.comp AS DOUBLE) - cent.c))) AS d
  FROM (
    SELECT vec_id, label,
           generate_subscripts(embedding, 1) AS pos,
           unnest(embedding) AS comp
    FROM embeddings
  ) v
  JOIN cent ON v.label = cent.label AND v.pos = cent.pos
  GROUP BY v.vec_id, v.label
), coh AS (
  SELECT label,
         CAST(COUNT(*) AS BIGINT) AS n,
         AVG(d) AS cohesion
  FROM vecd GROUP BY label
), cdist AS (
  SELECT a.label AS l1, b.label AS l2,
         SQRT(SUM((a.c - b.c) * (a.c - b.c))) AS d
  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label <> b.label
  GROUP BY a.label, b.label
), sep AS (
  SELECT l1 AS label, l2 AS nearest_label, d AS separation
  FROM (
    SELECT l1, l2, d,
           ROW_NUMBER() OVER (PARTITION BY l1 ORDER BY d, l2) AS rn
    FROM cdist
  ) WHERE rn = 1
)
SELECT coh.label, coh.n,
       ROUND(coh.cohesion, 4) AS cohesion,
       sep.nearest_label,
       ROUND(sep.separation, 4) AS separation,
       ROUND(coh.cohesion / sep.separation, 4) AS quality_ratio
FROM coh JOIN sep ON coh.label = sep.label
""",
)
def q_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality audit over the labeled embedding space: per
    label, mean distance of members to their own centroid (cohesion)
    vs distance to the nearest other centroid (separation), and their
    ratio — a Davies-Bouldin-style health check (<1 = compact,
    well-separated; >1 = the label bleeds into a neighbor) for
    auto-labeled / clustered corpora.

    Scale shape: centroids are the posexplode two-phase avg of
    q_embed_centroids (shuffle width = labels x dim), per-vector
    distances join the centroid table BROADCAST on (label, pos) so
    the exploded corpus never shuffles, and the centroid-pair matrix
    is labels^2 rows — driver-free throughout. Distances are rounded
    at 4dp — same float-avg tolerance discipline as the centroid op."""
    c = catalog(spark, sf_dir)
    comp = c.embeddings.select(
        "vec_id",
        "label",
        F.posexplode(_as_double("embedding")).alias("pos0", "comp"),
    ).select("vec_id", "label", (F.col("pos0") + 1).alias("pos"), "comp")
    cent = comp.groupBy("label", "pos").agg(F.avg("comp").alias("cc"))
    vecd = (
        comp.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sqrt(
                F.sum(
                    (F.col("comp") - F.col("cc"))
                    * (F.col("comp") - F.col("cc"))
                )
            ).alias("d")
        )
    )
    coh = vecd.groupBy("label").agg(
        F.count("*").alias("n"), F.avg("d").alias("cohesion")
    )
    a = cent.select(
        F.col("label").alias("l1"), "pos", F.col("cc").alias("c1")
    )
    b = cent.select(
        F.col("label").alias("l2"), "pos", F.col("cc").alias("c2")
    )
    cdist = (
        a.join(b, "pos")
        .filter(F.col("l1") != F.col("l2"))
        .groupBy("l1", "l2")
        .agg(
            F.sqrt(
                F.sum(
                    (F.col("c1") - F.col("c2"))
                    * (F.col("c1") - F.col("c2"))
                )
            ).alias("d")
        )
    )
    w = Window.partitionBy("l1").orderBy("d", "l2")
    sep = (
        cdist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("l1").alias("label"),
            F.col("l2").alias("nearest_label"),
            F.col("d").alias("separation"),
        )
    )
    return coh.join(sep, "label").select(
        "label",
        "n",
        F.round("cohesion", 4).alias("cohesion"),
        "nearest_label",
        F.round("separation", 4).alias("separation"),
        F.round(F.col("cohesion") / F.col("separation"), 4).alias(
            "quality_ratio"
        ),
    )


_Q_SCALE_SQL = (
    "(SELECT MAX(list_max(list_transform(embedding, "
    "x -> ABS(CAST(x AS DOUBLE))))) FROM embeddings)"
)


def quantized_codes(c, with_label: bool = False) -> DataFrame:
    """Integer quantization of the embedding corpus shared by the exact
    ML kernels (PCA / k-means / outliers): code = floor(x / max_abs
    * 15 + 0.5), where max_abs is the CORPUS max absolute component —
    derived from the data, not assumed, so a fixture-drift that
    rescales embeddings cannot push products past BIGINT headroom
    (environment fact #16: fixture encodings drift between rounds).
    One scalar aggregate broadcast into a map-side expression."""
    m = c.embeddings.agg(
        F.max(
            F.array_max(
                F.transform("embedding", lambda v: F.abs(v.cast("double")))
            )
        ).alias("m")
    )
    cols = ["vec_id", "label"] if with_label else ["vec_id"]
    return (
        c.embeddings.crossJoin(F.broadcast(m))
        .select(*cols, "m", F.posexplode("embedding").alias("pos0", "x"))
        .select(
            *cols,
            (F.col("pos0") + 1).alias("i"),
            half_up(F.col("x").cast("double") / F.col("m"), 15).alias("c"),
        )
    )


@REGISTRY.register(
    "q_pca_power",
    tags=("similarity", "ml"),
    oracle="""
WITH q AS (
  SELECT vec_id, t.i,
         CAST(FLOOR(CAST(embedding[t.i] AS DOUBLE)
                    / (SELECT MAX(list_max(list_transform(embedding,
                         x -> ABS(CAST(x AS DOUBLE))))) FROM embeddings)
                    * 15 + 0.5) AS BIGINT) AS c
  FROM embeddings, generate_series(1, 64) t(i)
), cov AS (
  SELECT a.i AS i, b.i AS j, CAST(SUM(a.c * b.c) AS BIGINT) AS cv
  FROM q a JOIN q b ON a.vec_id = b.vec_id
  GROUP BY a.i, b.i
), v1 AS (
  SELECT i, CAST(SUM(cv) AS BIGINT) AS v FROM cov GROUP BY i
), v2 AS (
  SELECT cov.i, CAST(SUM(cov.cv * v1.v) AS BIGINT) AS v
  FROM cov JOIN v1 ON cov.j = v1.i
  GROUP BY cov.i
), ref AS (SELECT MAX(ABS(v)) AS m FROM v2)
SELECT v2.i,
       CAST(FLOOR(CAST(v2.v AS DOUBLE) / CAST(ref.m AS DOUBLE) * 1000000)
            AS BIGINT) AS dir_micro
FROM v2 CROSS JOIN ref
""",
)
def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding corpus (uncentered
    Gram matrix) via POWER ITERATION kept EXACT in integers — the
    distributed-PCA kernel (top component for whitening, drift
    monitoring, or IVF axis selection), oracle-checked bit-for-bit.

    Components quantize to small integer codes (|code| <= 8), so the
    64x64 Gram accumulation and BOTH power-iteration rounds
    (v1 = C*1, v2 = C*v1) are exact BIGINT arithmetic — no float
    summation order anywhere; the one double division (by the max
    absolute component) happens on identical BIGINTs in both engines.
    Scale shape: the Gram outer-product explosion is dim^2 per vector
    with MAP-SIDE partial aggregation, so the shuffle carries at most
    dim^2 = 4096 keys per partition regardless of corpus size; the
    iteration itself runs on a dim-cardinality table with the vector
    broadcast. BIGINT headroom: |v2| <= n_vecs * dim^2 * 8^4 ~ 1.7e12
    per 100k vectors — at larger corpora rescale the quantization or
    shard the Gram accumulation before it nears 2^63."""
    c = catalog(spark, sf_dir)
    q = quantized_codes(c)
    a = q.select("vec_id", F.col("i"), F.col("c").alias("ca"))
    b = q.select("vec_id", F.col("i").alias("j"), F.col("c").alias("cb"))
    cov = (
        a.join(b, "vec_id")
        .groupBy("i", "j")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("cv"))
    )
    v1 = cov.groupBy("i").agg(F.sum("cv").cast("bigint").alias("v"))
    v2 = (
        cov.join(
            F.broadcast(v1.select(F.col("i").alias("j"), F.col("v").alias("vj"))),
            "j",
        )
        .groupBy("i")
        .agg(F.sum(F.col("cv") * F.col("vj")).cast("bigint").alias("v"))
    )
    ref = v2.agg(F.max(F.abs(F.col("v"))).alias("m"))
    return v2.crossJoin(F.broadcast(ref)).select(
        "i",
        F.floor(
            F.col("v").cast("double") / F.col("m").cast("double") * 1000000
        )
        .cast("bigint")
        .alias("dir_micro"),
    )


@REGISTRY.register(
    "q_kmeans_quantized",
    tags=("similarity", "ml"),
    oracle="""
WITH q AS MATERIALIZED (
  SELECT vec_id, t.i,
         CAST(FLOOR(CAST(embedding[t.i] AS DOUBLE)
                    / (SELECT MAX(list_max(list_transform(embedding,
                         x -> ABS(CAST(x AS DOUBLE))))) FROM embeddings)
                    * 15 + 0.5) AS BIGINT) AS c
  FROM embeddings, generate_series(1, 64) t(i)
), seeds AS MATERIALIZED (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS k
  FROM (SELECT DISTINCT vec_id FROM q ORDER BY vec_id LIMIT 4)
), c0 AS MATERIALIZED (
  SELECT s.k, q.i, q.c FROM seeds s JOIN q ON q.vec_id = s.vec_id
), d1 AS MATERIALIZED (
  SELECT q.vec_id, c0.k, CAST(SUM((q.c - c0.c) * (q.c - c0.c)) AS BIGINT) AS d2
  FROM q JOIN c0 ON q.i = c0.i GROUP BY q.vec_id, c0.k
), a1 AS MATERIALIZED (
  SELECT vec_id, k FROM (
    SELECT vec_id, k, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, k) AS rn
    FROM d1
  ) WHERE rn = 1
), c1 AS MATERIALIZED (
  SELECT a1.k, q.i,
         CAST(FLOOR((2 * SUM(q.c) + COUNT(*)) * 1.0 / (2 * COUNT(*))) AS BIGINT) AS c
  FROM a1 JOIN q ON q.vec_id = a1.vec_id
  GROUP BY a1.k, q.i
), d2_ AS MATERIALIZED (
  SELECT q.vec_id, c1.k, CAST(SUM((q.c - c1.c) * (q.c - c1.c)) AS BIGINT) AS d2
  FROM q JOIN c1 ON q.i = c1.i GROUP BY q.vec_id, c1.k
), a2 AS MATERIALIZED (
  SELECT vec_id, k, d2 FROM (
    SELECT vec_id, k, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, k) AS rn
    FROM d2_
  ) WHERE rn = 1
)
SELECT a2.k,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(a2.d2) AS BIGINT) AS inertia,
       CAST((SELECT SUM(c1.c) FROM c1 WHERE c1.k = a2.k) AS BIGINT)
         AS centroid_checksum
FROM a2 GROUP BY a2.k
""",
)
def q_kmeans_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (k=4, one full update round) over
    integer-quantized embeddings, EXACT end to end: squared distances,
    cluster means (integer-rounded via floor((2*sum+n)/(2n)) computed
    on exactly-representable doubles), and the final inertia are all
    BIGINT arithmetic — no float summation order anywhere, so the
    oracle matches bit-for-bit. Deterministic ties: argmin orders by
    (distance, centroid id); seeds are the k lowest vec_ids.

    Scale shape: centroids are a k x dim table BROADCAST to the
    assignment join; each assignment is a map-side explode with
    partial aggregation (shuffle carries n_vecs x k distance rows,
    never the dim-expanded form); the centroid update is one
    (k x dim)-key aggregation. This is the canonical
    broadcast-assign / shuffle-update Lloyd round that runs at any
    corpus size; more rounds = repeat the same two stages."""
    c = catalog(spark, sf_dir)
    q = quantized_codes(c)
    seeds = (
        c.embeddings.select("vec_id")
        .orderBy("vec_id")
        .limit(4)
        .select(
            "vec_id",
            F.row_number().over(Window.orderBy("vec_id")).alias("k"),
        )
    )
    c0 = seeds.join(q, "vec_id").select("k", "i", "c")

    def assign(codes: DataFrame, cents: DataFrame) -> DataFrame:
        cent = cents.select(
            F.col("k"), F.col("i"), F.col("c").alias("cc")
        )
        d = (
            codes.join(F.broadcast(cent), "i")
            .groupBy("vec_id", "k")
            .agg(
                F.sum((F.col("c") - F.col("cc")) * (F.col("c") - F.col("cc")))
                .cast("bigint")
                .alias("d2")
            )
        )
        w = Window.partitionBy("vec_id").orderBy("d2", "k")
        return (
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "k", "d2")
        )

    a1 = assign(q, c0)
    c1 = (
        a1.select("vec_id", "k")
        .join(q, "vec_id")
        .groupBy("k", "i")
        .agg(
            F.floor(
                (2 * F.sum("c") + F.count("*"))
                * F.lit(1.0)
                / (2 * F.count("*"))
            )
            .cast("bigint")
            .alias("c")
        )
    )
    a2 = assign(q, c1)
    checksums = c1.groupBy("k").agg(
        F.sum("c").cast("bigint").alias("centroid_checksum")
    )
    return (
        a2.groupBy("k")
        .agg(
            F.count("*").alias("n_members"),
            F.sum("d2").cast("bigint").alias("inertia"),
        )
        .join(F.broadcast(checksums), "k")
    )


@REGISTRY.register(
    "q_hybrid_rrf",
    tags=("similarity", "search"),
    oracle="""
WITH fusion_domain AS (
  SELECT d.doc_id, d.text, e.embedding
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
), words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM fusion_domain
), dl AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dlen FROM words GROUP BY doc_id
), corpus AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dlen) AS BIGINT) AS total_len FROM dl
), top3 AS (
  SELECT w, rnk FROM (
    SELECT w, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS rnk
    FROM words GROUP BY w
  ) WHERE rnk <= 3
), tf AS (
  SELECT words.doc_id, top3.rnk, CAST(COUNT(*) AS BIGINT) AS tf
  FROM words JOIN top3 ON words.w = top3.w
  GROUP BY words.doc_id, top3.rnk
), df AS (
  SELECT rnk, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY rnk
), terms AS (
  SELECT tf.doc_id, tf.rnk,
         ln((corpus.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
         * (tf.tf * 2.2)
         / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dlen
                           / (CAST(corpus.total_len AS DOUBLE) / corpus.n_docs)))
           AS s
  FROM tf JOIN df ON tf.rnk = df.rnk JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN corpus
), lex AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25_micro DESC, doc_id) AS lex_rank
  FROM (
    SELECT fd.doc_id,
           CAST(FLOOR((COALESCE(MAX(CASE WHEN rnk = 1 THEN s END), 0.0)
                     + COALESCE(MAX(CASE WHEN rnk = 2 THEN s END), 0.0)
                     + COALESCE(MAX(CASE WHEN rnk = 3 THEN s END), 0.0))
                      * 1000000) AS BIGINT) AS bm25_micro
    FROM fusion_domain fd LEFT JOIN terms ON fd.doc_id = terms.doc_id
    GROUP BY fd.doc_id
  )
), qv AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q
  FROM fusion_domain WHERE doc_id = (SELECT MIN(doc_id) FROM fusion_domain)
), vec AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos_micro DESC, doc_id) AS vec_rank
  FROM (
    SELECT fd.doc_id,
           CAST(FLOOR(
             list_sum(list_transform(generate_series(1, 64),
               i -> CAST(fd.embedding[i] AS DOUBLE) * qv.q[i]))
             / (sqrt(list_sum(list_transform(fd.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(qv.q, x -> x * x))))
             * 1000000) AS BIGINT) AS cos_micro
    FROM fusion_domain fd CROSS JOIN qv
  )
)
SELECT lex.doc_id,
       CAST(lex.lex_rank AS BIGINT) AS lex_rank,
       CAST(vec.vec_rank AS BIGINT) AS vec_rank,
       CAST(FLOOR(1000000.0 / (60 + lex.lex_rank))
            + FLOOR(1000000.0 / (60 + vec.vec_rank)) AS BIGINT) AS rrf_micro
FROM lex JOIN vec ON lex.doc_id = vec.doc_id
ORDER BY rrf_micro DESC, lex.doc_id LIMIT 10
""",
)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID RETRIEVAL via reciprocal-rank fusion: the lexical ranking
    (q_bm25's scorer) and the dense ranking (cosine to a deterministic
    query vector) are fused as floor(1e6/(60+rank)) + floor(1e6/
    (60+rank)) — integerized RRF, so the fusion score is exact BIGINT
    arithmetic. This is the retrieval architecture modern RAG /
    training-data search stacks run; the engine expresses BOTH legs
    and the fusion as one declarative plan.

    The fusion domain is docs that have embeddings (doc_id = vec_id).
    Ranks are global row_numbers over that domain — at 100 TB each leg
    keeps only its top-K via TakeOrdered before fusing (documented
    truncation; rank fidelity beyond K is irrelevant to RRF's top
    results), so no global sort survives in the scale path."""
    c = catalog(spark, sf_dir)
    fd = c.documents.join(
        c.embeddings.select(
            F.col("vec_id").alias("doc_id"), "embedding"
        ),
        "doc_id",
    ).select("doc_id", "text", "embedding")
    fd = fd.cache()  # both legs + the query-vector scalar scan it
    words = fd.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    dl = words.groupBy("doc_id").agg(F.count("*").alias("dlen"))
    corpus = dl.agg(
        F.count("*").alias("n_docs"),
        F.sum("dlen").cast("bigint").alias("total_len"),
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
    dfreq = tf.groupBy("rnk").agg(F.countDistinct("doc_id").alias("df"))
    terms = (
        tf.join(F.broadcast(dfreq), "rnk")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            "rnk",
            (
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
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
                        / (F.col("total_len").cast("double") / F.col("n_docs"))
                    )
                )
            ).alias("s"),
        )
    )
    bm25 = (
        fd.select("doc_id")
        .join(terms, "doc_id", "left")
        .groupBy("doc_id")
        .agg(
            *[
                F.coalesce(
                    F.max(F.when(F.col("rnk") == i, F.col("s"))), F.lit(0.0)
                ).alias(f"s{i}")
                for i in (1, 2, 3)
            ]
        )
        .select(
            "doc_id",
            F.floor((F.col("s1") + F.col("s2") + F.col("s3")) * 1000000)
            .cast("bigint")
            .alias("bm25_micro"),
        )
    )
    lex = bm25.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25_micro").desc(), "doc_id"))
        .alias("lex_rank"),
    )
    qv = (
        fd.orderBy("doc_id")
        .limit(1)
        .select(_as_double("embedding").alias("q"))
    )
    e = _as_double("embedding")
    vec = (
        fd.crossJoin(F.broadcast(qv))
        .select(
            "doc_id",
            F.floor(
                _dot(e, F.col("q")) / (_norm(e) * _norm(F.col("q"))) * 1000000
            )
            .cast("bigint")
            .alias("cos_micro"),
        )
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("cos_micro").desc(), "doc_id"))
            .alias("vec_rank"),
        )
    )
    return (
        lex.join(vec, "doc_id")
        .select(
            "doc_id",
            F.col("lex_rank").cast("bigint").alias("lex_rank"),
            F.col("vec_rank").cast("bigint").alias("vec_rank"),
            (
                F.floor(F.lit(1000000.0) / (60 + F.col("lex_rank")))
                + F.floor(F.lit(1000000.0) / (60 + F.col("vec_rank")))
            )
            .cast("bigint")
            .alias("rrf_micro"),
        )
        .orderBy(F.col("rrf_micro").desc(), "doc_id")
        .limit(10)
    )


@REGISTRY.register(
    "q_embed_outliers",
    tags=("similarity", "quality"),
    oracle="""
WITH q AS (
  SELECT vec_id, label, t.i,
         CAST(FLOOR(CAST(embedding[t.i] AS DOUBLE)
                    / (SELECT MAX(list_max(list_transform(embedding,
                         x -> ABS(CAST(x AS DOUBLE))))) FROM embeddings)
                    * 15 + 0.5) AS BIGINT) AS c
  FROM embeddings, generate_series(1, 64) t(i)
), cent AS (
  SELECT label, i,
         CAST(FLOOR((2 * SUM(c) + COUNT(*)) * 1.0 / (2 * COUNT(*))) AS BIGINT) AS c
  FROM q GROUP BY label, i
), d AS (
  SELECT q.vec_id, q.label,
         CAST(SUM((q.c - cent.c) * (q.c - cent.c)) AS BIGINT) AS d2
  FROM q JOIN cent ON q.label = cent.label AND q.i = cent.i
  GROUP BY q.vec_id, q.label
), thr AS (
  SELECT label, quantile_cont(d2, 0.95) AS p95 FROM d GROUP BY label
)
SELECT d.label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN d.d2 > thr.p95 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       CAST(MAX(d.d2) AS BIGINT) AS max_d2
FROM d JOIN thr ON d.label = thr.label
GROUP BY d.label
""",
)
def q_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality outlier detection: per-label squared distance
    to the label centroid, flagging vectors beyond the label's p95 —
    the mislabeled-or-corrupt-vector screen a training pipeline runs
    before contrastive fine-tuning. Centroids use the integer-rounded
    mean (q_kmeans_quantized's rule) and distances are BIGINT, so
    everything up to the R-7 threshold is exact; the label-keyed
    centroid table and thresholds are broadcast back.

    Scale shape: two label-keyed aggregations plus one broadcast join;
    the vector table shuffles on (label) only for its own partials."""
    c = catalog(spark, sf_dir)
    q = quantized_codes(c, with_label=True)
    cent = q.groupBy("label", "i").agg(
        F.floor(
            (2 * F.sum("c") + F.count("*")) * F.lit(1.0) / (2 * F.count("*"))
        )
        .cast("bigint")
        .alias("cc")
    )
    d = (
        q.join(F.broadcast(cent), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum((F.col("c") - F.col("cc")) * (F.col("c") - F.col("cc")))
            .cast("bigint")
            .alias("d2")
        )
    )
    thr = d.groupBy("label").agg(F.percentile("d2", F.lit(0.95)).alias("p95"))
    return (
        d.join(F.broadcast(thr), "label")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.when(F.col("d2") > F.col("p95"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers"),
            F.max("d2").cast("bigint").alias("max_d2"),
        )
    )


@REGISTRY.register(
    "q_centroid_similarity",
    tags=("llm", "similarity", "vector"),
    oracle="""
WITH q AS (
  SELECT label,
         generate_subscripts(embedding, 1) AS pos,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5)
              AS BIGINT) AS qc
  FROM embeddings
), cent AS (
  SELECT label, pos, CAST(SUM(qc) AS BIGINT) AS s
  FROM q GROUP BY label, pos
), pair AS (
  SELECT a.label AS la, b.label AS lb,
         CAST(SUM(a.s * b.s) AS BIGINT) AS dot,
         CAST(SUM(a.s * a.s) AS BIGINT) AS na2,
         CAST(SUM(b.s * b.s) AS BIGINT) AS nb2
  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT la, lb,
       CAST(FLOOR(CAST(dot AS DOUBLE) * 1000000
                  / (SQRT(na2) * SQRT(nb2))) AS BIGINT) AS cos_micro
FROM pair WHERE na2 > 0 AND nb2 > 0
""",
)
def q_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-centroid cosine similarity matrix: how close the classes'
    prototype vectors sit in embedding space — the confusion-risk /
    taxonomy-drift signal read before trusting labels for training
    (near-parallel centroids mean the classes are not separable by
    this embedding).

    Exactness: components quantize to milli-units per VECTOR (floor of
    an identical IEEE product), centroid numerators are BIGINT sums
    (cosine is scale-invariant, so the 1/n and 1/1000 factors cancel
    and never get computed), and the only float step is the final
    dot/(|a||b|) with correctly-rounded sqrt — identical on both
    engines.

    Scale shape: map-side posexplode, ONE shuffle of width
    labels x dim, then a pairwise join on pos over the tiny centroid
    table (all downstream work is corpus-size independent)."""
    c = catalog(spark, sf_dir)
    q = c.embeddings.select(
        "label", F.posexplode(_as_double("embedding")).alias("pos0", "comp")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        half_up("comp", 1000).alias("qc"),
    )
    cent = q.groupBy("label", "pos").agg(
        F.sum("qc").cast("bigint").alias("s")
    )
    a = cent.select(
        F.col("label").alias("la"), "pos", F.col("s").alias("sa")
    )
    b = cent.select(
        F.col("label").alias("lb"),
        F.col("pos").alias("posb"),
        F.col("s").alias("sb"),
    )
    pair = (
        a.join(b, (F.col("pos") == F.col("posb")) & (F.col("la") < F.col("lb")))
        .groupBy("la", "lb")
        .agg(
            F.sum(F.col("sa") * F.col("sb")).cast("bigint").alias("dot"),
            F.sum(F.col("sa") * F.col("sa")).cast("bigint").alias("na2"),
            F.sum(F.col("sb") * F.col("sb")).cast("bigint").alias("nb2"),
        )
        .filter((F.col("na2") > 0) & (F.col("nb2") > 0))
    )
    return pair.select(
        "la",
        "lb",
        F.floor(
            F.col("dot").cast("double")
            * 1000000
            / (F.sqrt("na2") * F.sqrt("nb2"))
        )
        .cast("bigint")
        .alias("cos_micro"),
    )


@REGISTRY.register(
    "q_negative_sampling",
    tags=("llm", "similarity", "training-data"),
    oracle="""
WITH anchors AS (
  SELECT vec_id, label FROM embeddings WHERE vec_id % 11 = 0
), pos AS (
  SELECT a.vec_id AS anchor_id,
         MIN(e.vec_id) AS pos_id
  FROM anchors a JOIN embeddings e
    ON e.label = a.label AND e.vec_id <> a.vec_id
  GROUP BY a.vec_id
), negs AS (
  SELECT anchor_id, neg_id, rnk FROM (
    SELECT a.vec_id AS anchor_id, e.vec_id AS neg_id,
           ROW_NUMBER() OVER (
             PARTITION BY a.vec_id
             ORDER BY md5(a.vec_id || ':' || e.vec_id), e.vec_id) AS rnk
    FROM anchors a JOIN embeddings e ON e.label <> a.label
  ) WHERE rnk <= 3
)
SELECT p.anchor_id, p.pos_id, n.rnk AS neg_rank, n.neg_id
FROM pos p JOIN negs n ON p.anchor_id = n.anchor_id
""",
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair generation: for each anchor vector (a
    1/11 deterministic slice), one POSITIVE (lowest-id same-label
    neighbor) and three md5-ranked NEGATIVES from other labels — the
    (anchor, positive, negatives) triples an embedding model trains
    on, with every 'random' choice engine-portable and rerun-stable
    (same md5 discipline as the samplers).

    Scale shape: positives are a keyed join + min-agg; negatives rank
    a per-anchor candidate set — at corpus scale the candidate join is
    capped by pre-bucketing negatives per label (sample within label
    shards) so the anchor x corpus product never materializes; here
    the label table is small enough to rank directly, and the 1/11
    anchor slice bounds the fan-out."""
    c = catalog(spark, sf_dir)
    anchors = c.embeddings.filter(F.col("vec_id") % 11 == 0).select(
        F.col("vec_id").alias("anchor_id"), F.col("label").alias("alabel")
    )
    pos = (
        anchors.join(
            c.embeddings.select(F.col("vec_id").alias("pid"), "label"),
            (F.col("label") == F.col("alabel"))
            & (F.col("pid") != F.col("anchor_id")),
        )
        .groupBy("anchor_id")
        .agg(F.min("pid").alias("pos_id"))
    )
    cand = anchors.join(
        c.embeddings.select(F.col("vec_id").alias("neg_id"), "label"),
        F.col("label") != F.col("alabel"),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.md5(
            F.concat(
                F.col("anchor_id").cast("string"),
                F.lit(":"),
                F.col("neg_id").cast("string"),
            )
        ),
        "neg_id",
    )
    negs = (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("anchor_id", F.col("rnk").cast("bigint").alias("neg_rank"), "neg_id")
    )
    return pos.join(negs, "anchor_id").select(
        "anchor_id", "pos_id", "neg_rank", "neg_id"
    )


@REGISTRY.register(
    "q_embedding_isotropy",
    tags=("llm", "similarity", "vector", "quality"),
    oracle="""
WITH q AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) AS pos,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5)
              AS BIGINT) AS qc
  FROM embeddings
), cent AS (
  SELECT pos, CAST(SUM(qc) AS BIGINT) AS s FROM q GROUP BY pos
), dots AS (
  SELECT q.vec_id,
         CAST(SUM(q.qc * cent.s) AS BIGINT) AS dot,
         CAST(SUM(q.qc * q.qc) AS BIGINT) AS nv2
  FROM q JOIN cent ON q.pos = cent.pos
  GROUP BY q.vec_id
), cnorm AS (
  SELECT CAST(SUM(s * s) AS BIGINT) AS nc2 FROM cent
), cos AS (
  SELECT CAST(FLOOR(CAST(dot AS DOUBLE) * 1000000
                    / (SQRT(nv2) * SQRT(nc2))) AS BIGINT) AS cos_micro
  FROM dots, cnorm WHERE nv2 > 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(cos_micro) AS BIGINT) // COUNT(*) AS mean_cos_micro,
       CAST(SUM(CASE WHEN cos_micro > 500000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_in_cone
FROM cos
""",
)
def q_embedding_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding isotropy audit: mean cosine of every vector to the
    corpus MEAN DIRECTION, plus how many sit inside the 60-degree cone
    around it — the anisotropy pathology check for embedding spaces (a
    high mean cosine means all vectors share a dominant direction, and
    cosine similarities compress into a narrow band, degrading every
    ANN/dedup operator downstream; the usual fix is mean-centering,
    whose benefit this audit quantifies in advance).

    Exact: milli-quantized components (the 1/n of the mean direction
    cancels in cosine), BIGINT dots/norms, one shared sqrt/divide
    expression floored to micro.

    Scale shape: one posexplode pass, a dim-bounded centroid agg
    (broadcast back), one per-vector rollup."""
    c = catalog(spark, sf_dir)
    q = c.embeddings.select(
        "vec_id", F.posexplode(_as_double("embedding")).alias("pos0", "comp")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        half_up("comp", 1000).alias("qc"),
    )
    cent = q.groupBy("pos").agg(F.sum("qc").cast("bigint").alias("s"))
    dots = (
        q.join(F.broadcast(cent), "pos")
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("qc") * F.col("s")).cast("bigint").alias("dot"),
            F.sum(F.col("qc") * F.col("qc")).cast("bigint").alias("nv2"),
        )
    )
    cnorm = cent.agg(F.sum(F.col("s") * F.col("s")).cast("bigint").alias("nc2"))
    cos = (
        dots.crossJoin(F.broadcast(cnorm))
        .filter(F.col("nv2") > 0)
        .select(
            F.floor(
                F.col("dot").cast("double")
                * 1000000
                / (F.sqrt("nv2") * F.sqrt("nc2"))
            )
            .cast("bigint")
            .alias("cos_micro")
        )
    )
    return cos.agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.expr("sum(cos_micro) div count(*)").alias("mean_cos_micro"),
        F.sum(F.when(F.col("cos_micro") > 500000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_in_cone"),
    )


@REGISTRY.register(
    "q_knn_label_vote",
    tags=("llm", "similarity", "ml"),
    oracle="""
WITH v AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), n AS (
  SELECT vec_id, label, e,
         sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v
), scored AS (
  SELECT q.vec_id AS query_id, q.label AS true_label,
         c.vec_id AS match_id, c.label AS cand_label,
         ROUND(list_sum(list_transform(generate_series(1, 64),
                                       i -> q.e[i] * c.e[i]))
               / (q.nrm * c.nrm), 6) AS cos_sim
  FROM n q JOIN n c ON q.vec_id != c.vec_id
  WHERE q.vec_id < 20
), ranked AS (
  SELECT query_id, true_label, cand_label,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, match_id) AS rn
  FROM scored
), votes AS (
  SELECT query_id, true_label, cand_label,
         CAST(COUNT(*) AS BIGINT) AS n_votes
  FROM ranked WHERE rn <= 5
  GROUP BY query_id, true_label, cand_label
), winner AS (
  SELECT query_id, true_label, cand_label AS predicted_label, n_votes,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY n_votes DESC, cand_label) AS vr
  FROM votes
)
SELECT query_id, CAST(true_label AS BIGINT) AS true_label,
       CAST(predicted_label AS BIGINT) AS predicted_label, n_votes,
       true_label = predicted_label AS correct
FROM winner WHERE vr = 1
""",
)
def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN majority-vote classifier over the embedding space: each
    query vector (vec_id < 20) takes the modal label of its 5 nearest
    cosine neighbours — the classic lazy classifier, and the
    label-propagation primitive used to autolabel a corpus from a
    small seed set. Builds on q_knn_cosine's exact top-k; adds the
    vote (count DESC, label ASC tie-break — total, so both engines
    pick the same winner even on 2-2-1 splits).

    Scale shape: same brute-force baseline as q_knn_cosine over a
    bounded probe set (the ANN siblings are the corpus-x-corpus scale
    path); the vote itself is a 5-rows-per-query aggregation."""
    c = catalog(spark, sf_dir)
    emb = c.embeddings
    knn = knn_cosine(emb.filter(F.col("vec_id") < 20), emb, k=5)
    labels = emb.select("vec_id", F.col("label").cast("bigint").alias("lbl"))
    votes = (
        knn.join(
            F.broadcast(labels.withColumnRenamed("vec_id", "match_vid")),
            F.col("match_id") == F.col("match_vid"),
        )
        .groupBy("query_id", F.col("lbl").alias("cand_label"))
        .agg(F.count("*").cast("bigint").alias("n_votes"))
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("cand_label")
    )
    winner = (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("query_id", F.col("cand_label").alias("predicted_label"), "n_votes")
    )
    truth = labels.select(
        F.col("vec_id").alias("query_id"), F.col("lbl").alias("true_label")
    )
    return winner.join(F.broadcast(truth), "query_id").select(
        "query_id",
        "true_label",
        "predicted_label",
        "n_votes",
        (F.col("true_label") == F.col("predicted_label")).alias("correct"),
    )


@REGISTRY.register(
    "q_embed_pq",
    tags=("llm", "similarity", "vector"),
    oracle="""
WITH v AS MATERIALIZED (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), sub AS MATERIALIZED (
  SELECT vec_id, label, s, e[(s*8+1):(s*8+8)] AS sv
  FROM v, unnest(generate_series(0, 7)) AS t(s)
), cents AS MATERIALIZED (
  SELECT s, vec_id AS cent_id, sv AS cv FROM sub WHERE vec_id % 61 = 0
), scored AS MATERIALIZED (
  SELECT a.vec_id, a.label, a.s, c.cent_id,
         list_sum(list_transform(generate_series(1, 8),
                  i -> (a.sv[i] - c.cv[i]) * (a.sv[i] - c.cv[i]))) AS d2
  FROM sub a JOIN cents c USING (s)
), best AS MATERIALIZED (
  SELECT vec_id, label,
         CAST(FLOOR(d2 * 1000000 + 0.5) AS BIGINT) AS d2_micro
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                     ORDER BY d2, cent_id) AS rn
        FROM scored) WHERE rn = 1
), per_vec AS MATERIALIZED (
  SELECT vec_id, any_value(label) AS label,
         CAST(SUM(d2_micro) AS BIGINT) AS err_micro
  FROM best GROUP BY vec_id
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(err_micro) AS BIGINT) AS sum_err_micro,
       CAST(FLOOR(CAST(SUM(err_micro) AS DOUBLE) / COUNT(*)) AS BIGINT)
         AS mean_err_micro
FROM per_vec GROUP BY label
""",
)
def q_embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jegou et al. 2011, the FAISS IVF-PQ
    compression): split each 64-dim vector into 8 subvectors of 8 dims,
    quantize each against a per-subspace codebook (training-free
    deterministic centroids — the stride-61 vectors' subvectors, the
    q_knn_ivf reproducibility design), and report per-label
    reconstruction error. 8 codes x 1 byte vs 64 floats = 32x
    compression; the error census is the quality side of that trade.

    Parity discipline: the subvector L2 is folded in index order on
    both engines (zip_with + ordered fold vs list_sum/list_transform),
    quantized to integer micro-units PER SUBSPACE before any
    cross-subspace or cross-vector summation — so no float summation
    order exists past the single-expression fold.

    Scale shape: the subspace explode is map-side (x8); codebooks are
    per-subspace EQUI-joined (key = s, fan-out = codebook size — never
    a cross join); argmin per (vec, subspace) and the label census are
    the only shuffles, both on uniform keys. At production scale the
    codebook is trained k-means (swap the cents DataFrame), assignment
    stays identical."""
    c = catalog(spark, sf_dir)
    e = _as_double("embedding")
    v = c.embeddings.select("vec_id", "label", e.alias("e"))
    sub = v.select(
        "vec_id",
        "label",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("s"),
        "e",
    ).select(
        "vec_id",
        "label",
        "s",
        F.slice(F.col("e"), F.col("s") * 8 + 1, 8).alias("sv"),
    )
    cents = sub.filter(F.col("vec_id") % 61 == 0).select(
        "s", F.col("vec_id").alias("cent_id"), F.col("sv").alias("cv")
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("sv"), F.col("cv"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("vec_id", "s").orderBy("d2", "cent_id")
    best = (
        sub.join(cents, "s")
        .withColumn("d2", d2)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "label",
            half_up("d2", 1000000).alias("d2_micro"),
        )
    )
    per_vec = best.groupBy("vec_id").agg(
        F.first("label").alias("label"),
        F.sum("d2_micro").cast("bigint").alias("err_micro"),
    )
    return per_vec.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.sum("err_micro").cast("bigint").alias("sum_err_micro"),
        F.floor(F.sum("err_micro").cast("double") / F.count("*"))
        .cast("bigint")
        .alias("mean_err_micro"),
    )


@REGISTRY.register(
    "q_embed_truncation_recall",
    tags=("llm", "similarity", "vector"),
    oracle="""
WITH v AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), n AS MATERIALIZED (
  SELECT vec_id, e,
         sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm64,
         sqrt(list_sum(list_transform(e[1:16], x -> x * x))) AS nrm16
  FROM v
), anchors AS (SELECT * FROM n WHERE vec_id < 8),
scored AS MATERIALIZED (
  SELECT a.vec_id AS anchor_id, b.vec_id AS cand_id,
         list_sum(list_transform(generate_series(1, 64),
                  i -> a.e[i] * b.e[i])) / (a.nrm64 * b.nrm64) AS cos64,
         list_sum(list_transform(generate_series(1, 16),
                  i -> a.e[i] * b.e[i])) / (a.nrm16 * b.nrm16) AS cos16
  FROM anchors a JOIN n b ON a.vec_id <> b.vec_id
), top64 AS (
  SELECT anchor_id, cand_id FROM (
    SELECT anchor_id, cand_id,
           ROW_NUMBER() OVER (PARTITION BY anchor_id
                              ORDER BY cos64 DESC, cand_id) rn
    FROM scored) WHERE rn <= 5
), top16 AS (
  SELECT anchor_id, cand_id FROM (
    SELECT anchor_id, cand_id,
           ROW_NUMBER() OVER (PARTITION BY anchor_id
                              ORDER BY cos16 DESC, cand_id) rn
    FROM scored) WHERE rn <= 5
)
SELECT t64.anchor_id,
       CAST(COUNT(t16.cand_id) AS BIGINT) AS n_overlap,
       CAST(COUNT(t16.cand_id) * 200000 AS BIGINT) AS recall_ppm
FROM top64 t64 LEFT JOIN top16 t16 USING (anchor_id, cand_id)
GROUP BY t64.anchor_id
""",
)
def q_embed_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-truncation recall audit (the Matryoshka/MRL question:
    can you search on the first 16 of 64 dims?): per anchor, top-5 by
    full-dim cosine vs top-5 by 16-dim-prefix cosine, recall = overlap
    / 5. Random fixture embeddings are NOT trained for truncation, so
    the measured recall is LOW — which is the audit's point: run this
    before enabling truncated search; MRL-trained embeddings score
    high, untrained ones don't, and the operator is how you tell.

    Scale shape: the 8-anchor probe is the reviewed bounded brute-force
    class (q_knn_cosine baseline); both rank windows partition by
    anchor. One scored pass feeds BOTH rankings (the 16-dim cosine is a
    prefix fold of the same rows) — at corpus scale the candidate set
    comes from the ANN path (q_knn_lsh/q_knn_ivf) and this audit runs
    over candidates only."""
    c = catalog(spark, sf_dir)
    e = _as_double("embedding")
    n = c.embeddings.select(
        "vec_id",
        e.alias("e"),
        _norm(e).alias("nrm64"),
        _norm(F.slice(e, 1, 16)).alias("nrm16"),
    )
    a = n.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("e").alias("e_a"),
        F.col("nrm64").alias("a64"),
        F.col("nrm16").alias("a16"),
    )
    b = n.select(
        F.col("vec_id").alias("cand_id"),
        F.col("e").alias("e_b"),
        F.col("nrm64").alias("b64"),
        F.col("nrm16").alias("b16"),
    )
    scored = (
        a.crossJoin(b)
        .filter(F.col("anchor_id") != F.col("cand_id"))
        .select(
            "anchor_id",
            "cand_id",
            (
                _dot(F.col("e_a"), F.col("e_b"))
                / (F.col("a64") * F.col("b64"))
            ).alias("cos64"),
            (
                _dot(F.slice("e_a", 1, 16), F.slice("e_b", 1, 16))
                / (F.col("a16") * F.col("b16"))
            ).alias("cos16"),
        )
    )
    w64 = Window.partitionBy("anchor_id").orderBy(
        F.col("cos64").desc(), "cand_id"
    )
    w16 = Window.partitionBy("anchor_id").orderBy(
        F.col("cos16").desc(), "cand_id"
    )
    top64 = (
        scored.withColumn("rn", F.row_number().over(w64))
        .filter(F.col("rn") <= 5)
        .select("anchor_id", "cand_id")
    )
    top16 = (
        scored.withColumn("rn", F.row_number().over(w16))
        .filter(F.col("rn") <= 5)
        .select("anchor_id", "cand_id")
        .withColumn("_hit", F.lit(1))
    )
    return (
        top64.join(top16, ["anchor_id", "cand_id"], "left")
        .groupBy("anchor_id")
        .agg(
            F.count(F.col("_hit")).cast("bigint").alias("n_overlap"),
            (F.count(F.col("_hit")) * 200000)
            .cast("bigint")
            .alias("recall_ppm"),
        )
    )


@REGISTRY.register(
    "q_hard_negatives",
    tags=("llm", "similarity", "vector"),
    oracle="""
WITH v AS MATERIALIZED (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), n AS MATERIALIZED (
  SELECT vec_id, label, e,
         sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
  FROM v
), anchors AS (SELECT * FROM n WHERE vec_id < 8)
SELECT anchor_id, rn AS rank, cand_id, cos_sim FROM (
  SELECT a.vec_id AS anchor_id, b.vec_id AS cand_id,
         ROUND(list_sum(list_transform(generate_series(1, 64),
               i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm), 6) AS cos_sim,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id
           ORDER BY list_sum(list_transform(generate_series(1, 64),
                    i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm) DESC,
                    b.vec_id) AS rn
  FROM anchors a JOIN n b ON a.label <> b.label)
WHERE rn <= 3
""",
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    top-3 most-similar vectors with a DIFFERENT label — the negatives
    that actually teach a bi-encoder something (random negatives are
    trivially separable; the hard ones sit near the decision boundary).
    Deterministic (cosine DESC, vec_id) ranking, 6dp-rounded scores.

    Scale shape: the 8-anchor probe x corpus non-equi (label <>) join
    is the reviewed bounded brute-force class; per-anchor rank windows.
    In production the anchor batch is the training batch (hundreds),
    candidates come from the ANN index (q_knn_lsh buckets), and the
    label-exclusion filter rides the candidate join — identical
    ranking logic over a pruned candidate set."""
    c = catalog(spark, sf_dir)
    e = _as_double("embedding")
    n = c.embeddings.select(
        "vec_id", "label", e.alias("e"), _norm(e).alias("nrm")
    )
    a = n.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("label_a"),
        F.col("e").alias("e_a"),
        F.col("nrm").alias("n_a"),
    )
    b = n.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("label_b"),
        F.col("e").alias("e_b"),
        F.col("nrm").alias("n_b"),
    )
    cos = _dot(F.col("e_a"), F.col("e_b")) / (F.col("n_a") * F.col("n_b"))
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("_cos").desc(), "cand_id"
    )
    return (
        a.crossJoin(b)
        .filter(F.col("label_a") != F.col("label_b"))
        .withColumn("_cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "anchor_id",
            "rank",
            "cand_id",
            F.round(F.col("_cos"), 6).alias("cos_sim"),
        )
    )
