"""ML-evaluation and statistical-audit operators: ROC AUC, Welch's
t-test, Gini concentration, Markov transition matrices.

The evaluation half of a training-data pipeline: once a model (or a
labeling heuristic) scores the corpus, the engine must grade it — AUC
against ground truth, significance tests between experiment arms,
concentration audits over value distributions, and behavioral
transition models. All four are exact (not sampled): the parity
discipline is "quantize doubles to integer micro-units at the source,
do every aggregation in exact BIGINT arithmetic, divide once at the
end" — the final IEEE double division of exact integers is
bit-identical across engines, so these queries hash-match the DuckDB
oracle without tolerance hacks.

Scale design: the one globally-ordered computation here (the AUC rank
scan) uses a two-phase bucketed prefix sum — per-bucket partials, a
tiny cumulative pass over the bucket summary (thousands of rows at any
data size), broadcast back — so no single-partition window ever sees
the full score distribution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from catenae_kafka_spark.catalog import catalog
from catenae_kafka_spark.functions.compat import half_up
from catenae_kafka_spark.operators.checkpointing import materialize
from catenae_kafka_spark.registry import REGISTRY


def _select_order_stats(per_v: DataFrame, ks: DataFrame) -> DataFrame:
    """Select exact order statistics WITHOUT a global row sort.

    ``per_v`` is a per-value count summary ``(cents, cnt)`` (already
    aggregated — its row count is the number of DISTINCT values, never
    the corpus size); ``ks`` is a tiny broadcastable rank spine with a
    BIGINT ``k`` column (plus any passthrough columns). Returns one row
    per ``ks`` row: the spine columns plus the ``cents`` value whose
    global ascending rank interval ``(cum_before, cum_before + cnt]``
    contains ``k``. Ties share a value, so no row-level tiebreaker can
    change the selected VALUE — the result equals a
    ``ROW_NUMBER() OVER (ORDER BY cents, anything)`` selection.

    Scale shape (the q_auc_rank two-phase discipline): per-bucket
    totals cumulate over a ~score-range/1000-row bucket summary, then a
    per-bucket window over the distinct-value summary finishes the
    prefix — no single-partition window ever sees raw fact rows."""
    return _cum_counts(per_v).join(
        F.broadcast(ks),
        (F.col("k") > F.col("cum_before"))
        & (F.col("k") <= F.col("cum_before") + F.col("cnt")),
    )


def _cum_counts(per_v: DataFrame) -> DataFrame:
    """Attach ``cum_before`` (count of rows with strictly smaller value)
    to a per-value count summary ``(cents, cnt)`` via the two-phase
    bucketed prefix sum: bucket totals cumulate over the bucket summary,
    a per-bucket window over the distinct-value summary finishes the
    prefix. Value ``cents`` occupies global ascending ranks
    ``(cum_before, cum_before + cnt]``."""
    s = per_v.withColumn("bucket", F.expr("cents div 1000"))
    bt = s.groupBy("bucket").agg(F.sum("cnt").alias("bn"))
    w_b = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    boff = bt.select(
        "bucket", F.coalesce(F.sum("bn").over(w_b), F.lit(0)).alias("boff")
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        s.join(F.broadcast(boff), "bucket")
        .withColumn(
            "cum_before",
            F.col("boff") + F.coalesce(F.sum("cnt").over(w_in), F.lit(0)),
        )
        .drop("bucket", "boff")
    )


@REGISTRY.register(
    "q_auc_rank",
    tags=("mlstats", "evaluation"),
    oracle="""
WITH scored AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS s,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_pos
  FROM events
), by_score AS (
  SELECT s,
         CAST(SUM(is_pos) AS BIGINT) AS p,
         CAST(SUM(1 - is_pos) AS BIGINT) AS n
  FROM scored GROUP BY s
), ranked AS (
  SELECT p, n,
         COALESCE(SUM(n) OVER (ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS neg_below
  FROM by_score
), tot AS (
  SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
         CAST(SUM(n) AS BIGINT) AS n_neg,
         CAST(SUM(p * (2 * neg_below + n)) AS BIGINT) AS numer2
  FROM ranked
)
SELECT n_pos, n_neg,
       CAST(numer2 AS DOUBLE) / (2.0 * n_pos * n_neg) AS auc
FROM tot
""",
)
def q_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC by rank statistic (Mann-Whitney U): P(random positive
    scores above random negative), ties counted half. Positives are
    'purchase' events, the score is ``value``.

    Exact at any scale: scores quantize to integer cents, pair counts
    stay in BIGINT (concordant pairs doubled + tied pairs once), and
    the single final division is bit-identical across engines. The
    rank scan is a two-phase bucketed prefix sum — per-score-bucket
    negative counts cumulate over a bucket summary of ~500 rows
    regardless of corpus size, then broadcast back — so unlike the
    textbook ``ORDER BY score`` window, no executor ever materializes
    a global sort. At 100 TB the only shuffle is the groupBy(score).
    """
    c = catalog(spark, sf_dir)
    scored = c.events.select(
        half_up("value", 100).alias("s"),
        (F.col("event_type") == "purchase").cast("long").alias("is_pos"),
    )
    by_score = scored.groupBy("s").agg(
        F.sum("is_pos").alias("p"),
        (F.count("*") - F.sum("is_pos")).alias("n"),
    ).withColumn("bucket", F.floor(F.col("s") / 1000))

    # Phase 1: per-bucket negative totals; Phase 2: tiny cumulative
    # window over the bucket summary (bounded by the score range, not
    # the row count); Phase 3: broadcast offsets back, finish with a
    # per-bucket window.
    bucket_tot = by_score.groupBy("bucket").agg(F.sum("n").alias("bn"))
    w_buckets = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bucket_tot.select(
        "bucket",
        F.coalesce(F.sum("bn").over(w_buckets), F.lit(0)).alias("offset"),
    )
    w_in_bucket = (
        Window.partitionBy("bucket")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = (
        by_score.join(F.broadcast(offsets), "bucket")
        .withColumn(
            "neg_below",
            F.col("offset")
            + F.coalesce(F.sum("n").over(w_in_bucket), F.lit(0)),
        )
    )
    tot = ranked.agg(
        F.sum("p").alias("n_pos"),
        F.sum("n").alias("n_neg"),
        F.sum(
            F.col("p") * (2 * F.col("neg_below") + F.col("n"))
        ).alias("numer2"),
    )
    return tot.select(
        "n_pos",
        "n_neg",
        # try_divide: AUC is undefined with no positives (or no
        # negatives) — DuckDB's x/0 yields NULL; ANSI / would raise
        # (degenerate fuzz fixture: a single event type)
        F.try_divide(
            F.col("numer2").cast("double"),
            F.lit(2.0) * F.col("n_pos") * F.col("n_neg"),
        ).alias("auc"),
    )


@REGISTRY.register(
    "q_ab_ttest",
    tags=("mlstats", "evaluation"),
    oracle="""
WITH q AS (
  SELECT event_type,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events WHERE event_type IN ('click', 'view')
), g AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS ss
  FROM q GROUP BY event_type
), w AS (
  SELECT
    MAX(CASE WHEN event_type = 'click' THEN n END) AS n1,
    MAX(CASE WHEN event_type = 'click' THEN s END) AS s1,
    MAX(CASE WHEN event_type = 'click' THEN ss END) AS ss1,
    MAX(CASE WHEN event_type = 'view' THEN n END) AS n2,
    MAX(CASE WHEN event_type = 'view' THEN s END) AS s2,
    MAX(CASE WHEN event_type = 'view' THEN ss END) AS ss2
  FROM g
), v AS (
  SELECT n1, n2,
         CAST(s1 AS DOUBLE) / n1 / 100.0 AS m1,
         CAST(s2 AS DOUBLE) / n2 / 100.0 AS m2,
         (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
           / (n1 - 1) / 10000.0 AS v1,
         (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
           / (n2 - 1) / 10000.0 AS v2
  FROM w
)
SELECT n1 AS n_a, n2 AS n_b,
       ROUND(m1 - m2, 6) AS mean_diff,
       ROUND((m1 - m2) / SQRT(v1 / n1 + v2 / n2), 6) AS t_stat,
       ROUND(
         (v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
         / ((v1 / n1) * (v1 / n1) / (n1 - 1)
            + (v2 / n2) * (v2 / n2) / (n2 - 1)), 4) AS dof
FROM v
""",
)
def q_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between two experiment arms
    ('click' vs 'view' event values) with Welch-Satterthwaite degrees
    of freedom — the decision gate of every A/B experiment readout.

    One scan, one tiny two-row aggregate: counts / sums / sums-of-
    squares accumulate in exact BIGINT cents (order-insensitive, no
    float drift at any partition count), and the t statistic is
    assembled on two rows of driver-free arithmetic. At 100 TB this is
    a map-side partial agg and a 2-row exchange; for sums of squares
    beyond ~2^63 the partials would widen to DECIMAL(38,0) — noted,
    not needed at fixture magnitudes.
    """
    c = catalog(spark, sf_dir)
    q = c.events.filter(F.col("event_type").isin("click", "view")).select(
        "event_type", half_up("value", 100).alias("c")
    )
    g = q.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )

    def pick(col: str, arm: str) -> "F.Column":
        return F.max(F.when(F.col("event_type") == arm, F.col(col)))

    w = g.agg(
        pick("n", "click").alias("n1"),
        pick("s", "click").alias("s1"),
        pick("ss", "click").alias("ss1"),
        pick("n", "view").alias("n2"),
        pick("s", "view").alias("s2"),
        pick("ss", "view").alias("ss2"),
    )
    m1 = F.col("s1").cast("double") / F.col("n1") / 100.0
    m2 = F.col("s2").cast("double") / F.col("n2") / 100.0
    v1 = (
        (
            F.col("ss1").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / F.col("n1")
        )
        / (F.col("n1") - 1)
        / 10000.0
    )
    v2 = (
        (
            F.col("ss2").cast("double")
            - F.col("s2").cast("double") * F.col("s2") / F.col("n2")
        )
        / (F.col("n2") - 1)
        / 10000.0
    )
    se1 = v1 / F.col("n1")
    se2 = v2 / F.col("n2")
    return w.select(
        F.col("n1").alias("n_a"),
        F.col("n2").alias("n_b"),
        F.round(m1 - m2, 6).alias("mean_diff"),
        F.round((m1 - m2) / F.sqrt(se1 + se2), 6).alias("t_stat"),
        F.round(
            (se1 + se2) * (se1 + se2)
            / (se1 * se1 / (F.col("n1") - 1) + se2 * se2 / (F.col("n2") - 1)),
            4,
        ).alias("dof"),
    )


@REGISTRY.register(
    "q_gini",
    tags=("mlstats", "audit"),
    oracle="""
WITH q AS (
  SELECT o_orderpriority,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c,
         ROW_NUMBER() OVER (
           PARTITION BY o_orderpriority
           ORDER BY FLOOR(o_totalprice * 100 + 0.5), o_orderkey) AS rn
  FROM orders
), g AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s0,
         CAST(SUM(rn * c) AS BIGINT) AS s1
  FROM q GROUP BY o_orderpriority
)
SELECT o_orderpriority, n,
       (2.0 * s1) / (CAST(n AS DOUBLE) * s0)
         - (CAST(n AS DOUBLE) + 1.0) / n AS gini
FROM g
""",
)
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order value per priority class — the
    concentration audit ("do 1% of orders carry 50% of revenue?") that
    decides whether a key distribution needs skew handling before it
    hits a 1000-executor shuffle.

    Uses the sorted-rank identity G = 2*Sum(i*x_i)/(n*Sum(x)) -
    (n+1)/n with prices in exact cents and deterministic (value, key)
    tie-break, so every sum is integer-exact and the closing double
    expression — written identically in the oracle — is bit-identical.
    The rank window partitions by priority class; at scale a heavier
    partition would reuse the bucketed prefix-sum pattern from
    q_auc_rank.
    """
    c = catalog(spark, sf_dir)
    cents = half_up("o_totalprice", 100)
    w = Window.partitionBy("o_orderpriority").orderBy(cents, "o_orderkey")
    q = c.orders.select(
        "o_orderpriority",
        cents.alias("c"),
        F.row_number().over(w).alias("rn"),
    )
    g = q.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s0"),
        F.sum(F.col("rn") * F.col("c")).alias("s1"),
    )
    return g.select(
        "o_orderpriority",
        "n",
        (
            (F.lit(2.0) * F.col("s1"))
            / (F.col("n").cast("double") * F.col("s0"))
            - (F.col("n").cast("double") + F.lit(1.0)) / F.col("n")
        ).alias("gini"),
    )


@REGISTRY.register(
    "q_transition_matrix",
    tags=("mlstats", "behavior"),
    oracle="""
WITH seq AS (
  SELECT event_type AS cur,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events
), pairs AS (
  SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE nxt IS NOT NULL
  GROUP BY cur, nxt
)
SELECT cur, nxt, n,
       CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY cur) AS prob
FROM pairs
""",
)
def q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams: P(next event type | current event type). The behavioral
    model behind session simulation, curriculum ordering, and anomaly
    scoring ("a 'purchase' after 'error' is rare").

    One shuffle on user_id for the lead() window (per-user partitions,
    event-time ordered with event_id tie-break), then a 25-cell
    aggregate; the row-count normalization is a window over at most
    |types| partitions of |types| rows. Counts are exact, the closing
    probability is one BIGINT division.
    """
    c = catalog(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = c.events.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    pairs = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count("*").alias("n"))
    )
    w_cur = Window.partitionBy("cur")
    return pairs.select(
        "cur",
        "nxt",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w_cur)).alias("prob"),
    )


@REGISTRY.register(
    "q_zipf_fit",
    tags=("mlstats", "text"),
    oracle="""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
), counts AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n
  FROM words WHERE word <> '' GROUP BY word
), ranked AS (
  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, word) AS rnk
  FROM counts
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
       ROUND(regr_slope(LN(CAST(n AS DOUBLE)),
                        LN(CAST(rnk AS DOUBLE))), 4) AS zipf_slope,
       ROUND(regr_r2(LN(CAST(n AS DOUBLE)),
                     LN(CAST(rnk AS DOUBLE))), 4) AS fit_r2
FROM ranked WHERE rnk <= 500
""",
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: regress log(count)
    on log(rank) for the top-500 words — slope near -1 is the
    signature of natural language, and a flat or broken slope is the
    cheapest corpus-health alarm there is (template spam flattens it,
    truncation bends it).

    Word counts aggregate exactly; ranking is deterministic under ties
    via (count desc, word), and the top-500 selection is two-phase so
    the global window never sees the vocabulary: each of 64 hash
    buckets keeps its local top-500 (partitioned window), and only the
    <=32k survivors reach the final rank — any word in the true global
    top-500 is in its bucket's top-500, so the prune is lossless. The
    regression then runs over a fixed 500-row set, so the float
    reduction is tiny and 4dp rounding absorbs summation-order jitter.
    One shuffle for the word count, one scalar out."""
    c = catalog(spark, sf_dir)
    counts = (
        c.documents.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    w_bucket = Window.partitionBy(
        F.crc32(F.col("word")) % 64
    ).orderBy(F.col("n").desc(), "word")
    candidates = counts.withColumn(
        "_brn", F.row_number().over(w_bucket)
    ).filter(F.col("_brn") <= 500)
    w = Window.orderBy(F.col("n").desc(), "word")
    ranked = candidates.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 500
    )
    ln_n = F.log(F.col("n").cast("double"))
    ln_r = F.log(F.col("rnk").cast("double"))
    return ranked.agg(
        F.count("*").alias("n_words"),
        F.round(F.regr_slope(ln_n, ln_r), 4).alias("zipf_slope"),
        F.round(F.regr_r2(ln_n, ln_r), 4).alias("fit_r2"),
    )


@REGISTRY.register(
    "q_changepoint",
    tags=("mlstats", "timeseries"),
    oracle="""
WITH seq AS (
  SELECT user_id,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c,
         ROW_NUMBER() OVER w AS t,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER (
           w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS s_t,
         CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER (
           PARTITION BY user_id) AS BIGINT) AS s_n
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), scored AS (
  SELECT user_id, t AS split_idx, n,
         (CAST(t AS DOUBLE) * (n - t) / n)
           * (CAST(s_t AS DOUBLE) / t - CAST(s_n - s_t AS DOUBLE) / (n - t))
           * (CAST(s_t AS DOUBLE) / t - CAST(s_n - s_t AS DOUBLE) / (n - t))
           AS score,
         ROW_NUMBER() OVER (
           PARTITION BY user_id
           ORDER BY (CAST(t AS DOUBLE) * (n - t) / n)
             * (CAST(s_t AS DOUBLE) / t - CAST(s_n - s_t AS DOUBLE) / (n - t))
             * (CAST(s_t AS DOUBLE) / t - CAST(s_n - s_t AS DOUBLE) / (n - t))
             DESC, t
         ) AS rn
  FROM seq WHERE t < n
)
SELECT user_id, split_idx, n AS n_events,
       ROUND(score / 10000.0, 6) AS score
FROM scored WHERE rn = 1
""",
)
def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point detection per user series: the split index
    maximizing the between-segment variance n_l*n_r/n * (mean_l -
    mean_r)^2 — the exact-search core of CUSUM/binary-segmentation
    ("when did this user's behavior change?").

    Every candidate split scores from one pass of prefix sums in exact
    cents (per-user windows, event-time ordered, event_id tie-break);
    the argmax is a second per-user window with deterministic (score
    desc, t) tie-break. Scores are identical doubles from identical
    integers in both engines, so even the argmax ordering hash-matches.
    Per-key series keep the windows partitioned; an extreme single-user
    series would reuse the bucketed prefix pattern from q_auc_rank."""
    c = catalog(spark, sf_dir)
    cents = half_up("value", 100)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_all = Window.partitionBy("user_id")
    seq = c.events.select(
        "user_id",
        cents.alias("c"),
        F.row_number().over(w).alias("t"),
        F.sum(cents)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("s_t"),
        F.count("*").over(w_all).alias("n"),
        F.sum(cents).over(w_all).alias("s_n"),
    )
    mean_l = F.col("s_t").cast("double") / F.col("t")
    mean_r = (F.col("s_n") - F.col("s_t")).cast("double") / (
        F.col("n") - F.col("t")
    )
    score = (
        F.col("t").cast("double")
        * (F.col("n") - F.col("t"))
        / F.col("n")
        * (mean_l - mean_r)
        * (mean_l - mean_r)
    )
    w_best = Window.partitionBy("user_id").orderBy(
        score.desc(), "t"
    )
    scored = (
        seq.filter(F.col("t") < F.col("n"))
        .withColumn("score", score)
        .withColumn("rn", F.row_number().over(w_best))
    )
    return scored.filter(F.col("rn") == 1).select(
        "user_id",
        F.col("t").alias("split_idx"),
        F.col("n").alias("n_events"),
        F.round(F.col("score") / 10000.0, 6).alias("score"),
    )


@REGISTRY.register(
    "q_calibration_bins",
    tags=("mlstats", "evaluation"),
    oracle="""
WITH scored AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
), ext AS (
  SELECT MAX(c) AS mx FROM scored
), binned AS (
  SELECT LEAST(CAST(FLOOR(c * 10.0 / (mx + 1)) AS BIGINT), 9) AS bin,
         c, y
  FROM scored CROSS JOIN ext
)
SELECT bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       CAST(SUM(c) AS DOUBLE) / COUNT(*) / 100.0 AS mean_score,
       CAST(SUM(y) AS DOUBLE) / COUNT(*) AS pos_rate
FROM binned GROUP BY bin
""",
)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability table: scores bucketed into 10 equal-
    width bins, each reporting mean score vs observed positive rate —
    the companion readout to q_auc_rank (AUC says the ranking is good;
    calibration says the probabilities mean what they claim).

    The score range comes from a 1-row broadcast extremum, binning is
    a map-side expression, and both per-bin means divide exact BIGINT
    sums — one scan, one 10-row aggregate at any scale."""
    c = catalog(spark, sf_dir)
    scored = c.events.select(
        half_up("value", 100).alias("c"),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
    )
    ext = scored.agg(F.max("c").alias("mx"))
    binned = scored.crossJoin(F.broadcast(ext)).select(
        F.least(
            F.floor(F.col("c") * 10.0 / (F.col("mx") + 1)).cast("long"),
            F.lit(9),
        ).alias("bin"),
        "c",
        "y",
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("y").alias("n_pos"),
        (F.sum("c").cast("double") / F.count("*") / 100.0).alias(
            "mean_score"
        ),
        (F.sum("y").cast("double") / F.count("*")).alias("pos_rate"),
    )


@REGISTRY.register(
    "q_acf_daily",
    tags=("mlstats", "timeseries"),
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS c
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), lagged AS (
  SELECT d.event_type, lags.lag AS lag_d, d.c AS x,
         LAG(d.c, lags.lag) OVER (
           PARTITION BY d.event_type, lags.lag ORDER BY d.day) AS y
  FROM daily d CROSS JOIN (SELECT unnest([1, 2, 3]) AS lag) lags
), pairs AS (
  SELECT event_type, lag_d,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM lagged WHERE y IS NOT NULL
  GROUP BY event_type, lag_d
)
SELECT event_type, lag_d, n,
       ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             / SQRT((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                    * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)),
             6) AS acf
FROM pairs
""",
)
def q_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily revenue series at lags 1-3 per
    event type — the seasonality probe run before choosing a
    forecasting window or a streaming watermark horizon (high lag-7
    ACF means weekly cycles; near-zero means the series is noise).

    Daily sums are exact cents; each lag's Pearson correlation is
    assembled from six BIGINT power sums in one aggregate, so the
    final expression is the same double in both engines. The lag
    window partitions by (type, lag) over day-count-sized series; the
    lag fan-out is a 3-row broadcast cross join."""
    c = catalog(spark, sf_dir)
    cents = half_up("value", 100)
    daily = c.events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(cents).alias("c"))
    # Spark's lag() needs a literal offset (the oracle's lateral
    # lag-by-column has no DataFrame twin) — build the three lags
    # explicitly and union, keeping the plan a per-lag window each.
    parts = []
    for k in (1, 2, 3):
        wk = Window.partitionBy("event_type").orderBy("day")
        parts.append(
            daily.select(
                "event_type",
                F.lit(k).alias("lag_d"),
                F.col("c").alias("x"),
                F.lag("c", k).over(wk).alias("y"),
            )
        )
    lagged = parts[0].unionByName(parts[1]).unionByName(parts[2])
    pairs = (
        lagged.filter(F.col("y").isNotNull())
        .groupBy("event_type", "lag_d")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    num = F.col("n") * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    den = F.sqrt(
        (
            F.col("n") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx")
        )
        * (
            F.col("n") * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy")
        )
    )
    return pairs.select(
        "event_type",
        "lag_d",
        "n",
        F.round(num / den, 6).alias("acf"),
    )


@REGISTRY.register(
    "q_ks_statistic",
    tags=("mlstats", "evaluation"),
    oracle="""
WITH scored AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS s,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
  FROM events WHERE event_type IN ('click', 'view')
), by_score AS (
  SELECT s, CAST(SUM(a) AS BIGINT) AS na,
         CAST(SUM(1 - a) AS BIGINT) AS nb
  FROM scored GROUP BY s
), cum AS (
  SELECT s,
         CAST(SUM(na) OVER (ORDER BY s) AS BIGINT) AS ca,
         CAST(SUM(nb) OVER (ORDER BY s) AS BIGINT) AS cb,
         CAST(SUM(na) OVER () AS BIGINT) AS ta,
         CAST(SUM(nb) OVER () AS BIGINT) AS tb
  FROM by_score
), gap AS (
  SELECT s, ABS(ca * tb - cb * ta) AS cross_gap, ta, tb,
         ROW_NUMBER() OVER (
           ORDER BY ABS(ca * tb - cb * ta) DESC, s) AS rn
  FROM cum
)
SELECT ta AS n_a, tb AS n_b, s AS ks_at_score,
       CAST(cross_gap AS DOUBLE) / (ta * tb) AS ks_stat
FROM gap WHERE rn = 1
""",
)
def q_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the click and
    view value distributions: max |F_a(s) - F_b(s)| over the merged
    score domain, plus the score where the gap peaks — the
    distribution-shift test behind drift monitors and A/A checks.

    Fully exact: the sup-gap compares integer CROSS-PRODUCTS
    (|ca*tb - cb*ta|) so the argmax needs no division at all, ties
    break on the score, and the single closing division is the only
    float. Cumulative counts ride the same bucketed-prefix pattern as
    q_auc_rank at scale; here the distinct-cents domain bounds the
    window."""
    c = catalog(spark, sf_dir)
    scored = c.events.filter(
        F.col("event_type").isin("click", "view")
    ).select(
        half_up("value", 100).alias("s"),
        (F.col("event_type") == "click").cast("long").alias("a"),
    )
    by_score = scored.groupBy("s").agg(
        F.sum("a").alias("na"),
        (F.count("*") - F.sum("a")).alias("nb"),
    )
    w_cum = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    cum = by_score.select(
        "s",
        F.sum("na").over(w_cum).alias("ca"),
        F.sum("nb").over(w_cum).alias("cb"),
        F.sum("na").over(w_all).alias("ta"),
        F.sum("nb").over(w_all).alias("tb"),
    )
    gap = cum.select(
        "s",
        "ta",
        "tb",
        F.abs(
            F.col("ca") * F.col("tb") - F.col("cb") * F.col("ta")
        ).alias("cross_gap"),
    )
    w_best = Window.orderBy(F.col("cross_gap").desc(), "s")
    return (
        gap.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select(
            F.col("ta").alias("n_a"),
            F.col("tb").alias("n_b"),
            F.col("s").alias("ks_at_score"),
            # try_divide: KS undefined when either sample is empty
            # (oracle x/0 -> NULL; ANSI / raises)
            F.try_divide(
                F.col("cross_gap").cast("double"),
                F.col("ta") * F.col("tb"),
            ).alias("ks_stat"),
        )
    )


@REGISTRY.register(
    "q_gains_deciles",
    tags=("mlstats", "evaluation"),
    oracle="""
WITH scored AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS s,
         event_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
), ranked AS (
  SELECT y, NTILE(10) OVER (ORDER BY s DESC, event_id) AS decile
  FROM scored
), tot AS (
  SELECT CAST(SUM(y) AS BIGINT) AS tp, CAST(COUNT(*) AS BIGINT) AS tn
  FROM scored
)
SELECT decile,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       CAST(SUM(y) AS DOUBLE) / (SELECT tp FROM tot) AS pos_share,
       (CAST(SUM(y) AS DOUBLE) / COUNT(*))
         / (CAST((SELECT tp FROM tot) AS DOUBLE) / (SELECT tn FROM tot))
         AS lift
FROM ranked GROUP BY decile
""",
)
def q_gains_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift table: rank by score descending, cut into deciles,
    report each decile's share of all positives and its lift over the
    base rate — the campaign-targeting readout ("calling the top 10%
    captures 31% of buyers, 3.1x lift").

    NTILE semantics reproduced WITHOUT the global single-partition
    sort: the global descending rank decomposes as
    (rows in strictly-higher score-buckets) + (rows in the same bucket
    with strictly-higher scores) + (row_number within the tied score,
    ordered by event_id) — the first two via windows over bucket /
    distinct-score summaries (q_auc_rank discipline), the last a
    per-tie-group partitioned window. NTILE's tile boundary is then
    the closed form: the first N%10 deciles take ceil(N/10) rows,
    the rest floor(N/10). Positives and counts stay integer; both
    ratios divide exact BIGINTs."""
    c = catalog(spark, sf_dir)
    scored = c.events.select(
        half_up("value", 100).alias("s"),
        "event_id",
        (F.col("event_type") == "purchase").cast("long").alias("y"),
    )
    per_s = scored.groupBy("s").agg(
        F.count("*").cast("bigint").alias("cnt")
    ).withColumn("bucket", F.expr("s div 1000"))
    bt = per_s.groupBy("bucket").agg(F.sum("cnt").alias("bn"))
    w_b = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    boff = bt.select(
        "bucket", F.coalesce(F.sum("bn").over(w_b), F.lit(0)).alias("boff")
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy(F.col("s").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        per_s.join(F.broadcast(boff), "bucket")
        .select(
            "s",
            (
                F.col("boff")
                + F.coalesce(F.sum("cnt").over(w_in), F.lit(0))
            ).alias("above"),
        )
    )
    w_tie = Window.partitionBy("s").orderBy("event_id")
    tot = scored.agg(
        F.sum("y").cast("bigint").alias("tp"),
        F.count("*").cast("bigint").alias("tn"),
    )
    ranked = (
        scored.withColumn("rn_tie", F.row_number().over(w_tie))
        .join(F.broadcast(offsets), "s")
        .crossJoin(F.broadcast(tot))
        .withColumn("rn", F.col("above") + F.col("rn_tie"))
        .withColumn("qq", F.expr("tn div 10"))
        .withColumn("rr", F.expr("tn % 10"))
        .withColumn(
            "decile",
            F.when(
                F.col("rn") <= F.col("rr") * (F.col("qq") + 1),
                F.expr("(rn + qq) div (qq + 1)"),
            ).otherwise(
                F.expr("rr + ((rn - rr * (qq + 1) + qq - 1) div qq)")
            ).cast("int"),
        )
        .select("y", "decile")
    )
    return (
        ranked.groupBy("decile")
        .agg(F.count("*").alias("n"), F.sum("y").alias("n_pos"))
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n",
            "n_pos",
            # try_divide: no positives at all -> share/lift undefined
            # (oracle x/0 -> NULL; ANSI / raises)
            F.try_divide(F.col("n_pos").cast("double"), F.col("tp")).alias(
                "pos_share"
            ),
            F.try_divide(
                F.col("n_pos").cast("double") / F.col("n"),
                F.col("tp").cast("double") / F.col("tn"),
            ).alias("lift"),
        )
    )


@REGISTRY.register(
    "q_psi_drift",
    tags=("mlstats", "monitoring"),
    oracle="""
WITH scored AS MATERIALIZED (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c,
         CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16' THEN 0 ELSE 1 END
           AS period
  FROM events
), ext AS MATERIALIZED (
  SELECT MAX(c) AS mx FROM scored
), binned AS MATERIALIZED (
  SELECT LEAST(CAST(FLOOR(c * 10.0 / (mx + 1)) AS BIGINT), 9) AS bin,
         period
  FROM scored CROSS JOIN ext
), per AS MATERIALIZED (
  SELECT bin,
         CAST(SUM(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n0,
         CAST(SUM(period) AS BIGINT) AS n1
  FROM binned GROUP BY bin
), tot AS MATERIALIZED (
  SELECT CAST(SUM(n0) AS BIGINT) AS t0, CAST(SUM(n1) AS BIGINT) AS t1
  FROM per
)
SELECT bin, n0, n1,
       ROUND((GREATEST(CAST(n1 AS DOUBLE) / t1, 0.000001)
              - GREATEST(CAST(n0 AS DOUBLE) / t0, 0.000001))
             * LN(GREATEST(CAST(n1 AS DOUBLE) / t1, 0.000001)
                  / GREATEST(CAST(n0 AS DOUBLE) / t0, 0.000001)),
             6) AS psi_term
FROM per CROSS JOIN tot
""",
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between a reference and a current
    period, per score bin (sum the column for the headline PSI; >0.2
    is the conventional "investigate" threshold) — the standard drift
    monitor between a model's training distribution and live traffic.

    Bin populations are exact integers from one pass; each PSI term is
    (p1-p0)*ln(p1/p0) of exactly-derived proportions, rounded 6dp to
    absorb the engines' last-ulp ln() difference. Emitted per-bin
    rather than pre-summed so the monitor can localize WHERE the
    distribution moved."""
    c = catalog(spark, sf_dir)
    scored = c.events.select(
        half_up("value", 100).alias("c"),
        F.when(
            F.to_date("ts") < F.lit("2024-01-16").cast("date"), 0
        )
        .otherwise(1)
        .alias("period"),
    )
    ext = scored.agg(F.max("c").alias("mx"))
    binned = scored.crossJoin(F.broadcast(ext)).select(
        F.least(
            F.floor(F.col("c") * 10.0 / (F.col("mx") + 1)).cast("long"),
            F.lit(9),
        ).alias("bin"),
        "period",
    )
    per = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("period") == 0, 1).otherwise(0)).alias("n0"),
        F.sum("period").alias("n1"),
    )
    tot = per.agg(F.sum("n0").alias("t0"), F.sum("n1").alias("t1"))
    # epsilon-smoothed proportions: the conventional guard for bins
    # empty in one period (PSI is undefined at p = 0); mirrored in the
    # oracle so the smoothing itself is hash-checked. try_divide for
    # an ENTIRE period being empty (degenerate fixture: every event on
    # one day): x/0 -> NULL on both engines, and both greatest()s skip
    # NULLs, so the epsilon floor applies to the missing period too
    p0 = F.greatest(
        F.try_divide(F.col("n0").cast("double"), F.col("t0")),
        F.lit(0.000001),
    )
    p1 = F.greatest(
        F.try_divide(F.col("n1").cast("double"), F.col("t1")),
        F.lit(0.000001),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n0",
        "n1",
        F.round((p1 - p0) * F.log(p1 / p0), 6).alias("psi_term"),
    )


@REGISTRY.register(
    "q_survival_km",
    tags=("mlstats", "survival"),
    oracle="""
WITH spans AS (
  SELECT user_id,
         DATEDIFF('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE)))
           AS t,
         CASE WHEN MAX(CAST(ts AS DATE)) >= DATE '2024-01-28'
              THEN 1 ELSE 0 END AS censored
  FROM events GROUP BY user_id
), per_t AS (
  SELECT t,
         CAST(SUM(1 - censored) AS BIGINT) AS d,
         CAST(SUM(censored) AS BIGINT) AS c
  FROM spans GROUP BY t
), risk AS (
  SELECT t, d, c,
         CAST((SELECT COUNT(*) FROM spans) AS BIGINT)
           - CAST(COALESCE(SUM(d + c) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) AS n_at_risk
  FROM per_t
)
SELECT t AS t_days, n_at_risk, d AS n_deaths, c AS n_censored,
       ROUND(CASE WHEN SUM(CASE WHEN n_at_risk = d THEN 1 ELSE 0 END)
                       OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) > 0
             THEN 0.0
             ELSE EXP(SUM(LN(CASE WHEN n_at_risk = d THEN 1.0
                             ELSE CAST(n_at_risk - d AS DOUBLE) / n_at_risk
                             END))
                      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW))
             END, 6) AS survival
FROM risk
""",
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for user retention: "time to
    churn" is the span from a user's first to last event, users still
    active near the window's end (last seen on/after Jan 28) are
    right-CENSORED — they leave the risk set without counting as
    churn, which is the entire point of KM over a naive churn-rate
    curve.

    Per-user spans are one groupBy; the risk set at each day is an
    exclusive prefix sum of exact integer (death + censor) counts; the
    product-limit estimator runs as exp(running sum of ln survival
    factors) over the <=31-row day table — a textbook log-domain
    running product, 6dp-rounded to absorb last-ulp ln() differences.
    At 100 TB only the per-user groupBy touches the data."""
    c = catalog(spark, sf_dir)
    spans = c.events.groupBy("user_id").agg(
        F.datediff(
            F.max(F.to_date("ts")), F.min(F.to_date("ts"))
        ).alias("t"),
        F.when(
            F.max(F.to_date("ts"))
            >= F.lit("2024-01-28").cast("date"),
            1,
        )
        .otherwise(0)
        .alias("censored"),
    )
    per_t = spans.groupBy("t").agg(
        F.sum(1 - F.col("censored")).alias("d"),
        F.sum("censored").alias("c"),
    )
    n_total = spans.count()
    w_before = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = per_t.withColumn(
        "n_at_risk",
        F.lit(n_total)
        - F.coalesce(
            F.sum(F.col("d") + F.col("c")).over(w_before), F.lit(0)
        ),
    )
    # extinction guard (mirrored in the oracle): once a day kills the
    # whole risk set the product-limit factor is 0 and ln() is
    # undefined — DuckDB's LN(0) raises outright (degenerate fuzz
    # fixture: every user spans 0 days). Survival is pinned to exactly
    # 0.0 from that day on; the ln argument is patched to 1 so the
    # untaken branch can't blow up either engine.
    extinct = F.sum(
        F.when(F.col("n_at_risk") == F.col("d"), 1).otherwise(0)
    ).over(w_cum)
    factor = F.when(
        F.col("n_at_risk") == F.col("d"), F.lit(1.0)
    ).otherwise(
        (F.col("n_at_risk") - F.col("d")).cast("double")
        / F.col("n_at_risk")
    )
    surv = F.when(extinct > 0, F.lit(0.0)).otherwise(
        F.exp(F.sum(F.log(factor)).over(w_cum))
    )
    return risk.select(
        F.col("t").alias("t_days"),
        "n_at_risk",
        F.col("d").alias("n_deaths"),
        F.col("c").alias("n_censored"),
        F.round(surv, 6).alias("survival"),
    )


# Poisson(1) inverse-CDF breakpoints (cumulative e^{-1}/k! sums).
# Written as decimal literals so BOTH engines parse the identical
# doubles — the bootstrap weights are then bit-reproducible.
_POIS_CUM = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
)


@REGISTRY.register(
    "q_bootstrap_ci",
    tags=("mlstats", "evaluation"),
    oracle=f"""
WITH base AS (
  SELECT event_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase'
), rep AS (
  SELECT b.b, base.c,
         CAST(('0x' || substr(md5(base.event_id || ':' || b.b || ':boot'),
                              1, 13))::BIGINT AS DOUBLE)
           / 4503599627370496.0 AS u
  FROM base CROSS JOIN (SELECT unnest(range(20)) AS b) b
), weighted AS (
  SELECT b, c,
         CASE WHEN u < {_POIS_CUM[0]} THEN 0
              WHEN u < {_POIS_CUM[1]} THEN 1
              WHEN u < {_POIS_CUM[2]} THEN 2
              WHEN u < {_POIS_CUM[3]} THEN 3
              WHEN u < {_POIS_CUM[4]} THEN 4
              WHEN u < {_POIS_CUM[5]} THEN 5
              WHEN u < {_POIS_CUM[6]} THEN 6
              ELSE 7 END AS w
  FROM rep
), means AS (
  SELECT b,
         CAST(SUM(w * c) AS DOUBLE) / SUM(w) / 100.0 AS m
  FROM weighted GROUP BY b HAVING SUM(w) > 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_replicates,
       ROUND(AVG(m), 4) AS boot_mean,
       ROUND(quantile_cont(m, 0.025), 4) AS ci_lo,
       ROUND(quantile_cont(m, 0.975), 4) AS ci_hi
FROM means
""",
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the mean purchase value via
    the POISSON bootstrap — the one-pass distributed formulation
    (each row independently draws a Poisson(1) replication weight per
    replicate; no sampling-with-replacement pass over the data, no
    global index). 20 replicates, percentile CI.

    The Poisson draw inverts a shared-literal CDF table against an
    md5-derived uniform, so every weight is bit-reproducible in both
    engines (fact 21: md5 is the only portable hash). Replicate sums
    stay in exact BIGINT cents; the CI percentiles interpolate 20
    exact means with the shared R-7 rule. At 100 TB the explode
    multiplies the scan by B, but the shuffle carries only B rows of
    partials — the classic bandwidth/latency trade of the method."""
    c = catalog(spark, sf_dir)
    base = c.events.filter(F.col("event_type") == "purchase").select(
        "event_id", half_up("value", 100).alias("c")
    )
    rep = base.select(
        "c",
        F.explode(F.sequence(F.lit(0), F.lit(19))).alias("b"),
        "event_id",
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "", F.col("event_id").cast("string"),
                        F.lit(":"), F.col("b").cast("string"),
                        F.lit(":boot"),
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(2**52))
    )
    w_expr = F.lit(7)
    for k in range(6, -1, -1):
        w_expr = F.when(u < F.lit(_POIS_CUM[k]), F.lit(k)).otherwise(
            w_expr
        )
    weighted = rep.select("b", "c", w_expr.alias("w"))
    means = (
        weighted.groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("c")).alias("swc"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            (
                F.col("swc").cast("double") / F.col("sw") / 100.0
            ).alias("m")
        )
    )
    return means.agg(
        F.count("*").alias("n_replicates"),
        F.round(F.avg("m"), 4).alias("boot_mean"),
        F.round(F.expr("percentile(m, 0.025)"), 4).alias("ci_lo"),
        F.round(F.expr("percentile(m, 0.975)"), 4).alias("ci_hi"),
    )


@REGISTRY.register(
    "q_chi_square",
    tags=("mlstats", "evaluation"),
    oracle="""
WITH obs AS (
  SELECT event_type, DAYOFWEEK(ts) AS dow,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM events GROUP BY event_type, DAYOFWEEK(ts)
), marg AS (
  SELECT event_type, CAST(SUM(o) AS BIGINT) AS row_n FROM obs
  GROUP BY event_type
), marg2 AS (
  SELECT dow, CAST(SUM(o) AS BIGINT) AS col_n FROM obs GROUP BY dow
), tot AS (
  SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs
), terms AS (
  SELECT obs.event_type, obs.dow, obs.o,
         CAST(marg.row_n AS DOUBLE) * marg2.col_n / tot.n AS e
  FROM obs
  JOIN marg ON obs.event_type = marg.event_type
  JOIN marg2 ON obs.dow = marg2.dow
  CROSS JOIN tot
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       ROUND(SUM((o - e) * (o - e) / e), 6) AS chi2,
       CAST((SELECT COUNT(*) - 1 FROM marg)
            * (SELECT COUNT(*) - 1 FROM marg2) AS BIGINT) AS dof
FROM terms
""",
)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event type and
    day-of-week — "does behavior depend on the weekday?", the
    categorical-association sibling of q_ab_ttest.

    Observed counts are exact; expected counts derive from broadcast
    row/column marginals (the contingency table is |types| x 7, so
    every join side is tiny); the statistic sums 35 identically-
    computed doubles, rounded 6dp. Spark's dayofweek and DuckDB's
    DAYOFWEEK agree on 1=Sunday numbering."""
    c = catalog(spark, sf_dir)
    obs = c.events.groupBy(
        "event_type", F.dayofweek("ts").alias("dow")
    ).agg(F.count("*").alias("o"))
    marg = obs.groupBy("event_type").agg(F.sum("o").alias("row_n"))
    marg2 = obs.groupBy("dow").agg(F.sum("o").alias("col_n"))
    tot = obs.agg(F.sum("o").alias("n"))
    n_rows = marg.count()
    n_cols = marg2.count()
    terms = (
        obs.join(F.broadcast(marg), "event_type")
        .join(F.broadcast(marg2), "dow")
        .crossJoin(F.broadcast(tot))
        .select(
            "o",
            (
                F.col("row_n").cast("double")
                * F.col("col_n")
                / F.col("n")
            ).alias("e"),
        )
    )
    return terms.agg(
        F.count("*").alias("n_cells"),
        F.round(
            F.sum(
                (F.col("o") - F.col("e"))
                * (F.col("o") - F.col("e"))
                / F.col("e")
            ),
            6,
        ).alias("chi2"),
        F.lit((n_rows - 1) * (n_cols - 1)).cast("long").alias("dof"),
    )


@REGISTRY.register(
    "q_forecast_baseline",
    tags=("mlstats", "timeseries"),
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS dow,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY CAST(ts AS DATE)
), split AS (
  SELECT (SELECT MIN(day) FROM daily) + 21 AS cutoff
), train AS (
  SELECT dow, CAST(SUM(cents) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
  FROM daily CROSS JOIN split WHERE day < cutoff GROUP BY dow
), test AS (
  SELECT day, dow, cents FROM daily CROSS JOIN split WHERE day >= cutoff
)
SELECT STRFTIME(t.day, '%Y-%m-%d') AS day,
       t.cents AS actual_cents,
       CAST(FLOOR(CAST(tr.s AS DOUBLE) / tr.n) AS BIGINT) AS pred_cents,
       CAST(FLOOR(ABS(t.cents - CAST(tr.s AS DOUBLE) / tr.n)) AS BIGINT)
         AS abs_err_cents
FROM test t JOIN train tr ON t.dow = tr.dow
""",
)
def q_forecast_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast BACKTEST: train on the first three weeks
    of the daily revenue series, predict each held-out day as its
    day-of-week mean, emit per-day actual / prediction / absolute
    error — the baseline every forecasting effort must beat, with the
    error table ready for MAE/MAPE rollup.

    Cents are BIGINT; the per-dow mean is one double division of exact
    integers and errors are floored per ROW (never a float sum across
    rows), so the backtest is bit-reproducible. Day-of-week is
    epoch-day mod 7 (engine-neutral). One day-level rollup shuffle +
    a broadcast of the 7-row model — the train table IS the model."""
    c = catalog(spark, sf_dir)
    daily = c.events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(half_up("value", 100))
        .cast("bigint")
        .alias("cents")
    ).select(
        "day",
        (F.datediff("day", F.lit("1970-01-01").cast("date")) % 7).alias("dow"),
        "cents",
    )
    cutoff = daily.agg(F.date_add(F.min("day"), 21).alias("cutoff"))
    daily = daily.crossJoin(F.broadcast(cutoff))
    train = (
        daily.filter(F.col("day") < F.col("cutoff"))
        .groupBy("dow")
        .agg(
            F.sum("cents").cast("bigint").alias("s"),
            F.count("*").alias("n"),
        )
    )
    test = daily.filter(F.col("day") >= F.col("cutoff"))
    pred = F.col("s").cast("double") / F.col("n")
    return test.join(F.broadcast(train), "dow").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("cents").alias("actual_cents"),
        F.floor(pred).cast("bigint").alias("pred_cents"),
        F.floor(F.abs(F.col("cents") - pred)).cast("bigint").alias("abs_err_cents"),
    )


@REGISTRY.register(
    "q_diff_in_diff",
    tags=("mlstats", "causal"),
    oracle="""
WITH bounds AS (
  SELECT MIN(ts) AS t0, MAX(ts) AS t1 FROM events
), cells AS (
  SELECT (user_id * 2654435761) % 100 < 50 AS is_treated,
         epoch_us(e.ts) - epoch_us(b.t0)
           >= (epoch_us(b.t1) - epoch_us(b.t0)) / 2 AS is_post,
         CAST(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events e
  CROSS JOIN bounds b
  GROUP BY 1, 2
), m AS (
  SELECT MAX(CASE WHEN is_treated AND is_post THEN CAST(cents AS DOUBLE)/n END) AS tp,
         MAX(CASE WHEN is_treated AND NOT is_post THEN CAST(cents AS DOUBLE)/n END) AS tr,
         MAX(CASE WHEN NOT is_treated AND is_post THEN CAST(cents AS DOUBLE)/n END) AS cp,
         MAX(CASE WHEN NOT is_treated AND NOT is_post THEN CAST(cents AS DOUBLE)/n END) AS cr,
         CAST(SUM(n) AS BIGINT) AS n_events
  FROM cells
)
SELECT n_events,
       CAST(FLOOR((tp - tr) * 100) AS BIGINT) AS treated_delta_hcents,
       CAST(FLOOR((cp - cr) * 100) AS BIGINT) AS control_delta_hcents,
       CAST(FLOOR(((tp - tr) - (cp - cr)) * 100) AS BIGINT) AS did_hcents
FROM m
""",
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate: treated = the deterministic
    50% rollout bucket (multiplicative-hash assignment — the engine's
    q_split_train_test discipline; every user has SOME signup, so a
    behavioral treatment marker would leave an empty control group),
    periods split at the observation midpoint; the DiD
    estimator (treated post-pre delta minus control post-pre delta of
    mean event value) is the workhorse quasi-experimental readout.

    Four cell means from exact BIGINT cents/counts, deterministic
    double divisions, differences floored to hundredth-cents. One
    map-side hash assignment + a single 4-cell aggregation — the fact
    table shuffles once on the two booleans."""
    c = catalog(spark, sf_dir)
    bounds = c.events.agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    cells = (
        c.events.crossJoin(F.broadcast(bounds))
        .select(
            ((F.col("user_id") * 2654435761) % 100 < 50).alias("is_treated"),
            (
                (F.unix_micros("ts") - F.unix_micros("t0"))
                >= (F.unix_micros("t1") - F.unix_micros("t0")) / 2
            ).alias("is_post"),
            half_up("value", 100).alias("cents"),
        )
        .groupBy("is_treated", "is_post")
        .agg(
            F.sum("cents").cast("bigint").alias("cents"),
            F.count("*").alias("n"),
        )
    )
    mean = F.col("cents").cast("double") / F.col("n")
    m = cells.agg(
        F.max(F.when(F.col("is_treated") & F.col("is_post"), mean)).alias("tp"),
        F.max(F.when(F.col("is_treated") & ~F.col("is_post"), mean)).alias("tr"),
        F.max(F.when(~F.col("is_treated") & F.col("is_post"), mean)).alias("cp"),
        F.max(F.when(~F.col("is_treated") & ~F.col("is_post"), mean)).alias("cr"),
        F.sum("n").cast("bigint").alias("n_events"),
    )
    h = lambda col, alias: F.floor(col * 100).cast("bigint").alias(alias)
    return m.select(
        "n_events",
        h(F.col("tp") - F.col("tr"), "treated_delta_hcents"),
        h(F.col("cp") - F.col("cr"), "control_delta_hcents"),
        h(
            (F.col("tp") - F.col("tr")) - (F.col("cp") - F.col("cr")),
            "did_hcents",
        ),
    )


def _det3(a: tuple, b: tuple, c: tuple) -> str:
    """Cofactor expansion of a 3x3 determinant whose COLUMNS are the
    named scalar triples a/b/c — emitted as SQL text so the Spark and
    DuckDB expression trees are character-identical (same literals, same
    association order ⇒ bit-identical IEEE evaluation)."""
    a1, a2, a3 = a
    b1, b2, b3 = b
    c1, c2, c3 = c
    return (
        f"{a1} * ({b2} * {c3} - {b3} * {c2})"
        f" - {b1} * ({a2} * {c3} - {a3} * {c2})"
        f" + {c1} * ({a2} * {b3} - {a3} * {b2})"
    )


_C0 = ("fn", "fx1", "fx2")
_C1 = ("fx1", "fx11", "fx12")
_C2 = ("fx2", "fx12", "fx22")
_RHS = ("fy", "fx1y", "fx2y")

_OLS_SQL = f"""
WITH per_order AS (
  SELECT l_orderkey AS ok,
         CAST(FLOOR(SUM(l_quantity) + 0.5) AS BIGINT) AS x1,
         CAST(COUNT(*) AS BIGINT) AS x2
  FROM lineitem GROUP BY l_orderkey
), joined AS (
  SELECT p.x1, p.x2,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS y
  FROM per_order p JOIN orders ON o_orderkey = p.ok
), sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x1) AS BIGINT) AS sx1,
         CAST(SUM(x2) AS BIGINT) AS sx2,
         CAST(SUM(x1 * x1) AS BIGINT) AS sx11,
         CAST(SUM(x1 * x2) AS BIGINT) AS sx12,
         CAST(SUM(x2 * x2) AS BIGINT) AS sx22,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x1 * y) AS BIGINT) AS sx1y,
         CAST(SUM(x2 * y) AS BIGINT) AS sx2y
  FROM joined
), f AS (
  SELECT n AS n_orders,
         CAST(n AS DOUBLE) AS fn,
         CAST(sx1 AS DOUBLE) AS fx1, CAST(sx2 AS DOUBLE) AS fx2,
         CAST(sx11 AS DOUBLE) AS fx11, CAST(sx12 AS DOUBLE) AS fx12,
         CAST(sx22 AS DOUBLE) AS fx22,
         CAST(sy AS DOUBLE) AS fy,
         CAST(sx1y AS DOUBLE) AS fx1y, CAST(sx2y AS DOUBLE) AS fx2y
  FROM sums
)
SELECT n_orders,
       ROUND(({_det3(_RHS, _C1, _C2)}) / NULLIF(({_det3(_C0, _C1, _C2)}), 0), 6)
         AS b0_cents,
       ROUND(({_det3(_C0, _RHS, _C2)}) / NULLIF(({_det3(_C0, _C1, _C2)}), 0), 6)
         AS b1_cents_per_qty,
       ROUND(({_det3(_C0, _C1, _RHS)}) / NULLIF(({_det3(_C0, _C1, _C2)}), 0), 6)
         AS b2_cents_per_line
FROM f
"""
# NULLIF on the normal-equation determinant: constant features make
# the system singular (det exactly 0 on these integer sums) — both
# dialects then emit NULL coefficients instead of DuckDB NULL vs an
# ANSI Spark DIVIDE_BY_ZERO raise (found by the degenerate fuzz
# fixture). NULLIF is the portable spelling of try_divide for SQL
# shared verbatim across engines.


@REGISTRY.register(
    "q_ols_multi",
    tags=("mlstats", "regression"),
    oracle=_OLS_SQL,
)
def q_ols_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature OLS with intercept (order total-price in cents ~
    total quantity + line count) solved in closed form: the 3x3 normal
    equations by Cramer's rule over nine exact BIGINT power sums.

    Exactness: features and target quantize to integers at the source
    (quantities are integer-valued; price → cents), every sum folds in
    BIGINT, and the determinant arithmetic is emitted from ONE Python
    template into both dialects — identical IEEE expression trees on
    identical integers ⇒ the driver hash-matches 6dp coefficients with
    zero tolerance.

    Scale shape: one groupBy(l_orderkey) partial agg, one key-shuffled
    join to orders, then a nine-column global aggregate (map-side
    partials → single reducer row). No windows, no iteration — this is
    how closed-form GLMs over 100 TB actually get fit: power sums are
    associative, so the whole regression is one tree-reduce.
    """
    from catenae_kafka_spark.catalog import register_views

    register_views(spark, sf_dir, ("lineitem", "orders"))
    return spark.sql(_OLS_SQL)


# CUPED shares ONE SQL text across Spark and DuckDB (identical
# expression tree on identical BIGINT power sums => identical doubles).
_CUPED_SQL = """
WITH per_user AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN EXTRACT(DAY FROM ts) <= 15
                       THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN EXTRACT(DAY FROM ts) > 15
                       THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY user_id
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM per_user
)
SELECT n AS n_users,
       CAST(FLOOR(
         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
         / NULLIF(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx, 0)
         * 1000000) AS BIGINT) AS theta_micro,
       CAST(FLOOR(
         ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
          * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy))
         / NULLIF((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                  * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy), 0)
         * 1000000) AS BIGINT) AS var_reduction_micro
FROM s
"""
# NULLIF on var(pre) (and the rho^2 denominator): a constant
# pre-period makes CUPED undefined — portable NULL instead of an ANSI
# raise; see the q_ols_multi note.


@REGISTRY.register(
    "q_cuped_adjustment",
    tags=("mlstats", "experimentation"),
    oracle=_CUPED_SQL,
)
def q_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for experimentation: theta =
    cov(pre, post) / var(pre) over per-user pre-period (day-of-month
    <= 15) and post-period spend, plus the achievable variance
    reduction rho^2 — the covariate-adjustment every A/B platform
    applies before the t-test (complements q_ab_ttest / q_diff_in_diff).

    Exactness: per-event cents quantization, per-user BIGINT sums,
    five exact power sums, and ONE shared SQL text for both engines —
    the final double arithmetic is the same IEEE expression tree on
    the same integers, so theta and rho^2 hash-match in floored
    micro-units with zero tolerance.

    Scale shape: one user-keyed partial agg (map-side combine), then a
    six-column global tree-reduce — the same one-pass power-sum shape
    as q_ols_multi; nothing is ever collected or iterated."""
    from catenae_kafka_spark.catalog import register_views

    register_views(spark, sf_dir, ("events",))
    return spark.sql(_CUPED_SQL)


@REGISTRY.register(
    "q_haar_energy",
    tags=("mlstats", "timeseries"),
    oracle="""
WITH c AS (
  SELECT EXTRACT(DAY FROM ts) - 1 AS d, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY d
), l1 AS (
  SELECT d // 2 AS k,
         CAST(SUM(n) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN d % 2 = 0 THEN n ELSE -n END) AS BIGINT) AS dd
  FROM c GROUP BY k
), l2 AS (
  SELECT k // 2 AS k,
         CAST(SUM(a) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN k % 2 = 0 THEN a ELSE -a END) AS BIGINT) AS dd
  FROM l1 GROUP BY k // 2
), l3 AS (
  SELECT k // 2 AS k,
         CAST(SUM(a) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN k % 2 = 0 THEN a ELSE -a END) AS BIGINT) AS dd
  FROM l2 GROUP BY k // 2
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_days,
       (SELECT CAST(SUM(dd * dd) AS BIGINT) FROM l1) AS energy_l1,
       (SELECT CAST(SUM(dd * dd) AS BIGINT) FROM l2) AS energy_l2,
       (SELECT CAST(SUM(dd * dd) AS BIGINT) FROM l3) AS energy_l3
""",
)
def q_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution (unnormalized Haar wavelet) energy of the daily
    event-count series: detail-coefficient energy at 2-day, 4-day and
    8-day scales — the classic cheap periodicity/burstiness decomposition
    (a strong weekly rhythm shows up as high l2/l3 energy; spiky traffic
    as high l1).

    Integer-exact end to end: unnormalized Haar coefficients are
    pairwise BIGINT sums/differences of counts, energies are BIGINT
    squares, so the driver hash-matches exactly. (At counts beyond
    ~3e9/day, pre-scale the series before squaring.)

    Scale shape: ONE fact-table aggregation (counts per day, map-side
    combined), then three cascaded aggregations on the <=31-row daily
    series — the decomposition cost is independent of event volume."""
    c0 = catalog(spark, sf_dir)
    days = c0.events.groupBy(
        (F.dayofmonth("ts") - 1).alias("d")
    ).agg(F.count("*").cast("bigint").alias("n"))

    def level(df: DataFrame, key: str, val: str) -> DataFrame:
        return df.groupBy(F.expr(f"{key} div 2").alias("k")).agg(
            F.sum(val).cast("bigint").alias("a"),
            F.sum(
                F.when(F.col(key) % 2 == 0, F.col(val)).otherwise(-F.col(val))
            )
            .cast("bigint")
            .alias("dd"),
        )

    l1 = level(days, "d", "n")
    l2 = level(l1, "k", "a")
    l3 = level(l2, "k", "a")
    e = lambda df, name: df.agg(
        F.sum(F.col("dd") * F.col("dd")).cast("bigint").alias(name)
    )
    n_days = days.agg(F.count("*").cast("bigint").alias("n_days"))
    return (
        n_days.crossJoin(e(l1, "energy_l1"))
        .crossJoin(e(l2, "energy_l2"))
        .crossJoin(e(l3, "energy_l3"))
    )


@REGISTRY.register(
    "q_simpson_check",
    tags=("mlstats", "statistics"),
    oracle="""
WITH base AS (
  SELECT p_brand,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(FLOOR(l_extendedprice * (1 - l_discount)) AS BIGINT) AS y
  FROM lineitem JOIN part ON l_partkey = p_partkey
), seg AS (
  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM base GROUP BY p_brand
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS tn,
         CAST(SUM(sx) AS BIGINT) AS tsx, CAST(SUM(sy) AS BIGINT) AS tsy,
         CAST(SUM(sxy) AS BIGINT) AS tsxy
  FROM seg
), osign AS (
  SELECT CASE WHEN CAST(tn AS DOUBLE) * tsxy
                   - CAST(tsx AS DOUBLE) * tsy > 0 THEN 1
              WHEN CAST(tn AS DOUBLE) * tsxy
                   - CAST(tsx AS DOUBLE) * tsy < 0 THEN -1
              ELSE 0 END AS overall_sign
  FROM tot
)
SELECT p_brand, n,
       CASE WHEN n * sxy - sx * sy > 0 THEN 1
            WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS cov_sign,
       osign.overall_sign,
       (CASE WHEN n * sxy - sx * sy > 0 THEN 1
             WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END)
         <> osign.overall_sign AS flipped
FROM seg, osign
""",
)
def q_simpson_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen: the sign of cov(quantity, revenue)
    within each brand versus the pooled sign — segments whose
    association direction contradicts the aggregate are flagged, the
    first thing an analyst must know before trusting a pooled trend.

    Exactness: per-segment covariance numerators n*Sxy - Sx*Sy are
    pure BIGINT (dollar-quantized revenue keeps products under 2^63 at
    the tested scales; at larger scale, quantize coarser — the SIGN is
    scale-invariant). The pooled numerator can exceed 2^63, so it is
    evaluated in double — safe for a three-way sign because the
    magnitude is astronomically far from the rounding boundary unless
    the data is adversarially near-uncorrelated.

    Scale shape: one broadcast dim join + one brand-keyed partial agg;
    the pooled sign is a second agg over 25 partial rows broadcast
    back. Nothing iterates."""
    c = catalog(spark, sf_dir)
    base = c.lineitem.join(
        F.broadcast(c.part.select("p_partkey", "p_brand")),
        F.col("l_partkey") == F.col("p_partkey"),
    ).select(
        "p_brand",
        F.col("l_quantity").cast("bigint").alias("x"),
        F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("bigint")
        .alias("y"),
    )
    seg = base.groupBy("p_brand").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    tot = seg.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("sx").cast("bigint").alias("tsx"),
        F.sum("sy").cast("bigint").alias("tsy"),
        F.sum("sxy").cast("bigint").alias("tsxy"),
    )
    osign = tot.select(
        F.when(
            F.col("tn").cast("double") * F.col("tsxy")
            - F.col("tsx").cast("double") * F.col("tsy")
            > 0,
            1,
        )
        .when(
            F.col("tn").cast("double") * F.col("tsxy")
            - F.col("tsx").cast("double") * F.col("tsy")
            < 0,
            -1,
        )
        .otherwise(0)
        .alias("overall_sign")
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    sign = F.when(num > 0, 1).when(num < 0, -1).otherwise(0)
    return seg.crossJoin(F.broadcast(osign)).select(
        "p_brand",
        "n",
        sign.alias("cov_sign"),
        "overall_sign",
        (sign != F.col("overall_sign")).alias("flipped"),
    )


@REGISTRY.register(
    "q_markov_accuracy",
    tags=("mlstats", "sequence", "evaluation"),
    oracle="""
WITH seq AS (
  SELECT event_type AS cur,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
), bi AS (
  SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE prev IS NOT NULL GROUP BY prev, cur
), pred AS (
  SELECT prev, cur AS predicted FROM (
    SELECT prev, cur,
           ROW_NUMBER() OVER (PARTITION BY prev ORDER BY n DESC, cur) AS rn
    FROM bi
  ) WHERE rn = 1
)
SELECT bi.prev,
       CAST(SUM(bi.n) AS BIGINT) AS n_transitions,
       CAST(SUM(CASE WHEN bi.cur = pred.predicted THEN bi.n ELSE 0 END)
            AS BIGINT) AS n_correct,
       (CAST(SUM(CASE WHEN bi.cur = pred.predicted THEN bi.n ELSE 0 END)
             AS BIGINT) * 1000000) // CAST(SUM(bi.n) AS BIGINT)
         AS accuracy_micro
FROM bi JOIN pred ON bi.prev = pred.prev
GROUP BY bi.prev
""",
)
def q_markov_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov next-event prediction accuracy: fit the
    transition matrix on the event sequence (per-user (ts, event_id)
    total order), predict argmax-next-type per current type (total
    tie-break: count DESC, type), and score in-sample accuracy per
    current type — the sanity baseline every sequence model must beat
    (complements q_transition_matrix, which reports probabilities but
    no predictive skill).

    Exact: counts are BIGINT, the argmax tie-break is total, accuracy
    is floor-division micro-units.

    Scale shape: one user-keyed window pass for bigrams, one tiny
    (|types|^2) aggregation, prediction table broadcast back onto the
    bigram counts — fact data shuffles once."""
    c = catalog(spark, sf_dir)
    wl = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = c.events.select(
        F.col("event_type").alias("cur"),
        F.lag("event_type").over(wl).alias("prev"),
    ).filter(F.col("prev").isNotNull())
    bi = seq.groupBy("prev", "cur").agg(F.count("*").cast("bigint").alias("n"))
    wp = Window.partitionBy("prev").orderBy(F.col("n").desc(), F.col("cur"))
    pred = (
        bi.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select("prev", F.col("cur").alias("predicted"))
    )
    return (
        bi.join(F.broadcast(pred), "prev")
        .groupBy("prev")
        .agg(
            F.sum("n").cast("bigint").alias("n_transitions"),
            F.sum(
                F.when(F.col("cur") == F.col("predicted"), F.col("n")).otherwise(0)
            )
            .cast("bigint")
            .alias("n_correct"),
        )
        .select(
            "prev",
            "n_transitions",
            "n_correct",
            F.expr("(n_correct * 1000000) div n_transitions").alias(
                "accuracy_micro"
            ),
        )
    )


@REGISTRY.register(
    "q_poststratify",
    tags=("mlstats", "survey"),
    oracle="""
WITH pop AS (
  SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust FROM customer
  GROUP BY c_nationkey
), npop AS (
  SELECT CAST(SUM(n_cust) AS BIGINT) AS n_total FROM pop
), strat AS (
  SELECT c.c_nationkey,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)) AS BIGINT)
           AS sum_dollars
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
       CAST(SUM((pop.n_cust * strat.sum_dollars * 1000)
                // (strat.n_orders * npop.n_total)) AS BIGINT)
         AS post_strat_milli,
       (CAST(SUM(strat.sum_dollars) AS BIGINT) * 1000)
         // CAST(SUM(strat.n_orders) AS BIGINT) AS naive_milli
FROM strat JOIN pop ON strat.c_nationkey = pop.c_nationkey
CROSS JOIN npop
""",
)
def q_poststratify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratified estimator: mean order value reweighted so every
    nation contributes by its CUSTOMER POPULATION share rather than its
    order volume — the survey-sampling correction for when the observed
    sample (orders) is not proportional to the population (customers).
    Reported next to the naive unweighted mean so the bias correction
    is visible.

    Exactness: each stratum's weighted term is floored to integer
    milli-dollars BEFORE summation — a sum of integers is
    order-independent, so no float-accumulation-order hazard exists
    (the trick that makes weighted estimators hash-oracle-able;
    per-stratum truncation bias is < n_strata milli-dollars, i.e.
    negligible and deterministic).

    Scale shape: two map-side-combined aggs (population, strata) and a
    25-row join; the fact table shuffles once on the customer key."""
    c = catalog(spark, sf_dir)
    pop = c.customer.groupBy("c_nationkey").agg(
        F.count("*").cast("bigint").alias("n_cust")
    )
    npop = pop.agg(F.sum("n_cust").cast("bigint").alias("n_total"))
    strat = (
        c.orders.join(
            F.broadcast(c.customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(half_up("o_totalprice"))
            .cast("bigint")
            .alias("sum_dollars"),
        )
    )
    j = strat.join(F.broadcast(pop), "c_nationkey").crossJoin(F.broadcast(npop))
    return j.agg(
        F.count("*").cast("bigint").alias("n_strata"),
        F.sum(
            F.expr(
                "(n_cust * sum_dollars * 1000) div (n_orders * n_total)"
            )
        )
        .cast("bigint")
        .alias("post_strat_milli"),
        F.expr(
            "(sum(sum_dollars) * 1000) div sum(n_orders)"
        ).cast("bigint").alias("naive_milli"),
    )


@REGISTRY.register(
    "q_seasonality_strength",
    tags=("mlstats", "timeseries"),
    oracle="""
WITH c AS (
  SELECT isodow(ts) - 1 AS dow,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
), g AS (
  SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(cents) AS BIGINT) AS s_g
  FROM c GROUP BY dow
), tot AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS n,
         CAST(SUM(s_g) AS BIGINT) AS s,
         (SELECT CAST(SUM(cents * cents) AS BIGINT) FROM c) AS ss,
         CAST(SUM((s_g * s_g) // n_g) AS BIGINT) AS between_raw
  FROM g
)
SELECT n,
       CAST(between_raw - (s * s) // n AS BIGINT) AS ssb_floor,
       CAST(ss - (s * s) // n AS BIGINT) AS sst_floor,
       ((between_raw - (s * s) // n) * 1000000)
         // (ss - (s * s) // n) AS eta2_micro
FROM tot
""",
)
def q_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality strength: eta-squared (variance
    explained by the weekday factor) of event value — SS_between /
    SS_total from the one-way ANOVA identity, the scalar that says
    whether a weekly profile is worth modeling at all (complements
    q_seasonal_decompose, which extracts the profile, and q_acf_daily).

    Exactness: all sums of squares are BIGINT power sums; each
    division is floored BEFORE combination, so every engine computes
    the identical integers (documented floor bias < 1 cent^2 per term
    — irrelevant at SS magnitudes). ISO weekday (isodow-1 in DuckDB,
    weekday() in Spark) pins the same 0=Monday convention.

    Scale shape: one map-side-combined 7-group aggregation plus one
    global square sum — a single scan, no window, no join."""
    c = catalog(spark, sf_dir)
    cents = half_up("value", 100)
    base = c.events.select(
        F.weekday("ts").alias("dow"), cents.alias("cents")
    )
    g = base.groupBy("dow").agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum("cents").cast("bigint").alias("s_g"),
    )
    ss = base.agg(
        F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("ss")
    )
    tot = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("bigint").alias("s"),
        F.sum(F.expr("(s_g * s_g) div n_g")).cast("bigint").alias("between_raw"),
    ).crossJoin(F.broadcast(ss))
    return tot.select(
        "n",
        F.expr("between_raw - (s * s) div n").cast("bigint").alias("ssb_floor"),
        F.expr("ss - (s * s) div n").cast("bigint").alias("sst_floor"),
        # explicit zero guard, not try_divide: eta2 must stay in exact
        # INTEGER floor-division (try_divide is double division), and
        # SST = 0 (constant values) is NULL on both engines — DuckDB's
        # x // 0 yields NULL where ANSI div raises (degenerate fuzz)
        F.expr(
            "CASE WHEN ss - (s * s) div n = 0 THEN NULL"
            " ELSE ((between_raw - (s * s) div n) * 1000000)"
            " div (ss - (s * s) div n) END"
        ).alias("eta2_micro"),
    )


@REGISTRY.register(
    "q_median_ci",
    tags=("mlstats", "statistics"),
    oracle="""
WITH t AS (
  SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY FLOOR(value * 100 + 0.5), event_id)
           AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
), k AS (
  SELECT event_type, cents, rn, n,
         (n + 1) // 2 AS k_med,
         GREATEST(CAST(FLOOR(n / 2.0 - 0.98 * SQRT(n)) AS BIGINT), 1)
           AS k_lo,
         LEAST(CAST(CEIL(n / 2.0 + 1 + 0.98 * SQRT(n)) AS BIGINT), n)
           AS k_hi
  FROM t
)
SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
       CAST(MAX(CASE WHEN rn = k_med THEN cents END) AS BIGINT)
         AS median_cents,
       CAST(MAX(CASE WHEN rn = k_lo THEN cents END) AS BIGINT) AS lo_cents,
       CAST(MAX(CASE WHEN rn = k_hi THEN cents END) AS BIGINT) AS hi_cents
FROM k GROUP BY event_type
""",
)
def q_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence interval for the median
    (order-statistic / binomial method): the bounds are the
    floor(n/2 - 0.98*sqrt(n)) and ceil(n/2 + 1 + 0.98*sqrt(n)) order
    statistics — no normality assumption, the textbook nonparametric
    interval, per event type.

    Exactness: ranks are total-ordered (cents, event_id); sqrt is
    IEEE-754 correctly rounded, so both engines floor the identical
    double; everything else is BIGINT selection — zero-tolerance
    hash parity on an inferential statistic.

    Scale shape: one type-keyed window sort (the same shuffle any
    exact per-group quantile pays) + conditional-agg selection; no
    second pass, no collect."""
    c = catalog(spark, sf_dir)
    cents = half_up("value", 100)
    wp = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wn = Window.partitionBy("event_type")
    t = c.events.select(
        "event_type", cents.alias("cents"), "event_id"
    ).select(
        "event_type",
        "cents",
        F.row_number().over(wp).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    k = t.select(
        "event_type",
        "cents",
        "rn",
        "n",
        F.expr("(n + 1) div 2").alias("k_med"),
        F.greatest(
            F.floor(F.col("n") / 2.0 - 0.98 * F.sqrt("n")).cast("bigint"),
            F.lit(1).cast("bigint"),
        ).alias("k_lo"),
        F.least(
            F.ceil(F.col("n") / 2.0 + 1 + 0.98 * F.sqrt("n")).cast("bigint"),
            F.col("n").cast("bigint"),
        ).alias("k_hi"),
    )
    pick = lambda kc, name: F.max(
        F.when(F.col("rn") == F.col(kc), F.col("cents"))
    ).cast("bigint").alias(name)
    return k.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        pick("k_med", "median_cents"),
        pick("k_lo", "lo_cents"),
        pick("k_hi", "hi_cents"),
    )


@REGISTRY.register(
    "q_conformal_coverage",
    tags=("mlstats", "ml-evaluation"),
    oracle="""
WITH split AS MATERIALIZED (
  SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
         event_id,
         ('0x' || substr(md5('cal:' || user_id), 1, 8))::BIGINT % 2 = 0
           AS is_cal
  FROM events
), cal AS MATERIALIZED (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY cents, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n_cal
  FROM split WHERE is_cal
), band AS MATERIALIZED (
  SELECT event_type, CAST(MAX(n_cal) AS BIGINT) AS n_cal,
         CAST(MAX(CASE WHEN rn = GREATEST((n_cal * 5) // 100, 1)
                       THEN cents END) AS BIGINT) AS lo_cents,
         CAST(MAX(CASE WHEN rn = LEAST((n_cal * 95 + 99) // 100, n_cal)
                       THEN cents END) AS BIGINT) AS hi_cents
  FROM cal GROUP BY event_type
)
SELECT s.event_type, band.n_cal,
       CAST(COUNT(*) AS BIGINT) AS n_eval,
       band.lo_cents, band.hi_cents,
       (CAST(SUM(CASE WHEN s.cents BETWEEN band.lo_cents AND band.hi_cents
                      THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // COUNT(*)
         AS coverage_micro
FROM split s JOIN band ON s.event_type = band.event_type
WHERE NOT s.is_cal
GROUP BY s.event_type, band.n_cal, band.lo_cents, band.hi_cents
""",
)
def q_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal interval + empirical coverage: users are hashed
    (md5 — engine-portable) into calibration/evaluation halves; the
    calibration half yields a per-type [5th, 95th] order-statistic
    band, and the held-out half measures how often reality falls
    inside it — the distribution-free uncertainty-quantification loop
    (calibrate on one split, certify coverage on another; honest
    because the split is by USER, so no leakage through repeated
    events).

    Exact: order-statistic selection on BIGINT cents, integer rank
    arithmetic, floor-division coverage.

    Scale shape: one type-keyed window over the calibration half, the
    tiny band table broadcast onto the evaluation half, one final
    keyed agg."""
    c = catalog(spark, sf_dir)
    is_cal = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cal:"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
        == 0
    )
    split = c.events.select(
        "event_type",
        half_up("value", 100).alias("cents"),
        "event_id",
        is_cal.alias("is_cal"),
    )
    wp = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wn = Window.partitionBy("event_type")
    cal = split.filter("is_cal").select(
        "event_type",
        "cents",
        F.row_number().over(wp).alias("rn"),
        F.count("*").over(wn).alias("n_cal"),
    )
    band = cal.groupBy("event_type").agg(
        F.max("n_cal").cast("bigint").alias("n_cal"),
        F.max(
            F.when(
                F.col("rn")
                == F.greatest(F.expr("(n_cal * 5) div 100"), F.lit(1)),
                F.col("cents"),
            )
        )
        .cast("bigint")
        .alias("lo_cents"),
        F.max(
            F.when(
                F.col("rn")
                == F.least(F.expr("(n_cal * 95 + 99) div 100"), F.col("n_cal")),
                F.col("cents"),
            )
        )
        .cast("bigint")
        .alias("hi_cents"),
    )
    ev = split.filter(~F.col("is_cal"))
    j = ev.join(F.broadcast(band), "event_type")
    return j.groupBy("event_type", "n_cal", "lo_cents", "hi_cents").agg(
        F.count("*").cast("bigint").alias("n_eval"),
        F.expr(
            "(sum(CASE WHEN cents BETWEEN lo_cents AND hi_cents"
            " THEN 1 ELSE 0 END) * 1000000) div count(*)"
        ).alias("coverage_micro"),
    ).select(
        "event_type", "n_cal", "n_eval", "lo_cents", "hi_cents",
        "coverage_micro",
    )


# chi-square df=1 critical values for BH step-up at alpha=0.05, m=5:
# crit[k] = F^{-1}(1 - 0.05*k/5), public chi-square table constants.
_BH_CRIT = [6.6349, 5.4119, 4.7093, 4.2179, 3.8415]


@REGISTRY.register(
    "q_multiple_testing_fdr",
    tags=("mlstats", "experimentation"),
    oracle=f"""
WITH base AS (
  SELECT event_type,
         CASE WHEN isodow(ts) IN (6, 7) THEN 1 ELSE 0 END AS wknd
  FROM events
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(wknd) AS BIGINT) AS n_wknd
  FROM base
), per AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_t,
         CAST(SUM(wknd) AS BIGINT) AS a
  FROM base GROUP BY event_type
), cells AS (
  SELECT event_type, a, n_t - a AS b,
         n_wknd - a AS c, n - n_t - (n_wknd - a) AS d, n
  FROM per, tot
), stat AS (
  SELECT event_type,
         CAST(FLOOR(
           CAST(n AS DOUBLE)
           * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
           * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
           / ((CAST(a AS DOUBLE) + b) * (CAST(c AS DOUBLE) + d)
              * (CAST(a AS DOUBLE) + c) * (CAST(b AS DOUBLE) + d))
           * 1000000) AS BIGINT) AS chi2_micro
  FROM cells
), ranked AS (
  SELECT event_type, chi2_micro,
         ROW_NUMBER() OVER (ORDER BY chi2_micro DESC, event_type) AS rk
  FROM stat
), flagged AS (
  SELECT *, CASE rk WHEN 1 THEN {int(_BH_CRIT[0] * 1e6)}
                    WHEN 2 THEN {int(_BH_CRIT[1] * 1e6)}
                    WHEN 3 THEN {int(_BH_CRIT[2] * 1e6)}
                    WHEN 4 THEN {int(_BH_CRIT[3] * 1e6)}
                    ELSE {int(_BH_CRIT[4] * 1e6)} END AS crit_micro
  FROM ranked
), cutoff AS (
  SELECT COALESCE(MAX(CASE WHEN chi2_micro >= crit_micro THEN rk END), 0)
           AS k_star
  FROM flagged
)
SELECT event_type, chi2_micro, CAST(rk AS BIGINT) AS rk,
       rk <= cutoff.k_star AS rejected
FROM flagged, cutoff
""",
)
def q_multiple_testing_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over a FAMILY of hypothesis
    tests: each event type gets a 2x2 chi-square test (is this type's
    weekend share different from everyone else's?), then the step-up
    procedure finds the largest rank k whose statistic clears the
    rank-dependent critical value and rejects ranks 1..k — the
    multiple-comparisons discipline an experimentation platform needs
    the moment it runs more than one test per day (a bare alpha=0.05
    on 5 tests false-positives ~23% of the time).

    Exactness: cells are BIGINT; chi2 is one shared IEEE expression
    over identical integers, compared in floored micro-units against
    integerized public chi-square critical constants; the step-up
    cutoff is an integer max. (p-values never appear — BH on p(k) <=
    k*alpha/m is equivalent to chi2(k) >= crit(k) since the df=1 CDF
    is monotone.)

    Scale shape: one map-side-combined groupBy over the fact table +
    window/agg over the 5-row test family."""
    c = catalog(spark, sf_dir)
    base = c.events.select(
        "event_type",
        F.when(F.weekday("ts").isin(5, 6), 1).otherwise(0).alias("wknd"),
    )
    tot = base.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("wknd").cast("bigint").alias("n_wknd"),
    )
    per = base.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_t"),
        F.sum("wknd").cast("bigint").alias("a"),
    )
    cells = per.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "a",
        (F.col("n_t") - F.col("a")).alias("b"),
        (F.col("n_wknd") - F.col("a")).alias("c"),
        (F.col("n") - F.col("n_t") - (F.col("n_wknd") - F.col("a"))).alias("d"),
        "n",
    )
    num = F.col("a").cast("double") * F.col("d") - F.col("b").cast(
        "double"
    ) * F.col("c")
    # try_divide: a margin of zero (e.g. a single event type makes
    # c+d = 0) leaves chi2 undefined — NULL on both engines; the BH
    # step-up then simply never rejects that row (NULL >= crit is
    # NULL, excluded from the cutoff max)
    chi2 = F.try_divide(
        F.col("n").cast("double") * num * num,
        (F.col("a").cast("double") + F.col("b"))
        * (F.col("c").cast("double") + F.col("d"))
        * (F.col("a").cast("double") + F.col("c"))
        * (F.col("b").cast("double") + F.col("d")),
    )
    stat = cells.select(
        "event_type",
        F.floor(chi2 * 1000000).cast("bigint").alias("chi2_micro"),
    )
    ranked = stat.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("chi2_micro").desc(), F.col("event_type"))
        ),
    )
    crit = (
        F.when(F.col("rk") == 1, int(_BH_CRIT[0] * 1e6))
        .when(F.col("rk") == 2, int(_BH_CRIT[1] * 1e6))
        .when(F.col("rk") == 3, int(_BH_CRIT[2] * 1e6))
        .when(F.col("rk") == 4, int(_BH_CRIT[3] * 1e6))
        .otherwise(int(_BH_CRIT[4] * 1e6))
    )
    flagged = ranked.withColumn("crit_micro", crit)
    cutoff = flagged.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("chi2_micro") >= F.col("crit_micro"), F.col("rk")
                )
            ),
            F.lit(0),
        ).alias("k_star")
    )
    return flagged.crossJoin(F.broadcast(cutoff)).select(
        "event_type",
        "chi2_micro",
        F.col("rk").cast("bigint").alias("rk"),
        (F.col("rk") <= F.col("k_star")).alias("rejected"),
    )


@REGISTRY.register(
    "q_outlier_kappa",
    tags=("mlstats", "dq"),
    oracle="""
WITH c AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents FROM events
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s,
         CAST(SUM(cents * cents) AS BIGINT) AS ss
  FROM c
), med AS (
  SELECT CAST(quantile_disc(cents, 0.5) AS BIGINT) AS m FROM c
), mad AS (
  SELECT CAST(quantile_disc(ABS(cents - med.m), 0.5) AS BIGINT) AS d
  FROM c, med
), flags AS (
  SELECT (CAST(cents AS DOUBLE) * n - s) * (CAST(cents AS DOUBLE) * n - s)
           > 9.0 * n * (CAST(n AS DOUBLE) * ss - CAST(s AS DOUBLE) * s)
               / (n - 1) AS z_flag,
         ABS(cents - med.m) > 3 * mad.d AS mad_flag
  FROM c, mom, med, mad
), cells AS (
  SELECT CAST(SUM(CASE WHEN z_flag AND mad_flag THEN 1 ELSE 0 END)
              AS BIGINT) AS a,
         CAST(SUM(CASE WHEN z_flag AND NOT mad_flag THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
         CAST(SUM(CASE WHEN NOT z_flag AND mad_flag THEN 1 ELSE 0 END)
              AS BIGINT) AS cc,
         CAST(SUM(CASE WHEN NOT z_flag AND NOT mad_flag THEN 1 ELSE 0 END)
              AS BIGINT) AS d
  FROM flags
)
SELECT a, b, cc, d,
       CAST(FLOOR(
         (CAST(a + d AS DOUBLE) * (a + b + cc + d)
          - (CAST(a + b AS DOUBLE) * (a + cc)
             + CAST(cc + d AS DOUBLE) * (b + d)))
         / (CAST(a + b + cc + d AS DOUBLE) * (a + b + cc + d)
            - (CAST(a + b AS DOUBLE) * (a + cc)
               + CAST(cc + d AS DOUBLE) * (b + d)))
         * 1000000) AS BIGINT) AS kappa_micro
FROM cells
""",
)
def q_outlier_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-method outlier agreement: every event is flagged by BOTH
    the parametric rule (|z| > 3, evaluated scale-free as
    (c*n - S)^2 > 9*n*var*(n-1)-scaled) and the robust rule
    (|c - median| > 3*MAD), and Cohen's kappa scores their
    chance-corrected agreement — the audit that tells you whether your
    two anomaly detectors are redundant (kappa ~ 1) or measuring
    different things (kappa ~ 0), before you page anyone on either.

    Exactness: the MAD flag is pure BIGINT; the z flag and kappa use
    one shared IEEE expression over identical integer moments; kappa
    is emitted in floored micro-units.

    Scale shape: one pass for moments (tree-reduced), one exact-median
    selection, one map-side flag + 4-cell global agg — no per-row
    window, no join on the fact table."""
    c0 = catalog(spark, sf_dir)
    cents = half_up("value", 100)
    c = c0.events.select(cents.alias("cents"))
    mom = c.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("ss"),
    )
    med = c.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)")
        .cast("bigint")
        .alias("m")
    )
    mad = c.crossJoin(F.broadcast(med)).agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(cents - m))"
        )
        .cast("bigint")
        .alias("d")
    )
    flags = (
        c.crossJoin(F.broadcast(mom))
        .crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .select(
            (
                (F.col("cents").cast("double") * F.col("n") - F.col("s"))
                * (F.col("cents").cast("double") * F.col("n") - F.col("s"))
                > 9.0
                * F.col("n")
                * (
                    F.col("n").cast("double") * F.col("ss")
                    - F.col("s").cast("double") * F.col("s")
                )
                / (F.col("n") - 1)
            ).alias("z_flag"),
            (F.abs(F.col("cents") - F.col("m")) > 3 * F.col("d")).alias(
                "mad_flag"
            ),
        )
    )
    cells = flags.agg(
        F.sum(F.when(F.col("z_flag") & F.col("mad_flag"), 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when(F.col("z_flag") & ~F.col("mad_flag"), 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(F.when(~F.col("z_flag") & F.col("mad_flag"), 1).otherwise(0))
        .cast("bigint")
        .alias("cc"),
        F.sum(F.when(~F.col("z_flag") & ~F.col("mad_flag"), 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
    )
    agree = F.col("a").cast("double") + F.col("d")
    n_all = F.col("a") + F.col("b") + F.col("cc") + F.col("d")
    pe_num = (F.col("a") + F.col("b")).cast("double") * (
        F.col("a") + F.col("cc")
    ) + (F.col("cc") + F.col("d")).cast("double") * (F.col("b") + F.col("d"))
    return cells.select(
        "a",
        "b",
        "cc",
        "d",
        F.floor(
            # try_divide, not /: when neither rule flags any row the
            # denominator is exactly 0 and kappa is undefined — DuckDB
            # yields NULL on x/0 and the oracle propagates it; ANSI
            # Spark would raise (found by the seed-1 differential fuzz
            # fixture, where no event clears either threshold)
            F.try_divide(
                agree * n_all - pe_num,
                n_all.cast("double") * n_all - pe_num,
            )
            * 1000000
        )
        .cast("bigint")
        .alias("kappa_micro"),
    )


@REGISTRY.register(
    "q_segment_ltv_mae",
    tags=("mlstats", "ml-evaluation"),
    oracle="""
WITH labeled AS (
  SELECT c.c_mktsegment AS seg, o.o_custkey,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents,
         o.o_orderdate < TIMESTAMP '1999-01-01' AS is_train
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY seg, o.o_custkey, is_train
), model AS (
  SELECT seg,
         CAST(SUM(cents) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
           AS pred_cents
  FROM labeled WHERE is_train GROUP BY seg
)
SELECT l.seg,
       CAST(COUNT(*) AS BIGINT) AS n_test_customers,
       m.pred_cents,
       CAST(SUM(ABS(l.cents - m.pred_cents)) AS BIGINT)
         // CAST(COUNT(*) AS BIGINT) AS mae_cents
FROM labeled l JOIN model m ON l.seg = m.seg
WHERE NOT l.is_train
GROUP BY l.seg, m.pred_cents
""",
)
def q_segment_ltv_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline model train/score/evaluate entirely in the engine:
    predict a customer's period spend by their SEGMENT's historical
    (pre-1999) per-customer average, score the post-1999 period, and
    report MAE per segment — the group-mean baseline every LTV model
    must beat, with the same leakage-free temporal split as
    q_rec_precision.

    Exact: per-customer cents are BIGINT sums, the model is integer
    floor-division of train sums, MAE is an integer floor-division of
    absolute BIGINT residuals.

    Scale shape: one customer-keyed agg (map-side combined), the
    segment model is a 5-row broadcast, evaluation is a second tiny
    keyed agg."""
    c = catalog(spark, sf_dir)
    split = F.lit("1999-01-01").cast("timestamp")
    labeled = (
        c.orders.join(
            F.broadcast(c.customer.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            "o_custkey",
            (F.col("o_orderdate") < split).alias("is_train"),
        )
        .agg(
            F.sum(half_up("o_totalprice", 100))
            .cast("bigint")
            .alias("cents")
        )
    )
    model = (
        labeled.filter("is_train")
        .groupBy("seg")
        .agg(F.expr("sum(cents) div count(*)").alias("pred_cents"))
    )
    test = labeled.filter(~F.col("is_train"))
    return (
        test.join(F.broadcast(model), "seg")
        .groupBy("seg", "pred_cents")
        .agg(
            F.count("*").cast("bigint").alias("n_test_customers"),
            F.expr(
                "sum(abs(cents - pred_cents)) div count(*)"
            ).alias("mae_cents"),
        )
        .select("seg", "n_test_customers", "pred_cents", "mae_cents")
    )


@REGISTRY.register(
    "q_cusum_alarm",
    tags=("mlstats", "monitoring"),
    oracle="""
WITH seq AS (
  SELECT user_id, ts, event_id,
         SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT) - 5000) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
  FROM events
), cusum AS (
  SELECT user_id,
         p - LEAST(MIN(p) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS s
  FROM seq
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(s) AS BIGINT) AS max_cusum,
       CAST(SUM(CASE WHEN s > 50000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_over_threshold
FROM cusum GROUP BY user_id
""",
)
def q_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM sequential change detection per user (reference k = 5000
    cents, decision threshold h = 50000): the classic alarm for "this
    user's spend level shifted upward" that reacts faster than any
    fixed-window mean.

    The CUSUM recursion S_t = max(0, S_{t-1} + (x_t - k)) LOOKS
    inherently sequential, but the closed form S_t = P_t - min(0,
    min_{j<=t} P_j) over the prefix sums P makes it two window passes —
    declarative, exact BIGINT, and parallel over users. This identity
    is the difference between "needs a stateful UDF" and "runs as
    whole-stage codegen at 100 TB". The prefix min must INCLUDE the
    current row: with an exclusive (j<t) min, a row whose P_t sets a
    new minimum below zero gets S < 0 where the recursion pins it to 0
    (proof by induction in test_formula_audit's direct-recursion
    reference, which this query is checked against).

    One user-keyed shuffle; the oracle replays the identical two-window
    closed form."""
    c = catalog(spark, sf_dir)
    cents = half_up("value", 100)
    wcur = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = c.events.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(cents - 5000).over(wcur).alias("p"),
    )
    cusum = seq.select(
        "user_id",
        (
            F.col("p")
            - F.least(F.min("p").over(wcur), F.lit(0).cast("bigint"))
        ).alias("s"),
    )
    return cusum.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.max("s").cast("bigint").alias("max_cusum"),
        F.sum(F.when(F.col("s") > 50000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_over_threshold"),
    )


@REGISTRY.register(
    "q_kendall_tau",
    tags=("mlstats", "statistics"),
    oracle="""
WITH per AS (
  SELECT p_brand,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)) AS BIGINT))
              AS BIGINT) AS rev,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
), pairs AS (
  SELECT CASE WHEN (a.rev - b.rev) * (a.qty - b.qty) > 0 THEN 1 ELSE 0 END
           AS conc,
         CASE WHEN (a.rev - b.rev) * (a.qty - b.qty) < 0 THEN 1 ELSE 0 END
           AS disc
  FROM per a JOIN per b ON a.p_brand < b.p_brand
)
SELECT CAST((SELECT COUNT(*) FROM per) AS BIGINT) AS n_brands,
       CAST(SUM(conc) AS BIGINT) AS concordant,
       CAST(SUM(disc) AS BIGINT) AS discordant,
       CAST(FLOOR(CAST(SUM(conc) - SUM(disc) AS DOUBLE)
                  / COUNT(*) * 1000000) AS BIGINT) AS tau_micro
FROM pairs
""",
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-a rank correlation between brand revenue and brand
    quantity rankings: pairwise concordance over the aggregated brand
    rollup — the robust "do these two metrics order the portfolio the
    same way" statistic (complements Pearson-style q_series_corr,
    which ties depend on magnitudes, not order).

    Exactness: concordance is the SIGN of a BIGINT product — no ranks,
    no floats until the final shared floor division (FLOOR of a double,
    not integer div, so a negative tau floors identically on both
    engines — integer `div` truncates toward zero in Spark but floors
    in DuckDB, an incompatibility this query dodges deliberately).

    Scale shape: the O(n^2) pairwise join runs on the 25-row BRAND
    ROLLUP, never the fact table (which aggregates once, map-side
    combined); at item cardinalities where n^2 bites, tau switches to
    the merge-sort inversion count (O(n log n))."""
    c = catalog(spark, sf_dir)
    per = (
        c.lineitem.join(
            F.broadcast(c.part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("rev"),
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("qty"),
        )
    )
    a = per.select(
        F.col("p_brand").alias("ba"), F.col("rev").alias("ra"), F.col("qty").alias("qa")
    )
    b = per.select(
        F.col("p_brand").alias("bb"), F.col("rev").alias("rb"), F.col("qty").alias("qb")
    )
    prod = (F.col("ra") - F.col("rb")) * (F.col("qa") - F.col("qb"))
    pairs = a.join(b, F.col("ba") < F.col("bb")).select(
        F.when(prod > 0, 1).otherwise(0).alias("conc"),
        F.when(prod < 0, 1).otherwise(0).alias("disc"),
    )
    n_brands = per.agg(F.count("*").cast("bigint").alias("n_brands"))
    return pairs.agg(
        F.sum("conc").cast("bigint").alias("concordant"),
        F.sum("disc").cast("bigint").alias("discordant"),
        F.floor(
            (F.sum("conc") - F.sum("disc")).cast("double")
            / F.count("*")
            * 1000000
        )
        .cast("bigint")
        .alias("tau_micro"),
    ).crossJoin(F.broadcast(n_brands)).select(
        "n_brands", "concordant", "discordant", "tau_micro"
    )


@REGISTRY.register(
    "q_permutation_test",
    tags=("mlstats", "statistics"),
    oracle="""
WITH base AS (
  SELECT event_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
         event_type
  FROM events WHERE event_type IN ('purchase', 'click')
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END)
              AS BIGINT) AS s_a
  FROM base
), obs AS (
  SELECT ABS((n - n_a) * s_a - n_a * (s - s_a)) AS t_obs FROM tot
), perms AS (
  SELECT p.i,
         CAST(SUM(CASE WHEN ('0x' || substr(md5(p.i || ':' || b.event_id),
                                            1, 8))::BIGINT % tot.n < tot.n_a
                       THEN 1 ELSE 0 END) AS BIGINT) AS pn_a,
         CAST(SUM(CASE WHEN ('0x' || substr(md5(p.i || ':' || b.event_id),
                                            1, 8))::BIGINT % tot.n < tot.n_a
                       THEN b.cents ELSE 0 END) AS BIGINT) AS ps_a
  FROM base b CROSS JOIN tot
  CROSS JOIN (SELECT unnest(generate_series(1, 19)) AS i) p
  GROUP BY p.i
), tstats AS (
  SELECT i, ABS((tot.n - pn_a) * ps_a - pn_a * (tot.s - ps_a)) AS t_i
  FROM perms, tot
)
SELECT (SELECT t_obs FROM obs) AS t_obs,
       CAST(SUM(CASE WHEN t_i >= (SELECT t_obs FROM obs) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_greater,
       CAST(COUNT(*) AS BIGINT) AS n_perms,
       ((CAST(SUM(CASE WHEN t_i >= (SELECT t_obs FROM obs)
                       THEN 1 ELSE 0 END) AS BIGINT) + 1) * 1000)
         // (COUNT(*) + 1) AS p_milli
FROM tstats
""",
)
def q_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic randomization (permutation-style) test: is the
    purchase-vs-click mean value difference larger than chance? The
    scale-free statistic T = |n_b*S_a - n_a*S_b| (pure BIGINT — equals
    n_a*n_b*|mean difference|) is recomputed under 19 md5-derived
    pseudo-relabelings of the rows, and the rank of the observed T
    among them gives the Monte-Carlo p-value (+1 smoothing) — the
    assumption-free inference tool when t-test normality is in doubt
    (complements q_ab_ttest), with md5 keeping every 'random' draw
    engine-portable and rerun-stable.

    Scale shape: ONE pass computes all 19 relabeled statistics (a
    19-way explode-by-constant, map-side; group count = n_perms), so
    the cost is ~20x one aggregation, never 20 scans."""
    c = catalog(spark, sf_dir)
    base = c.events.filter(
        F.col("event_type").isin("purchase", "click")
    ).select(
        "event_id",
        half_up("value", 100).alias("cents"),
        "event_type",
    )
    tot = base.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("event_type") == "purchase", F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("s_a"),
    )
    obs = tot.select(
        F.abs(
            (F.col("n") - F.col("n_a")) * F.col("s_a")
            - F.col("n_a") * (F.col("s") - F.col("s_a"))
        ).alias("t_obs")
    )
    perm_hash = F.conv(
        F.substring(
            F.md5(F.concat(F.col("i").cast("string"), F.lit(":"), F.col("event_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    perms = (
        base.crossJoin(F.broadcast(tot))
        .select(
            "event_id",
            "cents",
            "n",
            "s",
            "n_a",
            F.explode(F.sequence(F.lit(1), F.lit(19))).alias("i"),
        )
        .withColumn("in_a", perm_hash % F.col("n") < F.col("n_a"))
        .groupBy("i")
        .agg(
            F.max("n").alias("n"),
            F.max("s").alias("s"),
            F.sum(F.when(F.col("in_a"), 1).otherwise(0))
            .cast("bigint")
            .alias("pn_a"),
            F.sum(F.when(F.col("in_a"), F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("ps_a"),
        )
    )
    tstats = perms.select(
        F.abs(
            (F.col("n") - F.col("pn_a")) * F.col("ps_a")
            - F.col("pn_a") * (F.col("s") - F.col("ps_a"))
        ).alias("t_i")
    )
    return tstats.crossJoin(F.broadcast(obs)).agg(
        F.max("t_obs").alias("t_obs"),
        F.sum(F.when(F.col("t_i") >= F.col("t_obs"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_greater"),
        F.count("*").cast("bigint").alias("n_perms"),
    ).select(
        "t_obs",
        "n_greater",
        "n_perms",
        F.expr("((n_greater + 1) * 1000) div (n_perms + 1)").alias("p_milli"),
    )


@REGISTRY.register(
    "q_kfold_cv",
    tags=("mlstats", "ml-evaluation"),
    oracle="""
WITH per_cust AS MATERIALIZED (
  SELECT c.c_mktsegment AS seg,
         ('0x' || substr(md5('fold:' || o.o_custkey), 1, 8))::BIGINT % 5
           AS fold,
         o.o_custkey,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY seg, fold, o.o_custkey
), partials AS MATERIALIZED (
  SELECT seg, fold, CAST(COUNT(*) AS BIGINT) AS n_sf,
         CAST(SUM(cents) AS BIGINT) AS s_sf
  FROM per_cust GROUP BY seg, fold
), seg_tot AS MATERIALIZED (
  SELECT seg, CAST(SUM(n_sf) AS BIGINT) AS n_s,
         CAST(SUM(s_sf) AS BIGINT) AS s_s
  FROM partials GROUP BY seg
), model AS MATERIALIZED (
  SELECT p.seg, p.fold,
         (t.s_s - p.s_sf) // (t.n_s - p.n_sf) AS pred_cents
  FROM partials p JOIN seg_tot t ON p.seg = t.seg
  WHERE t.n_s > p.n_sf
)
SELECT m.fold,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(SUM(ABS(pc.cents - m.pred_cents)) AS BIGINT) // COUNT(*)
         AS mae_cents
FROM per_cust pc
JOIN model m ON pc.seg = m.seg AND pc.fold = m.fold
GROUP BY m.fold
""",
)
def q_kfold_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validation of the segment-mean spend model in one
    pass: customers hash (md5) into folds, per-(segment, fold) PARTIAL
    sums are aggregated once, and each fold's leave-that-fold-out
    training mean is derived by SUBTRACTING its partial from the
    segment total — the partial-aggregate trick that makes k-fold CV
    cost one aggregation instead of k training scans (the same
    mergeable-partials idea as q_incremental_agg, applied to model
    evaluation). Per-fold MAE quantifies the baseline's stability
    (complements the single-split q_segment_ltv_mae).

    Exact: BIGINT partials, floor-division predictions and MAE.

    Scale shape: one customer-keyed agg, one tiny (segments x folds)
    partial table, evaluation joins the per-customer rollup against
    the broadcast model."""
    c = catalog(spark, sf_dir)
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("fold:"), F.col("o_custkey").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 5
    )
    per_cust = (
        c.orders.join(
            F.broadcast(c.customer.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            fold.alias("fold"),
            "o_custkey",
        )
        .agg(
            F.sum(half_up("o_totalprice", 100))
            .cast("bigint")
            .alias("cents")
        )
    )
    partials = per_cust.groupBy("seg", "fold").agg(
        F.count("*").cast("bigint").alias("n_sf"),
        F.sum("cents").cast("bigint").alias("s_sf"),
    )
    seg_tot = partials.groupBy("seg").agg(
        F.sum("n_sf").cast("bigint").alias("n_s"),
        F.sum("s_sf").cast("bigint").alias("s_s"),
    )
    model = (
        partials.join(F.broadcast(seg_tot), "seg")
        .filter(F.col("n_s") > F.col("n_sf"))
        .select(
            "seg",
            "fold",
            F.expr("(s_s - s_sf) div (n_s - n_sf)").alias("pred_cents"),
        )
    )
    return (
        per_cust.join(F.broadcast(model), ["seg", "fold"])
        .groupBy("fold")
        .agg(
            F.count("*").cast("bigint").alias("n_test"),
            F.expr("sum(abs(cents - pred_cents)) div count(*)").alias(
                "mae_cents"
            ),
        )
    )


@REGISTRY.register(
    "q_quantile_normalize",
    tags=("mlstats", "feature-engineering"),
    oracle="""
WITH src AS MATERIALIZED (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents, event_id,
         ROW_NUMBER() OVER (ORDER BY FLOOR(value * 100 + 0.5), event_id)
           AS rn,
         COUNT(*) OVER () AS n
  FROM events WHERE event_type = 'click'
), tgt AS MATERIALIZED (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents, event_id,
         ROW_NUMBER() OVER (ORDER BY FLOOR(value * 100 + 0.5), event_id)
           AS rn,
         COUNT(*) OVER () AS n
  FROM events WHERE event_type = 'purchase'
), d AS MATERIALIZED (SELECT unnest(generate_series(1, 9)) AS decile)
SELECT d.decile,
       (SELECT cents FROM src WHERE rn = GREATEST((d.decile * n) // 10, 1))
         AS src_decile_cents,
       (SELECT cents FROM tgt WHERE rn = GREATEST((d.decile * n) // 10, 1))
         AS mapped_cents
FROM d
""",
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization mapping table: the transform that maps
    the click-value distribution onto the purchase-value distribution
    by matched rank (decile anchors shown) — the batch-effect /
    cross-platform score-calibration standard (a source value at its
    d-th decile is replaced by the target's d-th decile).

    Exact: both deciles are order statistics selected by BIGINT rank
    arithmetic — ties share a cents value, so the oracle's
    (cents, event_id) ROW_NUMBER selection picks the identical VALUE.

    Scale shape: NO global row sort — each side is a groupBy(cents)
    count summary fed through the two-phase bucketed prefix-sum
    selection (_select_order_stats, the q_auc_rank discipline); the
    only windows run over distinct-value/bucket summaries, and the
    9-row decile spine broadcasts onto the summary."""
    c = catalog(spark, sf_dir)
    cents = half_up("value", 100)
    d = spark.range(1, 10).select(F.col("id").cast("bigint").alias("decile"))

    def pick(tp: str, out_col: str) -> DataFrame:
        vals = c.events.filter(F.col("event_type") == tp).select(
            cents.alias("cents")
        )
        per_v = vals.groupBy("cents").agg(
            F.count("*").cast("bigint").alias("cnt")
        )
        n = vals.agg(F.count("*").cast("bigint").alias("n"))
        ks = d.crossJoin(F.broadcast(n)).select(
            "decile",
            F.greatest(F.expr("(decile * n) div 10"), F.lit(1)).alias("k"),
        )
        return _select_order_stats(per_v, ks).select(
            "decile", F.col("cents").alias(out_col)
        )

    # left joins from the 9-row decile spine: an EMPTY side (e.g. no
    # purchase events at all) must yield NULL anchors on 9 rows, like
    # the oracle's scalar subqueries over an empty CTE — an inner join
    # would drop the spine entirely (degenerate fuzz fixture)
    return (
        d.join(pick("click", "src_decile_cents"), "decile", "left")
        .join(pick("purchase", "mapped_cents"), "decile", "left")
    )


# RBO geometric weights (1-p)*p^(d-1) for p=0.9, d=1..10, in nano-units
# (integerized once so both engines do pure integer arithmetic).
_RBO_W = [
    100000000, 90000000, 81000000, 72900000, 65610000,
    59049000, 53144100, 47829690, 43046721, 38742049,
]
_RBO_W_SQL = ", ".join(
    f"({d + 1}, {w})" for d, w in enumerate(_RBO_W)
)


@REGISTRY.register(
    "q_rank_biased_overlap",
    tags=("mlstats", "ir-evaluation"),
    oracle=f"""
WITH per AS (
  SELECT p_brand,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)) AS BIGINT))
              AS BIGINT) AS rev,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
), ranked AS (
  SELECT p_brand,
         ROW_NUMBER() OVER (ORDER BY rev DESC, p_brand) AS ra,
         ROW_NUMBER() OVER (ORDER BY qty DESC, p_brand) AS rb
  FROM per
), w(d, wt) AS (VALUES {_RBO_W_SQL}),
ovl AS (
  SELECT w.d, w.wt,
         CAST(COUNT(CASE WHEN GREATEST(ra, rb) <= w.d THEN 1 END)
              AS BIGINT) AS ov
  FROM w LEFT JOIN ranked ON GREATEST(ra, rb) <= w.d
  GROUP BY w.d, w.wt
)
SELECT CAST(SUM((ov * wt) // d) AS BIGINT) AS rbo_nano,
       CAST(MAX(CASE WHEN d = 10 THEN ov END) AS BIGINT) AS overlap_at_10
FROM ovl
""",
)
def q_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (RBO, p=0.9, depth 10) between the
    revenue-ranked and quantity-ranked brand lists — the top-weighted
    ranking-similarity metric used to compare search/recommendation
    result lists (unlike Kendall's tau it cares MORE about agreement
    at the top, and handles top-k truncation gracefully).

    Exactness: the geometric weights are pre-integerized nano-unit
    constants shared by both dialects; depth-d overlap counts brands
    with max(rank_a, rank_b) <= d (a closed form that avoids
    materializing prefixes); every term floors before the
    order-independent integer sum.

    Scale shape: fact table aggregates once; ranking and the 10-depth
    spine run on the 25-row rollup."""
    c = catalog(spark, sf_dir)
    per = (
        c.lineitem.join(
            F.broadcast(c.part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("rev"),
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("qty"),
        )
    )
    ranked = per.select(
        "p_brand",
        F.row_number()
        .over(Window.orderBy(F.col("rev").desc(), F.col("p_brand")))
        .alias("ra"),
        F.row_number()
        .over(Window.orderBy(F.col("qty").desc(), F.col("p_brand")))
        .alias("rb"),
    )
    w = spark.createDataFrame(
        [(d + 1, wt) for d, wt in enumerate(_RBO_W)], ["d", "wt"]
    )
    overlaps = (
        w.join(
            ranked, F.greatest(F.col("ra"), F.col("rb")) <= F.col("d"), "left"
        )
        .groupBy("d", "wt")
        .agg(
            F.count(
                F.when(F.greatest(F.col("ra"), F.col("rb")) <= F.col("d"), 1)
            )
            .cast("bigint")
            .alias("ov")
        )
    )
    return overlaps.agg(
        F.sum(F.expr("(ov * wt) div d")).cast("bigint").alias("rbo_nano"),
        F.max(F.when(F.col("d") == 10, F.col("ov")))
        .cast("bigint")
        .alias("overlap_at_10"),
    )


@REGISTRY.register(
    "q_absorption_3step",
    tags=("mlstats", "sequence"),
    oracle="""
WITH seq AS (
  SELECT event_type AS cur,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM events
), tr AS (
  SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
  FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
), r AS (
  SELECT cur, CAST(SUM(c) AS BIGINT) AS rt FROM tr GROUP BY cur
), q AS (
  SELECT tr.cur, tr.nxt, (tr.c * 1000000000) // r.rt AS p_nano
  FROM tr JOIN r ON tr.cur = r.cur
), p1 AS (
  SELECT r.cur, COALESCE(MAX(CASE WHEN q.nxt = 'purchase'
                                  THEN q.p_nano END), 0) AS p
  FROM r LEFT JOIN q ON r.cur = q.cur GROUP BY r.cur
), p2 AS (
  SELECT p1.cur,
         p1.p + CAST(SUM(CASE WHEN q.nxt <> 'purchase'
                              THEN (q.p_nano * j.p) // 1000000000
                              ELSE 0 END) AS BIGINT) AS p
  FROM p1 JOIN q ON p1.cur = q.cur JOIN p1 j ON q.nxt = j.cur
  GROUP BY p1.cur, p1.p
), p3 AS (
  SELECT p1.cur,
         p1.p + CAST(SUM(CASE WHEN q.nxt <> 'purchase'
                              THEN (q.p_nano * j.p) // 1000000000
                              ELSE 0 END) AS BIGINT) AS p
  FROM p1 JOIN q ON p1.cur = q.cur JOIN p2 j ON q.nxt = j.cur
  GROUP BY p1.cur, p1.p
)
SELECT p1.cur AS event_type, p1.p AS p1_nano, p2.p AS p2_nano,
       p3.p AS p3_nano
FROM p1 JOIN p2 ON p1.cur = p2.cur JOIN p3 ON p1.cur = p3.cur
""",
)
def q_absorption_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorption probability unrolled 3 steps: P(a user's NEXT
    purchase happens within 1, 2, or 3 transitions) from each starting
    event type, by the first-step recursion P_k(t) = q(t,purchase) +
    sum_{j != purchase} q(t,j) * P_{k-1}(j) over the empirical Markov
    chain — the conversion-horizon planning number q_markov_accuracy's
    point predictions can't give you.

    Exactness: transition probabilities are nano-unit BIGINT floor
    divisions; each recursion term floors before the
    order-independent integer sum — deterministic fixed-point
    arithmetic, documented bias < |types| nano per level.

    Scale shape: one user-keyed window pass for transitions; all three
    unrolled steps run on the |types|^2 matrix (tiny, broadcast)."""
    c = catalog(spark, sf_dir)
    wl = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = c.events.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(wl).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    # |types|²-bounded transition counts, re-referenced by every
    # unrolled step (p3 nests p2 nests p1, each embedding q and r) —
    # materialize once so the user-keyed window pass over events isn't
    # re-planned/re-executed per reference (optimization r13, guide §5:
    # measured 83 Exchanges / 0 ReusedExchange in this query's plan
    # without it; Catalyst does not CSE repeated DataFrame subtrees)
    tr = materialize(
        seq.groupBy("cur", "nxt").agg(F.count("*").cast("bigint").alias("c"))
    )
    r = tr.groupBy("cur").agg(F.sum("c").cast("bigint").alias("rt"))
    q = tr.join(r, "cur").select(
        "cur", "nxt", F.expr("(c * 1000000000) div rt").alias("p_nano")
    )
    p1 = (
        r.join(q, "cur", "left")
        .groupBy("cur")
        .agg(
            F.coalesce(
                F.max(
                    F.when(F.col("nxt") == "purchase", F.col("p_nano"))
                ),
                F.lit(0).cast("bigint"),
            ).alias("p")
        )
    )

    def step(prev: DataFrame) -> DataFrame:
        j = prev.select(F.col("cur").alias("jcur"), F.col("p").alias("jp"))
        return (
            p1.join(q, "cur")
            .join(F.broadcast(j), F.col("nxt") == F.col("jcur"))
            .groupBy("cur", F.col("p").alias("base"))
            .agg(
                F.sum(
                    F.when(
                        F.col("nxt") != "purchase",
                        F.expr("(p_nano * jp) div 1000000000"),
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias("inc")
            )
            .select("cur", (F.col("base") + F.col("inc")).alias("p"))
        )

    p2 = step(p1)
    p3 = step(p2)
    return (
        p1.select(F.col("cur").alias("event_type"), F.col("p").alias("p1_nano"))
        .join(
            p2.select(F.col("cur").alias("event_type"), F.col("p").alias("p2_nano")),
            "event_type",
        )
        .join(
            p3.select(F.col("cur").alias("event_type"), F.col("p").alias("p3_nano")),
            "event_type",
        )
    )


@REGISTRY.register(
    "q_chi_residuals",
    tags=("mlstats", "statistics"),
    oracle="""
WITH base AS (
  SELECT event_type, isodow(ts) - 1 AS dow FROM events
), cell AS (
  SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS o
  FROM base GROUP BY event_type, dow
), margins AS (
  SELECT event_type, CAST(SUM(o) AS BIGINT) AS row_n FROM cell
  GROUP BY event_type
), cols AS (
  SELECT dow, CAST(SUM(o) AS BIGINT) AS col_n FROM cell GROUP BY dow
), tot AS (
  SELECT CAST(SUM(o) AS BIGINT) AS n FROM cell
)
SELECT cell.event_type, CAST(cell.dow AS BIGINT) AS dow, cell.o,
       CAST(FLOOR(CAST(margins.row_n AS DOUBLE) * cols.col_n / tot.n * 100)
            AS BIGINT) AS expected_centi,
       CAST(FLOOR(
         (cell.o - CAST(margins.row_n AS DOUBLE) * cols.col_n / tot.n)
         / SQRT(CAST(margins.row_n AS DOUBLE) * cols.col_n / tot.n)
         * 1000) AS BIGINT) AS std_residual_milli
FROM cell
JOIN margins ON cell.event_type = margins.event_type
JOIN cols ON cell.dow = cols.dow
CROSS JOIN tot
""",
)
def q_chi_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized chi-square residuals per (event type, weekday)
    cell: (O - E)/sqrt(E) — the drill-down that tells you WHICH cells
    drive a significant q_chi_square / q_multiple_testing_fdr result
    (|residual| > 2 marks the anomalous cells). Expected counts shown
    in centi-units for the same audit.

    Exactness: cells and margins are BIGINT; E and the residual are
    one shared IEEE expression (mult/div/sqrt — all correctly
    rounded), floored to milli-units.

    Scale shape: one map-side-combined cell aggregation; margins are
    tiny rollups of the 35-cell table, broadcast back."""
    c = catalog(spark, sf_dir)
    base = c.events.select(
        "event_type", F.weekday("ts").alias("dow")
    )
    cell = base.groupBy("event_type", "dow").agg(
        F.count("*").cast("bigint").alias("o")
    )
    margins = cell.groupBy("event_type").agg(
        F.sum("o").cast("bigint").alias("row_n")
    )
    cols = cell.groupBy("dow").agg(F.sum("o").cast("bigint").alias("col_n"))
    tot = cell.agg(F.sum("o").cast("bigint").alias("n"))
    e = F.col("row_n").cast("double") * F.col("col_n") / F.col("n")
    return (
        cell.join(F.broadcast(margins), "event_type")
        .join(F.broadcast(cols), "dow")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            F.col("dow").cast("bigint").alias("dow"),
            "o",
            F.floor(e * 100).cast("bigint").alias("expected_centi"),
            F.floor((F.col("o") - e) / F.sqrt(e) * 1000)
            .cast("bigint")
            .alias("std_residual_milli"),
        )
    )


@REGISTRY.register(
    "q_var_es",
    tags=("mlstats", "risk"),
    oracle="""
WITH t AS (
  SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY FLOOR(value * 100 + 0.5), event_id)
           AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
), var AS (
  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
         CAST(MAX(CASE WHEN rn = GREATEST((n * 5) // 100, 1)
                       THEN cents END) AS BIGINT) AS var5_cents,
         CAST(MAX(CASE WHEN rn = GREATEST((n * 5) // 100, 1)
                       THEN rn END) AS BIGINT) AS k
  FROM t GROUP BY event_type
)
SELECT v.event_type, v.n, v.var5_cents,
       CAST(SUM(t.cents) AS BIGINT) // v.k AS es5_cents
FROM var v JOIN t ON t.event_type = v.event_type AND t.rn <= v.k
GROUP BY v.event_type, v.n, v.var5_cents, v.k
""",
)
def q_var_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical Value-at-Risk and Expected Shortfall at the 5% tail,
    per event type: VaR = the exact 5th-percentile order statistic,
    ES = the mean of everything at or below it — the coherent tail-risk
    pair (ES is subadditive; VaR alone is not), computed
    nonparametrically from the empirical distribution like every
    historical-simulation risk engine.

    Exact: order-statistic selection and BIGINT tail averaging
    (floor division) over a total (cents, event_id) order.

    Scale shape: one type-keyed window sort (swap in the
    q_median_two_phase histogram refinement at 100 TB) and one
    tail-filtered re-aggregation."""
    c = catalog(spark, sf_dir)
    cents = half_up("value", 100)
    wp = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wn = Window.partitionBy("event_type")
    t = c.events.select(
        "event_type", cents.alias("cents"), "event_id"
    ).select(
        "event_type",
        "cents",
        F.row_number().over(wp).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    var = t.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        F.max(
            F.when(
                F.col("rn") == F.greatest(F.expr("(n * 5) div 100"), F.lit(1)),
                F.col("cents"),
            )
        )
        .cast("bigint")
        .alias("var5_cents"),
        F.max(
            F.when(
                F.col("rn") == F.greatest(F.expr("(n * 5) div 100"), F.lit(1)),
                F.col("rn"),
            )
        )
        .cast("bigint")
        .alias("k"),
    )
    tail = t.join(
        F.broadcast(var.select(F.col("event_type").alias("et2"), "k")),
        (F.col("event_type") == F.col("et2")) & (F.col("rn") <= F.col("k")),
    )
    es = tail.groupBy("event_type").agg(
        F.expr("sum(cents) div max(k)").alias("es5_cents")
    )
    return var.select("event_type", "n", "var5_cents").join(es, "event_type")


@REGISTRY.register(
    "q_theil_sen",
    tags=("mlstats", "regression", "robust"),
    oracle="""
WITH per AS (
  SELECT p_brand,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)) AS BIGINT))
              AS BIGINT) AS y
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
), slopes AS (
  SELECT (CAST(b.y AS DOUBLE) - a.y) / (CAST(b.x AS DOUBLE) - a.x) AS m
  FROM per a JOIN per b ON a.p_brand < b.p_brand AND a.x <> b.x
), ranked AS (
  SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS rn, COUNT(*) OVER () AS n
  FROM slopes
)
SELECT CAST(MAX(n) AS BIGINT) AS n_pairs,
       CAST(FLOOR(MAX(CASE WHEN rn = (n + 1) // 2 THEN m END) * 1000)
            AS BIGINT) AS theil_sen_slope_milli
FROM ranked
""",
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust slope of brand revenue vs quantity: the MEDIAN
    of all pairwise slopes — up to ~29% contaminated points cannot move
    it, unlike q_agg_regression's least-squares slope (one rogue brand
    drags OLS arbitrarily). The robust-regression member of the robust
    family (q_anomaly_mad: location/scale; here: trend).

    Exactness: slopes are single IEEE divisions of exact BIGINT
    aggregates; the median is an order-statistic pick over the pair
    list (the double ORDER BY is safe — both engines sort identical
    doubles), floored at milli-units.

    Scale shape: the O(n^2) pair join runs on the 25-row BRAND rollup
    (300 pairs); at large n Theil-Sen switches to the randomized
    O(n log n) estimator — documented, not needed at dimension
    cardinality."""
    c = catalog(spark, sf_dir)
    per = (
        c.lineitem.join(
            F.broadcast(c.part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("x"),
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("y"),
        )
    )
    a = per.select(
        F.col("p_brand").alias("ba"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = per.select(
        F.col("p_brand").alias("bb"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    slopes = a.join(
        b, (F.col("ba") < F.col("bb")) & (F.col("xa") != F.col("xb"))
    ).select(
        (
            (F.col("yb").cast("double") - F.col("ya"))
            / (F.col("xb").cast("double") - F.col("xa"))
        ).alias("m")
    )
    ranked = slopes.select(
        "m",
        F.row_number().over(Window.orderBy("m")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_pairs"),
        F.floor(
            F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("m")))
            * 1000
        )
        .cast("bigint")
        .alias("theil_sen_slope_milli"),
    )


@REGISTRY.register(
    "q_survivorship_bias",
    tags=("mlstats", "methodology"),
    oracle="""
WITH life AS (
  SELECT user_id,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         (epoch_us(MAX(ts)) // 1000000 - epoch_us(MIN(ts)) // 1000000)
           // 604800 >= 4 AS survivor
  FROM events GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(CASE WHEN survivor THEN 1 ELSE 0 END) AS BIGINT)
         AS n_survivors,
       CAST(SUM(cents) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
         AS all_users_mean_cents,
       CAST(SUM(CASE WHEN survivor THEN cents ELSE 0 END) AS BIGINT)
         // CAST(SUM(CASE WHEN survivor THEN 1 ELSE 0 END) AS BIGINT)
         AS survivors_mean_cents,
       (CAST(SUM(CASE WHEN survivor THEN cents ELSE 0 END) AS BIGINT)
        // CAST(SUM(CASE WHEN survivor THEN 1 ELSE 0 END) AS BIGINT)
        * 1000)
         // (CAST(SUM(cents) AS BIGINT) // CAST(COUNT(*) AS BIGINT))
         AS bias_ratio_milli
FROM life
""",
)
def q_survivorship_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship-bias audit: mean per-user spend computed the WRONG
    way (only over users still active in week 4+) next to the honest
    all-users mean, and the inflation ratio between them — the
    methodological trap every retention/LTV analysis must check before
    quoting 'average user' numbers from an active-user table
    (complements q_discrete_hazard, which models the attrition this
    audit says you can't ignore).

    Exact: BIGINT cents, week arithmetic, floor divisions.

    Scale shape: one user-keyed agg, one 5-counter global rollup."""
    c = catalog(spark, sf_dir)
    life = c.events.groupBy("user_id").agg(
        F.sum(half_up("value", 100))
        .cast("bigint")
        .alias("cents"),
        F.count("*").cast("bigint").alias("n_events"),
        (
            F.expr(
                "(max(unix_micros(ts) div 1000000)"
                " - min(unix_micros(ts) div 1000000)) div 604800"
            )
            >= 4
        ).alias("survivor"),
    )
    return life.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum(F.when(F.col("survivor"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_survivors"),
        F.expr("sum(cents) div count(*)").alias("all_users_mean_cents"),
        # nullif guard keeps exact INTEGER division: zero survivors is
        # NULL on both engines (DuckDB x // 0 -> NULL, ANSI div raises
        # — degenerate fuzz fixture spans 0 weeks)
        F.expr(
            "sum(CASE WHEN survivor THEN cents ELSE 0 END)"
            " div nullif(sum(CASE WHEN survivor THEN 1 ELSE 0 END), 0)"
        ).alias("survivors_mean_cents"),
    ).select(
        "n_users",
        "n_survivors",
        "all_users_mean_cents",
        "survivors_mean_cents",
        F.expr(
            "(survivors_mean_cents * 1000)"
            " div nullif(all_users_mean_cents, 0)"
        ).alias("bias_ratio_milli"),
    )


@REGISTRY.register(
    "q_cohens_d",
    tags=("mlstats", "experimentation"),
    oracle="""
WITH g AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 'a' ELSE 'b' END AS grp,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events WHERE event_type IN ('purchase', 'click')
), s AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS sc,
         CAST(SUM(c * c) AS BIGINT) AS ss
  FROM g GROUP BY grp
), wide AS (
  SELECT MAX(CASE WHEN grp = 'a' THEN n END) AS na,
         MAX(CASE WHEN grp = 'a' THEN sc END) AS sa,
         MAX(CASE WHEN grp = 'a' THEN ss END) AS qa,
         MAX(CASE WHEN grp = 'b' THEN n END) AS nb,
         MAX(CASE WHEN grp = 'b' THEN sc END) AS sb,
         MAX(CASE WHEN grp = 'b' THEN ss END) AS qb
  FROM s
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(FLOOR(
         (CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
         / SQRT(((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * sa / na)
                 + (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / nb))
                / (na + nb - 2))
         * 1000000) AS BIGINT) AS cohens_d_micro
FROM wide
""",
)
def q_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d standardized effect size between purchase and click
    values: mean difference over the pooled standard deviation — the
    practical-significance number that must accompany q_ab_ttest's
    p-value (a tiny d with a significant p means you found noise at
    scale; the experimentation-review checklist item).

    Exactness: three exact BIGINT power sums per group; means,
    pooled variance and d are ONE shared IEEE expression (sqrt is
    correctly rounded), floored at micro-units.

    Scale shape: a single two-group aggregation — map-side combined,
    six numbers total cross the wire."""
    c = catalog(spark, sf_dir)
    g = c.events.filter(
        F.col("event_type").isin("purchase", "click")
    ).select(
        F.when(F.col("event_type") == "purchase", "a").otherwise("b").alias("grp"),
        half_up("value", 100).alias("c"),
    )
    s = g.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ss"),
    )
    wide = s.agg(
        F.max(F.when(F.col("grp") == "a", F.col("n"))).alias("na"),
        F.max(F.when(F.col("grp") == "a", F.col("sc"))).alias("sa"),
        F.max(F.when(F.col("grp") == "a", F.col("ss"))).alias("qa"),
        F.max(F.when(F.col("grp") == "b", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("grp") == "b", F.col("sc"))).alias("sb"),
        F.max(F.when(F.col("grp") == "b", F.col("ss"))).alias("qb"),
    )
    mean_diff = F.col("sa").cast("double") / F.col("na") - F.col("sb").cast(
        "double"
    ) / F.col("nb")
    pooled = (
        (
            F.col("qa").cast("double")
            - F.col("sa").cast("double") * F.col("sa") / F.col("na")
        )
        + (
            F.col("qb").cast("double")
            - F.col("sb").cast("double") * F.col("sb") / F.col("nb")
        )
    ) / (F.col("na") + F.col("nb") - 2)
    return wide.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.floor(mean_diff / F.sqrt(pooled) * 1000000)
        .cast("bigint")
        .alias("cohens_d_micro"),
    )


@REGISTRY.register(
    "q_power_analysis",
    tags=("mlstats", "experimentation"),
    oracle="""
WITH s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sc,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                  * CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS ss
  FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT n,
         (CAST(ss AS DOUBLE) - CAST(sc AS DOUBLE) * sc / n) / (n - 1)
           AS var_cents,
         CAST(sc AS DOUBLE) / n AS mean_cents
  FROM s
)
SELECT n AS n_observed,
       CAST(FLOOR(mean_cents) AS BIGINT) AS mean_cents_floor,
       CAST(CEIL(2.0 * (1.96 + 0.84) * (1.96 + 0.84) * var_cents
                 / (0.05 * mean_cents * 0.05 * mean_cents)) AS BIGINT)
         AS n_per_arm_5pct_mde,
       CAST(CEIL(2.0 * (1.96 + 0.84) * (1.96 + 0.84) * var_cents
                 / (0.01 * mean_cents * 0.01 * mean_cents)) AS BIGINT)
         AS n_per_arm_1pct_mde
FROM v
""",
)
def q_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B test power analysis from the data's own variance: the
    required sample size per arm, n = 2(z_alpha/2 + z_beta)^2 s^2 /
    delta^2, for detecting a 5% and a 1% relative lift of the purchase
    mean at alpha=0.05 / power=0.80 — the pre-experiment calculator
    that q_ab_ttest and q_cohens_d assume someone ran (and the reason
    a 1% MDE needs ~25x the traffic of a 5% MDE: inverse-square).

    Exactness: variance from exact BIGINT power sums; z constants are
    public normal quantiles; one shared IEEE expression, ceil'd.

    Scale shape: one filtered global power-sum aggregation."""
    c = catalog(spark, sf_dir)
    cents = half_up("value", 100)
    s = c.events.filter(F.col("event_type") == "purchase").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(cents).cast("bigint").alias("sc"),
        F.sum(cents * cents).cast("bigint").alias("ss"),
    )
    var = (
        F.col("ss").cast("double")
        - F.col("sc").cast("double") * F.col("sc") / F.col("n")
    ) / (F.col("n") - 1)
    mean = F.col("sc").cast("double") / F.col("n")
    z2 = (1.96 + 0.84) * (1.96 + 0.84)
    need = lambda frac: F.ceil(
        2.0 * z2 * var / (frac * mean * frac * mean)
    ).cast("bigint")
    return s.select(
        F.col("n").alias("n_observed"),
        F.floor(mean).cast("bigint").alias("mean_cents_floor"),
        need(0.05).alias("n_per_arm_5pct_mde"),
        need(0.01).alias("n_per_arm_1pct_mde"),
    )


@REGISTRY.register(
    "q_location_ladder",
    tags=("mlstats", "robust"),
    oracle="""
WITH t AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c,
         ROW_NUMBER() OVER (ORDER BY FLOOR(value * 100 + 0.5), event_id)
           AS rn,
         COUNT(*) OVER () AS n
  FROM events
), k AS (
  SELECT c, rn, n,
         GREATEST((n * 5) // 100, 1) AS k_lo,
         n - GREATEST((n * 5) // 100, 1) + 1 AS k_hi
  FROM t
), bounds AS (
  SELECT MAX(CASE WHEN rn = k_lo THEN c END) AS lo_c,
         MAX(CASE WHEN rn = k_hi THEN c END) AS hi_c,
         MAX(CASE WHEN rn = (n + 1) // 2 THEN c END) AS median_c
  FROM k
)
SELECT CAST((SELECT MAX(n) FROM t) AS BIGINT) AS n,
       CAST((SELECT SUM(c) FROM t) // (SELECT MAX(n) FROM t) AS BIGINT)
         AS mean_cents,
       CAST(bounds.median_c AS BIGINT) AS median_cents,
       CAST((SELECT SUM(c) FROM k WHERE rn > k_lo AND rn < k_hi)
            // (SELECT COUNT(*) FROM k WHERE rn > k_lo AND rn < k_hi)
            AS BIGINT) AS trimmed5_mean_cents,
       CAST((SELECT SUM(GREATEST(LEAST(c, bounds.hi_c), bounds.lo_c))
             FROM t) // (SELECT MAX(n) FROM t) AS BIGINT)
         AS winsorized5_mean_cents
FROM bounds
""",
)
def q_location_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust-location ladder: the same population summarized four ways
    — mean, median, 5% trimmed mean (drop both tails), 5% winsorized
    mean (clamp both tails) — side by side, all as EXACT integer
    arithmetic over order statistics. The spread across the ladder IS
    the outlier diagnosis: equal values mean a clean symmetric
    distribution; a mean far above the median prices the tail's pull
    (which estimator to publish is then a policy choice, not a guess).

    Exact: every estimator reduces to BIGINT sums/selections over one
    total cents order; floor-divided means. Boundary ties are handled
    by rank-interval OVERLAP arithmetic (a value whose rank interval
    straddles k_lo keeps exactly its in-trim rows), so the result is
    identical to the oracle's per-row ROW_NUMBER formulation.

    Scale shape: NO per-row rank — everything runs over the
    groupBy(cents) distinct-value summary with the two-phase bucketed
    prefix sum (_cum_counts): order statistics by rank-interval
    membership, trimmed sum by interval overlap, winsorized sum by
    clamping the summary values."""
    c0 = catalog(spark, sf_dir)
    cents = half_up("value", 100)
    per_v = (
        c0.events.select(cents.alias("cents"))
        .groupBy("cents")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    cum = _cum_counts(per_v)
    tot = per_v.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.col("cents") * F.col("cnt")).cast("bigint").alias("sc"),
    ).select(
        "n",
        "sc",
        F.greatest(F.expr("(n * 5) div 100"), F.lit(1)).alias("k_lo"),
        (
            F.col("n")
            - F.greatest(F.expr("(n * 5) div 100"), F.lit(1))
            + 1
        ).alias("k_hi"),
        F.expr("(n + 1) div 2").alias("k_med"),
    )
    j = cum.crossJoin(F.broadcast(tot))
    picked = j.agg(
        F.max(
            F.when(
                (F.col("k_lo") > F.col("cum_before"))
                & (F.col("k_lo") <= F.col("cum_before") + F.col("cnt")),
                F.col("cents"),
            )
        ).alias("lo_c"),
        F.max(
            F.when(
                (F.col("k_hi") > F.col("cum_before"))
                & (F.col("k_hi") <= F.col("cum_before") + F.col("cnt")),
                F.col("cents"),
            )
        ).alias("hi_c"),
        F.max(
            F.when(
                (F.col("k_med") > F.col("cum_before"))
                & (F.col("k_med") <= F.col("cum_before") + F.col("cnt")),
                F.col("cents"),
            )
        ).alias("median_c"),
        # in-trim row count for each value = |(cum_before, cum_before+cnt]
        # ∩ (k_lo, k_hi)| — exact even when a tie block straddles a bound
        F.sum(
            F.greatest(
                F.least(F.col("cum_before") + F.col("cnt"), F.col("k_hi") - 1)
                - F.greatest(F.col("cum_before"), F.col("k_lo")),
                F.lit(0),
            )
            * F.col("cents")
        ).alias("trim_sum"),
        F.sum(
            F.greatest(
                F.least(F.col("cum_before") + F.col("cnt"), F.col("k_hi") - 1)
                - F.greatest(F.col("cum_before"), F.col("k_lo")),
                F.lit(0),
            )
        ).alias("trim_n"),
        F.max("n").alias("n"),
        F.max("sc").alias("sc"),
    )
    wins = (
        cum.crossJoin(F.broadcast(picked.select("lo_c", "hi_c")))
        .agg(
            F.sum(
                F.greatest(
                    F.least(F.col("cents"), F.col("hi_c")), F.col("lo_c")
                )
                * F.col("cnt")
            ).alias("wsum")
        )
    )
    return picked.crossJoin(F.broadcast(wins)).select(
        F.col("n").cast("bigint").alias("n"),
        F.expr("sc div n").cast("bigint").alias("mean_cents"),
        F.col("median_c").cast("bigint").alias("median_cents"),
        F.expr("trim_sum div trim_n").cast("bigint").alias(
            "trimmed5_mean_cents"
        ),
        F.expr("wsum div n").cast("bigint").alias("winsorized5_mean_cents"),
    )


@REGISTRY.register(
    "q_rolling_origin_backtest",
    tags=("mlstats", "forecasting"),
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY day
), idx AS (
  SELECT day, n, ROW_NUMBER() OVER (ORDER BY day) AS d,
         COUNT(*) OVER () AS nd
  FROM daily
), folds AS (
  SELECT f.cutoff, i.d, i.n,
         lagv.n AS naive_pred
  FROM (SELECT unnest([14, 18, 22]) AS cutoff) f
  JOIN idx i ON i.d > f.cutoff AND i.d <= f.cutoff + 7
  JOIN idx lagv ON lagv.d = i.d - 7
)
SELECT CAST(cutoff AS BIGINT) AS cutoff_day,
       CAST(COUNT(*) AS BIGINT) AS n_forecast_days,
       CAST(SUM(ABS(n - naive_pred)) AS BIGINT) // COUNT(*) AS mae,
       CAST(MAX(ABS(n - naive_pred)) AS BIGINT) AS max_abs_err
FROM folds GROUP BY cutoff
""",
)
def q_rolling_origin_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast backtest: the seasonal-naive forecaster
    (predict day d with day d-7) evaluated at THREE successive cutoffs,
    each scoring the next 7 days — the honest forecasting evaluation
    protocol (one split overfits to one week's weather;
    q_forecast_baseline is the single-split version this generalizes).
    Per-fold MAE trends reveal whether accuracy is stable or one fold
    got lucky.

    Exact: integer daily counts, absolute errors, floor-divided MAE.

    Scale shape: the fact table reduces to a <=31-row daily series
    map-side; every fold joins within that tiny series."""
    c = catalog(spark, sf_dir)
    daily = c.events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("bigint").alias("n")
    )
    idx = daily.select(
        "day", "n", F.row_number().over(Window.orderBy("day")).alias("d")
    )
    folds = spark.createDataFrame([(14,), (18,), (22,)], ["cutoff"])
    i = idx.select(F.col("d").alias("di"), F.col("n").alias("ni"))
    l = idx.select(F.col("d").alias("dl"), F.col("n").alias("naive_pred"))
    j = (
        folds.join(
            i,
            (F.col("di") > F.col("cutoff")) & (F.col("di") <= F.col("cutoff") + 7),
        )
        .join(l, F.col("dl") == F.col("di") - 7)
    )
    return j.groupBy(F.col("cutoff").cast("bigint").alias("cutoff_day")).agg(
        F.count("*").cast("bigint").alias("n_forecast_days"),
        F.expr("sum(abs(ni - naive_pred)) div count(*)").alias("mae"),
        F.max(F.abs(F.col("ni") - F.col("naive_pred")))
        .cast("bigint")
        .alias("max_abs_err"),
    )


@REGISTRY.register(
    "q_two_way_anova",
    tags=("mlstats", "statistics"),
    oracle="""
WITH base AS (
  SELECT r_name AS a, isodow(o_orderdate) - 1 AS b,
         CAST(FLOOR(o_totalprice + 0.5) AS BIGINT) AS y
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
), cells AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_c,
         CAST(SUM(y) AS BIGINT) AS s_c
  FROM base GROUP BY a, b
), tot AS (
  -- (s*s)//n computed overflow-free via s = q*n + r:
  -- (s*s)//n = q*s + (r*s)//n  (exact; q*n*s divisible by n)
  SELECT CAST(SUM(n_c) AS BIGINT) AS n, CAST(SUM(s_c) AS BIGINT) AS s,
         (SELECT CAST(SUM(y * y) AS BIGINT) FROM base) AS ssq,
         CAST(SUM((s_c // n_c) * s_c + ((s_c % n_c) * s_c) // n_c)
              AS BIGINT) AS ss_cells_raw
  FROM cells
), fa AS (
  SELECT CAST(SUM((sa // na) * sa + ((sa % na) * sa) // na) AS BIGINT)
           AS ss_a_raw FROM (
    SELECT CAST(SUM(s_c) AS BIGINT) AS sa, CAST(SUM(n_c) AS BIGINT) AS na
    FROM cells GROUP BY a
  )
), fb AS (
  SELECT CAST(SUM((sb // nb) * sb + ((sb % nb) * sb) // nb) AS BIGINT)
           AS ss_b_raw FROM (
    SELECT CAST(SUM(s_c) AS BIGINT) AS sb, CAST(SUM(n_c) AS BIGINT) AS nb
    FROM cells GROUP BY b
  )
), cf AS (
  SELECT (s // n) * s + ((s % n) * s) // n AS cf FROM tot
)
SELECT CAST(ss_a_raw - cf AS BIGINT) AS ss_region,
       CAST(ss_b_raw - cf AS BIGINT) AS ss_weekday,
       CAST(ss_cells_raw - ss_a_raw - ss_b_raw + cf AS BIGINT)
         AS ss_interaction,
       CAST(ssq - ss_cells_raw AS BIGINT) AS ss_error,
       ((ss_cells_raw - ss_a_raw - ss_b_raw + cf) * 1000000)
         // (ssq - cf) AS interaction_eta2_micro
FROM tot, fa, fb, cf
""",
)
def q_two_way_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way ANOVA decomposition of order value over region x
    weekday: main-effect sums of squares for each factor, their
    INTERACTION SS (does the weekday pattern differ by region — the
    question one-way q_seasonality_strength cannot ask), and the error
    SS, plus the interaction's eta^2.

    Exactness: the same floor-before-combine integer discipline as
    q_seasonality_strength extended to the two-factor identity
    (SS_AB = SS_cells - SS_A - SS_B + CF); every term is a BIGINT, so
    the decomposition hash-matches exactly (documented floor bias per
    term < 1 dollar^2).

    Scale shape: ONE (region, weekday) cell aggregation over the
    star join (dims broadcast, map-side combined); every SS after
    that reduces the 35-cell table."""
    c = catalog(spark, sf_dir)
    base = (
        c.orders.join(
            F.broadcast(c.customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(c.nation.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(c.region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            F.col("r_name").alias("a"),
            F.weekday("o_orderdate").alias("b"),
            half_up("o_totalprice").alias("y"),
        )
    )
    cells = base.groupBy("a", "b").agg(
        F.count("*").cast("bigint").alias("n_c"),
        F.sum("y").cast("bigint").alias("s_c"),
    )
    ssq = base.agg(
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("ssq")
    )
    # overflow-free (x*x) div m via x = q*m + r: q*x + (r*x) div m
    tot = cells.agg(
        F.sum("n_c").cast("bigint").alias("n"),
        F.sum("s_c").cast("bigint").alias("s"),
        F.sum(
            F.expr("(s_c div n_c) * s_c + ((s_c % n_c) * s_c) div n_c")
        ).cast("bigint").alias("ss_cells_raw"),
    )
    fa = (
        cells.groupBy("a")
        .agg(
            F.sum("s_c").cast("bigint").alias("sa"),
            F.sum("n_c").cast("bigint").alias("na"),
        )
        .agg(
            F.sum(
                F.expr("(sa div na) * sa + ((sa % na) * sa) div na")
            ).cast("bigint").alias("ss_a_raw")
        )
    )
    fb = (
        cells.groupBy("b")
        .agg(
            F.sum("s_c").cast("bigint").alias("sb"),
            F.sum("n_c").cast("bigint").alias("nb"),
        )
        .agg(
            F.sum(
                F.expr("(sb div nb) * sb + ((sb % nb) * sb) div nb")
            ).cast("bigint").alias("ss_b_raw")
        )
    )
    return (
        tot.crossJoin(F.broadcast(ssq))
        .crossJoin(F.broadcast(fa))
        .crossJoin(F.broadcast(fb))
        .withColumn("cf", F.expr("(s div n) * s + ((s % n) * s) div n"))
        .select(
            F.expr("ss_a_raw - cf").cast("bigint").alias("ss_region"),
            F.expr("ss_b_raw - cf").cast("bigint").alias("ss_weekday"),
            F.expr(
                "ss_cells_raw - ss_a_raw - ss_b_raw + cf"
            ).cast("bigint").alias("ss_interaction"),
            F.expr("ssq - ss_cells_raw").cast("bigint").alias("ss_error"),
            # nullif: SST = 0 (constant response) leaves eta2
            # undefined — NULL on both engines, exact int div kept
            F.expr(
                "((ss_cells_raw - ss_a_raw - ss_b_raw + cf)"
                " * 1000000) div nullif(ssq - cf, 0)"
            ).alias("interaction_eta2_micro"),
        )
    )


@REGISTRY.register(
    "q_anomaly_threshold_ladder",
    tags=("mlstats", "monitoring"),
    oracle="""
WITH c AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents FROM events
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s,
         CAST(SUM(cents * cents) AS BIGINT) AS ss
  FROM c
), ladder AS (
  SELECT unnest([2, 3, 4]) AS k
)
SELECT CAST(k AS BIGINT) AS z_threshold,
       CAST((SELECT COUNT(*) FROM c, mom
             WHERE (CAST(cents AS DOUBLE) * n - s)
                   * (CAST(cents AS DOUBLE) * n - s)
                 > CAST(k AS DOUBLE) * k * n
                   * (CAST(n AS DOUBLE) * ss - CAST(s AS DOUBLE) * s)
                   / (n - 1)) AS BIGINT) AS n_flagged,
       CAST((SELECT ((SELECT COUNT(*) FROM c, mom
             WHERE (CAST(cents AS DOUBLE) * n - s)
                   * (CAST(cents AS DOUBLE) * n - s)
                 > CAST(k2.k AS DOUBLE) * k2.k * n
                   * (CAST(n AS DOUBLE) * ss - CAST(s AS DOUBLE) * s)
                   / (n - 1)) * 1000000) // MAX(mom.n)
             FROM mom) AS BIGINT) AS flag_rate_micro
FROM ladder k2
""",
)
def q_anomaly_threshold_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert-threshold sensitivity ladder: how many events the |z| > 2,
    3 and 4 rules would each flag, with rates — the tuning table an
    on-call rotation needs before enabling an anomaly rule (the jump
    from z>2 to z>3 is typically an order of magnitude of pages; this
    measures it on the actual distribution instead of assuming
    normality).

    Exact: the z-comparison is the scale-free integer-moment form of
    q_outlier_kappa evaluated under one shared IEEE expression per
    threshold; counts and rates are BIGINT.

    Scale shape: one moment aggregation + one flag scan reused across
    the 3-row ladder (a single pass computes all three counts via
    conditional sums)."""
    c0 = catalog(spark, sf_dir)
    cents = half_up("value", 100)
    cdf = c0.events.select(cents.alias("cents"))
    mom = cdf.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("ss"),
    )
    flagged = cdf.crossJoin(F.broadcast(mom))
    diff2 = (
        (F.col("cents").cast("double") * F.col("n") - F.col("s"))
        * (F.col("cents").cast("double") * F.col("n") - F.col("s"))
    )
    # try_divide: a single event (n=1) has no variance estimate — the
    # oracle's x/0 -> NULL fails the > comparison and flags nothing
    varterm = F.try_divide(
        F.col("n").cast("double") * F.col("ss")
        - F.col("s").cast("double") * F.col("s"),
        (F.col("n") - 1).cast("double"),
    )
    # coalesce to 0: over an EMPTY corpus the conditional sums are
    # NULL but the oracle's scalar COUNT(*) is 0 (empty-fixture fuzz);
    # n_total stays NULL so the rate is NULL on both engines
    counts = flagged.agg(
        F.max("n").cast("bigint").alias("n_total"),
        *[
            F.coalesce(
                F.sum(
                    F.when(
                        diff2 > F.lit(float(k * k)) * F.col("n") * varterm,
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"f{k}")
            for k in (2, 3, 4)
        ],
    )
    ladder = spark.createDataFrame([(2,), (3,), (4,)], ["z_threshold"])
    j = F.broadcast(ladder).crossJoin(F.broadcast(counts))
    return j.select(
        F.col("z_threshold").cast("bigint").alias("z_threshold"),
        F.when(F.col("z_threshold") == 2, F.col("f2"))
        .when(F.col("z_threshold") == 3, F.col("f3"))
        .otherwise(F.col("f4"))
        .alias("n_flagged"),
        F.expr(
            "(CASE WHEN z_threshold = 2 THEN f2"
            " WHEN z_threshold = 3 THEN f3 ELSE f4 END * 1000000)"
            " div n_total"
        ).alias("flag_rate_micro"),
    )


@REGISTRY.register(
    "q_var_backtest",
    tags=("mlstats", "risk", "evaluation"),
    oracle="""
WITH split AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents, event_id,
         ('0x' || substr(md5('vb:' || event_id), 1, 8))::BIGINT % 2 = 0
           AS is_cal
  FROM events
), cal AS (
  SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, event_id) AS rn,
         COUNT(*) OVER () AS n
  FROM split WHERE is_cal
), var5 AS (
  SELECT CAST(MAX(CASE WHEN rn = GREATEST((n * 5) // 100, 1)
                       THEN cents END) AS BIGINT) AS v
  FROM cal
), ev AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
         CAST(SUM(CASE WHEN s.cents <= var5.v THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exceed
  FROM split s, var5 WHERE NOT s.is_cal
)
SELECT (SELECT v FROM var5) AS var5_cents, n_eval, n_exceed,
       CAST(FLOOR(n_eval * 0.05) AS BIGINT) AS expected_exceed,
       ABS(CAST(n_exceed AS DOUBLE) - n_eval * 0.05)
         <= 3.0 * SQRT(n_eval * 0.05 * 0.95) AS within_3sigma
FROM ev
""",
)
def q_var_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VaR backtest (Kupiec-style exceedance count): the 5% VaR
    estimated on an md5 calibration half is tested on the held-out
    half — the number of tail breaches must sit within 3 binomial
    sigmas of the expected 5%, or the risk model is mis-calibrated
    (too many breaches: VaR understates risk; too few: capital is
    wasted). The risk-management twin of q_conformal_coverage, closing
    the loop on q_var_es.

    Exact: order-statistic VaR, BIGINT counts, one shared IEEE
    binomial-sigma expression (sqrt correctly rounded).

    Scale shape: the calibration-half rank is the two-phase bucketed
    prefix-sum selection (_select_order_stats — windows only over
    distinct-value/bucket summaries, never raw rows), then one
    broadcast threshold compare on the eval half."""
    c = catalog(spark, sf_dir)
    is_cal = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("vb:"), F.col("event_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
        == 0
    )
    split = c.events.select(
        half_up("value", 100).alias("cents"),
        "event_id",
        is_cal.alias("is_cal"),
    )
    cal = split.filter("is_cal")
    per_v = cal.groupBy("cents").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    ks = cal.agg(F.count("*").cast("bigint").alias("n")).select(
        F.greatest(F.expr("(n * 5) div 100"), F.lit(1)).alias("k")
    )
    var5 = _select_order_stats(per_v, ks).select(
        F.col("cents").cast("bigint").alias("v")
    )
    ev = (
        split.filter(~F.col("is_cal"))
        .crossJoin(F.broadcast(var5))
        .agg(
            F.count("*").cast("bigint").alias("n_eval"),
            F.sum(F.when(F.col("cents") <= F.col("v"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_exceed"),
            F.max("v").alias("var5_cents"),
        )
    )
    return ev.select(
        "var5_cents",
        "n_eval",
        "n_exceed",
        F.floor(F.col("n_eval") * 0.05).cast("bigint").alias("expected_exceed"),
        (
            F.abs(F.col("n_exceed").cast("double") - F.col("n_eval") * 0.05)
            <= 3.0 * F.sqrt(F.col("n_eval") * 0.05 * 0.95)
        ).alias("within_3sigma"),
    )


@REGISTRY.register(
    "q_markov_order_compare",
    tags=("mlstats", "sequence", "model-selection"),
    oracle="""
WITH seq AS (
  SELECT event_type AS cur,
         LAG(event_type, 1) OVER w AS p1,
         LAG(event_type, 2) OVER w AS p2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), t AS (
  SELECT * FROM seq WHERE p2 IS NOT NULL
), bi AS (
  SELECT p1, cur, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY p1, cur
), pred1 AS (
  SELECT p1, cur AS pr FROM (
    SELECT p1, cur, ROW_NUMBER() OVER (PARTITION BY p1
                                       ORDER BY n DESC, cur) AS rn
    FROM bi
  ) WHERE rn = 1
), tri AS (
  SELECT p2, p1, cur, CAST(COUNT(*) AS BIGINT) AS n
  FROM t GROUP BY p2, p1, cur
), pred2 AS (
  SELECT p2, p1, cur AS pr FROM (
    SELECT p2, p1, cur,
           ROW_NUMBER() OVER (PARTITION BY p2, p1
                              ORDER BY n DESC, cur) AS rn
    FROM tri
  ) WHERE rn = 1
), scored AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
         CAST(SUM(CASE WHEN t.cur = pred1.pr THEN 1 ELSE 0 END) AS BIGINT)
           AS c1,
         CAST(SUM(CASE WHEN t.cur = pred2.pr THEN 1 ELSE 0 END) AS BIGINT)
           AS c2
  FROM t
  JOIN pred1 ON t.p1 = pred1.p1
  JOIN pred2 ON t.p2 = pred2.p2 AND t.p1 = pred2.p1
)
SELECT n_eval,
       (c1 * 1000000) // n_eval AS acc1_micro,
       (c2 * 1000000) // n_eval AS acc2_micro,
       (c2 * 1000000) // n_eval - (c1 * 1000000) // n_eval
         AS lift_micro
FROM scored
""",
)
def q_markov_order_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-order selection for the next-event predictor: first-order
    (condition on 1 previous event) versus second-order (condition on
    2) in-sample accuracy on the SAME evaluation rows — the lift
    column answers whether the bigger model earns its |types|x state
    cost (near-zero lift means the sequence is effectively
    memoryless-beyond-one, and q_markov_accuracy's model suffices).

    Exact: BIGINT counts, total argmax tie-breaks, shared evaluation
    set (rows with both contexts defined), floor-division accuracies.

    Scale shape: one user-keyed window pass emits both contexts; the
    models are |types|^2- and |types|^3-bounded broadcast tables."""
    c = catalog(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = c.events.select(
        F.col("event_type").alias("cur"),
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    ).filter(F.col("p2").isNotNull())
    bi = seq.groupBy("p1", "cur").agg(F.count("*").cast("bigint").alias("n"))
    w1 = Window.partitionBy("p1").orderBy(F.col("n").desc(), F.col("cur"))
    pred1 = (
        bi.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select("p1", F.col("cur").alias("pr1"))
    )
    tri = seq.groupBy("p2", "p1", "cur").agg(
        F.count("*").cast("bigint").alias("n")
    )
    w2 = Window.partitionBy("p2", "p1").orderBy(F.col("n").desc(), F.col("cur"))
    pred2 = (
        tri.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select(
            F.col("p2").alias("p2b"),
            F.col("p1").alias("p1b"),
            F.col("cur").alias("pr2"),
        )
    )
    scored = (
        seq.join(F.broadcast(pred1), "p1")
        .join(
            F.broadcast(pred2),
            (F.col("p2") == F.col("p2b")) & (F.col("p1") == F.col("p1b")),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_eval"),
            F.sum(F.when(F.col("cur") == F.col("pr1"), 1).otherwise(0))
            .cast("bigint")
            .alias("c1"),
            F.sum(F.when(F.col("cur") == F.col("pr2"), 1).otherwise(0))
            .cast("bigint")
            .alias("c2"),
        )
    )
    return scored.select(
        "n_eval",
        F.expr("(c1 * 1000000) div n_eval").alias("acc1_micro"),
        F.expr("(c2 * 1000000) div n_eval").alias("acc2_micro"),
        (
            F.expr("(c2 * 1000000) div n_eval")
            - F.expr("(c1 * 1000000) div n_eval")
        ).alias("lift_micro"),
    )


@REGISTRY.register(
    "q_spearman_corr",
    tags=("mlstats", "statistics"),
    oracle="""
WITH spend AS (
  SELECT c_custkey, c_nationkey, c_acctbal,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS spend_cents
  FROM customer JOIN orders ON o_custkey = c_custkey
  GROUP BY c_custkey, c_nationkey, c_acctbal
), ranked AS (
  SELECT c_nationkey,
         2 * RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal)
           + COUNT(*) OVER (PARTITION BY c_nationkey, c_acctbal) - 1 AS drx,
         2 * RANK() OVER (PARTITION BY c_nationkey ORDER BY spend_cents)
           + COUNT(*) OVER (PARTITION BY c_nationkey, spend_cents) - 1 AS dry
  FROM spend
), sums AS (
  SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust,
         CAST(SUM(drx) AS BIGINT) AS sx, CAST(SUM(dry) AS BIGINT) AS sy,
         CAST(SUM(drx * drx) AS BIGINT) AS sxx,
         CAST(SUM(dry * dry) AS BIGINT) AS syy,
         CAST(SUM(drx * dry) AS BIGINT) AS sxy
  FROM ranked GROUP BY c_nationkey
)
SELECT n_name, n_cust,
       ROUND(CAST(n_cust * sxy - sx * sy AS DOUBLE)
             / NULLIF(sqrt(CAST(n_cust * sxx - sx * sx AS DOUBLE))
                      * sqrt(CAST(n_cust * syy - sy * sy AS DOUBLE)), 0),
             6) AS spearman_rho
FROM sums JOIN nation ON c_nationkey = n_nationkey
""",
)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Spearman rank correlation between a customer's
    account balance and their lifetime spend — the monotone-association
    complement to the Pearson family (q_corr_matrix, q_series_corr):
    rank correlation survives the heavy right tail of spend where
    Pearson is dominated by a few whales.

    Exactness: ties get textbook average ranks, kept integral by
    DOUBLING them (2*avg_rank = 2*min_rank + tie_count - 1 — the
    constant factor cancels in the correlation); all six power sums
    are exact BIGINT; the final rho is one double division of exact
    integers with portable IEEE sqrt (environment fact #30), rounded
    6dp. Degenerate nations (zero rank variance) yield NULL via NULLIF.

    Scale shape: spend is one customer-keyed aggregation; ranks are
    per-nation windows (each partition is |customers|/25); the power
    sums reduce to 25 rows. No global sort, no driver loop."""
    c = catalog(spark, sf_dir)
    spend = (
        c.customer.select("c_custkey", "c_nationkey", "c_acctbal")
        .join(
            c.orders.select("o_custkey", "o_totalprice"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_custkey", "c_nationkey", "c_acctbal")
        .agg(F.sum(half_up("o_totalprice", 100)).cast("long").alias("spend_cents"))
    )
    wx = Window.partitionBy("c_nationkey").orderBy("c_acctbal")
    wy = Window.partitionBy("c_nationkey").orderBy("spend_cents")
    ranked = spend.select(
        "c_nationkey",
        (
            2 * F.rank().over(wx)
            + F.count("*").over(Window.partitionBy("c_nationkey", "c_acctbal"))
            - 1
        ).alias("drx"),
        (
            2 * F.rank().over(wy)
            + F.count("*").over(Window.partitionBy("c_nationkey", "spend_cents"))
            - 1
        ).alias("dry"),
    )
    sums = ranked.groupBy("c_nationkey").agg(
        F.count("*").cast("bigint").alias("n_cust"),
        F.sum("drx").cast("bigint").alias("sx"),
        F.sum("dry").cast("bigint").alias("sy"),
        F.sum(F.col("drx") * F.col("drx")).cast("bigint").alias("sxx"),
        F.sum(F.col("dry") * F.col("dry")).cast("bigint").alias("syy"),
        F.sum(F.col("drx") * F.col("dry")).cast("bigint").alias("sxy"),
    )
    return sums.join(
        F.broadcast(c.nation.select("n_nationkey", "n_name")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select(
        "n_name",
        "n_cust",
        F.round(
            (F.col("n_cust") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / F.nullif(
                F.sqrt(
                    (
                        F.col("n_cust") * F.col("sxx")
                        - F.col("sx") * F.col("sx")
                    ).cast("double")
                )
                * F.sqrt(
                    (
                        F.col("n_cust") * F.col("syy")
                        - F.col("sy") * F.col("sy")
                    ).cast("double")
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("spearman_rho"),
    )


@REGISTRY.register(
    "q_cramers_v",
    tags=("mlstats", "statistics"),
    oracle="""
WITH obs AS (
  SELECT c_mktsegment AS seg, r_name,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY seg, r_name
), rm AS (SELECT seg, CAST(SUM(o) AS BIGINT) AS row_n FROM obs GROUP BY seg),
cm AS (SELECT r_name, CAST(SUM(o) AS BIGINT) AS col_n FROM obs GROUP BY r_name),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS nn FROM obs),
grid AS (
  SELECT rm.seg, cm.r_name, rm.row_n, cm.col_n, COALESCE(obs.o, 0) AS o
  FROM rm CROSS JOIN cm
  LEFT JOIN obs ON obs.seg = rm.seg AND obs.r_name = cm.r_name
), chi AS (
  SELECT ROUND(SUM(
           (o - CAST(row_n AS DOUBLE) * col_n / tot.nn)
           * (o - CAST(row_n AS DOUBLE) * col_n / tot.nn)
           / (CAST(row_n AS DOUBLE) * col_n / tot.nn)), 6) AS chi2,
         CAST(COUNT(DISTINCT seg) AS BIGINT) AS n_seg,
         CAST(COUNT(DISTINCT r_name) AS BIGINT) AS n_region,
         MAX(tot.nn) AS n_total
  FROM grid CROSS JOIN tot
)
SELECT n_seg, n_region, n_total, chi2,
       ROUND(sqrt(chi2 / (n_total * LEAST(n_seg - 1, n_region - 1))), 6)
         AS cramers_v
FROM chi
""",
)
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V effect size for the market-segment x region
    contingency table — the "how strong is the association?" companion
    to q_chi_square's "is there one?" (chi2 grows with n; V is the
    0..1 normalization that is comparable across table sizes).

    The grid is densified (row-marginal x column-marginal cross join,
    zero-filled) so structurally-empty cells still contribute their
    expected count — without this the statistic silently shrinks at
    small scale factors. chi2 sums 25 identically-computed doubles
    (6dp round absorbs summation order, same contract as q_chi_square);
    V takes the portable sqrt of the ALREADY-ROUNDED chi2 so both
    engines feed sqrt the identical double.

    Scale shape: one fact aggregation to a 25-cell table; everything
    after is O(cells) on broadcast marginals."""
    c = catalog(spark, sf_dir)
    obs = (
        c.customer.select("c_mktsegment", "c_nationkey")
        .join(
            F.broadcast(c.nation.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(c.region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("seg"), "r_name")
        .agg(F.count("*").cast("bigint").alias("o"))
    )
    rm = obs.groupBy("seg").agg(F.sum("o").cast("bigint").alias("row_n"))
    cm = obs.groupBy("r_name").agg(F.sum("o").cast("bigint").alias("col_n"))
    tot = obs.agg(F.sum("o").cast("bigint").alias("nn"))
    grid = (
        F.broadcast(rm)
        .crossJoin(F.broadcast(cm))
        .join(obs, ["seg", "r_name"], "left")
        .select(
            "seg",
            "r_name",
            "row_n",
            "col_n",
            F.coalesce("o", F.lit(0)).alias("o"),
        )
        .crossJoin(F.broadcast(tot))
    )
    e = F.col("row_n").cast("double") * F.col("col_n") / F.col("nn")
    chi = grid.agg(
        F.round(F.sum((F.col("o") - e) * (F.col("o") - e) / e), 6).alias(
            "chi2"
        ),
        F.countDistinct("seg").cast("bigint").alias("n_seg"),
        F.countDistinct("r_name").cast("bigint").alias("n_region"),
        F.max("nn").alias("n_total"),
    )
    return chi.select(
        "n_seg",
        "n_region",
        "n_total",
        "chi2",
        # try_divide: a 1xK (or Kx1) table has min(r-1, c-1) = 0 and V
        # is undefined — NULL on both engines (degenerate fuzz fixture)
        F.round(
            F.sqrt(
                F.try_divide(
                    F.col("chi2"),
                    F.col("n_total")
                    * F.least(F.col("n_seg") - 1, F.col("n_region") - 1),
                )
            ),
            6,
        ).alias("cramers_v"),
    )


@REGISTRY.register(
    "q_jackknife_ratio",
    tags=("mlstats", "statistics"),
    oracle="""
WITH items AS (
  SELECT CAST(FLOOR(l_extendedprice * (1 - l_discount)) AS BIGINT) AS rev,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem
), tot AS (
  SELECT CAST(SUM(rev) AS BIGINT) AS r_tot,
         CAST(SUM(qty) AS BIGINT) AS q_tot,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM items
), loo AS (
  SELECT (1000000 * (r_tot - rev)) // (q_tot - qty) AS r_micro
  FROM items CROSS JOIN tot
), center AS (
  SELECT CAST(SUM(r_micro) AS BIGINT) // MAX(tot.n) AS rbar_micro,
         MAX(tot.n) AS n
  FROM loo CROSS JOIN tot
)
SELECT tot.n AS n_items,
       (1000000 * tot.r_tot) // tot.q_tot AS theta_micro,
       (tot.n - 1) * (center.rbar_micro
                      - (1000000 * tot.r_tot) // tot.q_tot) AS bias_micro,
       CAST(FLOOR(sqrt(CAST(
         ((tot.n - 1) * (SELECT CAST(SUM(
             (r_micro - center.rbar_micro) * (r_micro - center.rbar_micro)
           ) AS BIGINT) FROM loo)) // tot.n
         AS DOUBLE))) AS BIGINT) AS se_micro
FROM tot CROSS JOIN center
""",
)
def q_jackknife_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jackknife standard error + bias of the ratio estimator
    revenue-per-unit (sum revenue / sum quantity over lineitem) — the
    resampling-free uncertainty quantification for a NONLINEAR
    statistic, where the delta method is an approximation and
    q_bootstrap_ci needs replicate draws: each leave-one-out ratio is
    computable in closed form from the totals (r_i = (R-rev_i)/(Q-qty_i)),
    so the whole n-replicate jackknife is one map-side pass.

    Exactness: every pseudo-value is an integer floor division of
    exact BIGINT totals (micro units) — no float accumulates anywhere;
    the one sqrt at the end is IEEE-portable (fact #30). Overflow
    audit: 1e6*(R-rev) <= ~3e16 at sf0.1, sum of squared deviations
    <= n * (1e5)^2 = 6e15 — both < 2^63.

    Scale shape: one global total (map-side combine), broadcast back;
    the LOO column never shuffles — pseudo-values reduce in the same
    pass. Cites the jackknife literature (Quenouille/Tukey), not any
    engine."""
    c = catalog(spark, sf_dir)
    items = c.lineitem.select(
        F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("bigint")
        .alias("rev"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    tot = items.agg(
        F.sum("rev").cast("bigint").alias("r_tot"),
        F.sum("qty").cast("bigint").alias("q_tot"),
        F.count("*").cast("bigint").alias("n"),
    )
    # nullif: a single-item input leaves one LOO replicate with
    # q_tot - qty = 0 — DuckDB // 0 -> NULL, ANSI div raises
    loo = items.crossJoin(F.broadcast(tot)).select(
        F.expr(
            "(1000000 * (r_tot - rev)) div nullif(q_tot - qty, 0)"
        ).alias("r_micro"),
        "n",
    )
    center = loo.agg(
        F.expr("CAST(sum(r_micro) AS BIGINT) div max(n)").alias("rbar_micro"),
    )
    # ss as a GLOBAL aggregate (one row even over an empty input, NULL
    # ss) so the final select always emits the oracle's single summary
    # row — the previous groupBy-keyed reduction vanished entirely on
    # an empty table (empty-fixture fuzz: 0 rows vs the oracle's 1)
    ss = (
        loo.crossJoin(F.broadcast(center))
        .agg(
            F.sum(
                (F.col("r_micro") - F.col("rbar_micro"))
                * (F.col("r_micro") - F.col("rbar_micro"))
            )
            .cast("bigint")
            .alias("ss")
        )
    )
    return (
        tot.crossJoin(F.broadcast(center))
        .crossJoin(F.broadcast(ss))
        .select(
            F.col("n").alias("n_items"),
            F.expr("(1000000 * r_tot) div q_tot").alias("theta_micro"),
            (
                (F.col("n") - 1)
                * (
                    F.col("rbar_micro")
                    - F.expr("(1000000 * r_tot) div q_tot")
                )
            ).alias("bias_micro"),
            # nullif: n = 0 (empty input) — oracle // 0 -> NULL
            F.floor(
                F.sqrt(
                    F.expr(
                        "CAST(((n - 1) * ss) div nullif(n, 0) AS DOUBLE)"
                    )
                )
            )
            .cast("bigint")
            .alias("se_micro"),
        )
    )


@REGISTRY.register(
    "q_decision_stump",
    tags=("mlstats", "ml"),
    oracle="""
WITH labeled AS (
  SELECT CAST(l_quantity AS BIGINT) AS qty,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
  FROM lineitem
), per_qty AS (
  SELECT qty, CAST(COUNT(*) AS BIGINT) AS n_q,
         CAST(SUM(pos) AS BIGINT) AS pos_q
  FROM labeled GROUP BY qty
), cum AS (
  SELECT qty,
         CAST(SUM(n_q) OVER (ORDER BY qty) AS BIGINT) AS n_l,
         CAST(SUM(pos_q) OVER (ORDER BY qty) AS BIGINT) AS pos_l,
         CAST(SUM(n_q) OVER () AS BIGINT) AS n_tot,
         CAST(SUM(pos_q) OVER () AS BIGINT) AS pos_tot
  FROM per_qty
), frac AS (
  SELECT qty, n_l, pos_l, n_tot, pos_tot,
         (pos_l * 1000000) // n_l AS pl,
         ((n_l - pos_l) * 1000000) // n_l AS ql,
         ((pos_tot - pos_l) * 1000000) // (n_tot - n_l) AS pr,
         (((n_tot - n_l) - (pos_tot - pos_l)) * 1000000)
           // (n_tot - n_l) AS qr
  FROM cum WHERE n_tot - n_l > 0
), cand AS (
  SELECT qty AS threshold, n_l AS n_left, n_tot - n_l AS n_right,
         (n_l * 1000000 - pos_l * pl - (n_l - pos_l) * ql)
         + ((n_tot - n_l) * 1000000 - (pos_tot - pos_l) * pr
            - ((n_tot - n_l) - (pos_tot - pos_l)) * qr) AS impurity_micro
  FROM frac
)
SELECT threshold, n_left, n_right, impurity_micro,
       impurity_micro = MIN(impurity_micro) OVER () AS is_best
FROM cand
""",
)
def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact best-split search for a one-level decision tree (stump):
    for every candidate threshold on l_quantity, the weighted Gini
    impurity of predicting l_returnflag='R' — the greedy step at the
    heart of every tree/GBM learner, expressed as a prefix-sum scan
    instead of a per-candidate repartition.

    Exactness: weighted Gini n_L*(1-(p^2+q^2)/n_L^2) is evaluated as
    n_L*1e6 - pos*p_micro - neg*q_micro with p_micro = (pos*1e6) div
    n_L — every intermediate is bounded by n*1e6, so the arithmetic
    is BIGINT-safe to ~9e12 rows (the naive (n_L^2-...)*1e6 form
    overflowed at the 10x scale run — caught by tools/scale10x.py);
    all operands non-negative, so Spark div == DuckDB // (fact #37).

    Scale shape: one groupBy on the feature value (domain-bounded: 50
    distinct quantities), then windows over the 50-row candidate
    table — the scan over the fact table is the only data-sized
    stage, and it's a map-side-combinable count."""
    c = catalog(spark, sf_dir)
    per_qty = (
        c.lineitem.select(
            F.col("l_quantity").cast("bigint").alias("qty"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("pos"),
        )
        .groupBy("qty")
        .agg(
            F.count("*").cast("bigint").alias("n_q"),
            F.sum("pos").cast("bigint").alias("pos_q"),
        )
    )
    w_cum = Window.orderBy("qty").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per_qty.select(
        "qty",
        F.sum("n_q").over(w_cum).cast("bigint").alias("n_l"),
        F.sum("pos_q").over(w_cum).cast("bigint").alias("pos_l"),
        F.sum("n_q").over(w_all).cast("bigint").alias("n_tot"),
        F.sum("pos_q").over(w_all).cast("bigint").alias("pos_tot"),
    )
    frac = cum.filter(F.col("n_tot") - F.col("n_l") > 0).select(
        "qty",
        "n_l",
        "pos_l",
        "n_tot",
        "pos_tot",
        F.expr("(pos_l * 1000000) div n_l").alias("pl"),
        F.expr("((n_l - pos_l) * 1000000) div n_l").alias("ql"),
        F.expr("((pos_tot - pos_l) * 1000000) div (n_tot - n_l)").alias("pr"),
        F.expr(
            "(((n_tot - n_l) - (pos_tot - pos_l)) * 1000000)"
            " div (n_tot - n_l)"
        ).alias("qr"),
    )
    cand = frac.select(
        F.col("qty").alias("threshold"),
        F.col("n_l").alias("n_left"),
        (F.col("n_tot") - F.col("n_l")).alias("n_right"),
        F.expr(
            "(n_l * 1000000 - pos_l * pl - (n_l - pos_l) * ql)"
            " + ((n_tot - n_l) * 1000000 - (pos_tot - pos_l) * pr"
            "    - ((n_tot - n_l) - (pos_tot - pos_l)) * qr)"
        ).alias("impurity_micro"),
    )
    return cand.select(
        "threshold",
        "n_left",
        "n_right",
        "impurity_micro",
        (
            F.col("impurity_micro")
            == F.min("impurity_micro").over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
        ).alias("is_best"),
    )


@REGISTRY.register(
    "q_isotonic_calibration",
    tags=("mlstats", "ml"),
    oracle="""
WITH labeled AS (
  SELECT CAST(l_quantity AS BIGINT) AS qty,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
  FROM lineitem
), per_qty AS (
  SELECT qty, CAST(COUNT(*) AS BIGINT) AS n_q,
         CAST(SUM(pos) AS BIGINT) AS pos_q
  FROM labeled GROUP BY qty
), pref AS (
  SELECT qty, n_q, pos_q,
         CAST(SUM(n_q) OVER (ORDER BY qty) AS BIGINT) AS np,
         CAST(SUM(pos_q) OVER (ORDER BY qty) AS BIGINT) AS pp
  FROM per_qty
), bounds AS (
  SELECT np, pp FROM pref
  UNION ALL SELECT 0, 0
), mins AS (
  SELECT i.qty, i.n_q, i.pos_q, k.np AS knp,
         MIN(((j.pp - k.pp) * 1000000) // (j.np - k.np)) AS mn
  FROM pref i
  JOIN bounds k ON k.np < i.np
  JOIN pref j ON j.np >= i.np
  GROUP BY i.qty, i.n_q, i.pos_q, k.np
)
SELECT qty AS quantity, n_q AS n,
       (pos_q * 1000000) // n_q AS obs_rate_micro,
       CAST(MAX(mn) AS BIGINT) AS iso_fit_micro
FROM mins GROUP BY qty, n_q, pos_q
""",
)
def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone) calibration of P(returned | quantity) via
    the minimax characterization of isotonic regression: fit(i) =
    max_{k<i} min_{j>=i} avg(y on segment (k, j]) — the pool-adjacent-
    violators solution expressed declaratively (no sequential pooling
    loop), the calibration step that turns q_decision_stump-style raw
    rates into a monotone risk curve.

    Exactness: segment averages are floor-divided to micro units;
    floor is monotone, so it commutes with both the min and the max —
    the result is EXACTLY floor(1e6 * true PAV fit) (the property
    test checks against a Fraction-arithmetic PAV). Monotonicity of
    the output holds for ANY inner function by the nesting of the
    (k, j) feasible sets.

    Scale shape: the fact table reduces map-side to the 50-value
    quantity domain; the minimax triple join is domain-bounded
    (50 x 51 x 50 rows), independent of corpus size."""
    c = catalog(spark, sf_dir)
    per_qty = (
        c.lineitem.select(
            F.col("l_quantity").cast("bigint").alias("qty"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("pos"),
        )
        .groupBy("qty")
        .agg(
            F.count("*").cast("bigint").alias("n_q"),
            F.sum("pos").cast("bigint").alias("pos_q"),
        )
    )
    wq = Window.orderBy("qty").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pref = per_qty.select(
        "qty",
        "n_q",
        "pos_q",
        F.sum("n_q").over(wq).cast("bigint").alias("np"),
        F.sum("pos_q").over(wq).cast("bigint").alias("pp"),
    )
    bounds = pref.select(F.col("np").alias("knp"), F.col("pp").alias("kpp")).union(
        spark.createDataFrame([(0, 0)], "knp long, kpp long")
    )
    jrows = pref.select(F.col("np").alias("jnp"), F.col("pp").alias("jpp"))
    mins = (
        pref.join(F.broadcast(bounds), F.col("knp") < F.col("np"))
        .join(F.broadcast(jrows), F.col("jnp") >= F.col("np"))
        .groupBy("qty", "n_q", "pos_q", "knp")
        .agg(
            F.expr(
                "CAST(min(((jpp - kpp) * 1000000) div (jnp - knp)) AS BIGINT)"
            ).alias("mn")
        )
    )
    return mins.groupBy("qty", "n_q", "pos_q").agg(
        F.max("mn").cast("bigint").alias("iso_fit_micro")
    ).select(
        F.col("qty").alias("quantity"),
        F.col("n_q").alias("n"),
        F.expr("(pos_q * 1000000) div n_q").alias("obs_rate_micro"),
        "iso_fit_micro",
    )


@REGISTRY.register(
    "q_mcnemar",
    tags=("mlstats", "statistics", "dq"),
    oracle="""
WITH c AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents FROM events
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s,
         CAST(SUM(cents * cents) AS BIGINT) AS ss
  FROM c
), med AS (
  SELECT CAST(quantile_disc(cents, 0.5) AS BIGINT) AS m FROM c
), mad AS (
  SELECT CAST(quantile_disc(ABS(cents - med.m), 0.5) AS BIGINT) AS d
  FROM c, med
), flags AS (
  SELECT (CAST(cents AS DOUBLE) * n - s) * (CAST(cents AS DOUBLE) * n - s)
           > 9.0 * n * (CAST(n AS DOUBLE) * ss - CAST(s AS DOUBLE) * s)
               / (n - 1) AS z_flag,
         ABS(cents - med.m) > 3 * mad.d AS mad_flag
  FROM c, mom, med, mad
), disc AS (
  SELECT CAST(SUM(CASE WHEN z_flag AND NOT mad_flag THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
         CAST(SUM(CASE WHEN NOT z_flag AND mad_flag THEN 1 ELSE 0 END)
              AS BIGINT) AS c2,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM flags
)
SELECT b, c2, n_pairs,
       CASE WHEN b + c2 > 0
            THEN ((b - c2) * (b - c2) * 1000000) // (b + c2)
            ELSE NULL END AS mcnemar_micro,
       CASE WHEN b + c2 > 0
            THEN ((ABS(b - c2) - 1) * (ABS(b - c2) - 1) * 1000000)
                 // (b + c2)
            ELSE NULL END AS mcnemar_cc_micro
FROM disc
""",
)
def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on the SAME paired outlier flags as
    q_outlier_kappa (parametric |z|>3 vs robust 3-MAD): where kappa
    asks "do the two detectors agree?", McNemar asks the sharper
    marginal question — "does one detector systematically flag MORE
    than the other?" — using only the discordant cells
    ((b - c)^2 / (b + c), plus the continuity-corrected variant).
    Reporting both tests off one contingency table is the standard
    detector-comparison protocol.

    Exact: the discordant counts are exact integers (the z flag's one
    shared IEEE comparison is identical on both engines), and the
    statistic is a pure integer floor division in micro units —
    NULL-guarded when there are no discordant pairs.

    Scale shape: identical to q_outlier_kappa — one moment pass, one
    exact median, one map-side flag + global 3-cell agg."""
    c0 = catalog(spark, sf_dir)
    cents = half_up("value", 100)
    c = c0.events.select(cents.alias("cents"))
    mom = c.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("ss"),
    )
    med = c.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)")
        .cast("bigint")
        .alias("m")
    )
    mad = c.crossJoin(F.broadcast(med)).agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(cents - m))"
        )
        .cast("bigint")
        .alias("d")
    )
    flags = (
        c.crossJoin(F.broadcast(mom))
        .crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .select(
            (
                (F.col("cents").cast("double") * F.col("n") - F.col("s"))
                * (F.col("cents").cast("double") * F.col("n") - F.col("s"))
                > 9.0
                * F.col("n")
                * (
                    F.col("n").cast("double") * F.col("ss")
                    - F.col("s").cast("double") * F.col("s")
                )
                / (F.col("n") - 1)
            ).alias("z_flag"),
            (F.abs(F.col("cents") - F.col("m")) > 3 * F.col("d")).alias(
                "mad_flag"
            ),
        )
    )
    disc = flags.agg(
        F.sum(F.when(F.col("z_flag") & ~F.col("mad_flag"), 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(F.when(~F.col("z_flag") & F.col("mad_flag"), 1).otherwise(0))
        .cast("bigint")
        .alias("c2"),
        F.count("*").cast("bigint").alias("n_pairs"),
    )
    return disc.select(
        "b",
        "c2",
        "n_pairs",
        F.when(
            F.col("b") + F.col("c2") > 0,
            F.expr("((b - c2) * (b - c2) * 1000000) div (b + c2)"),
        ).alias("mcnemar_micro"),
        F.when(
            F.col("b") + F.col("c2") > 0,
            F.expr(
                "((abs(b - c2) - 1) * (abs(b - c2) - 1) * 1000000)"
                " div (b + c2)"
            ),
        ).alias("mcnemar_cc_micro"),
    )


# NDCG@5 log2-position discounts in micro units: floor(1e6 / log2(i+1))
# for i = 1..5. CONSTANTS, so both engines see identical integers and no
# log() ever executes (log/pow are not cross-engine portable — fact #30).
_NDCG_DISCOUNTS = (1000000, 630929, 500000, 430676, 386852)


@REGISTRY.register(
    "q_ndcg_at5",
    tags=("mlstats", "ir-evaluation", "llm"),
    oracle=f"""
WITH v AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), n AS (
  SELECT vec_id, label, e,
         sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v
), scored AS (
  SELECT q.vec_id AS query_id, q.label AS qlabel,
         c.vec_id AS match_id, c.label AS clabel,
         ROUND(list_sum(list_transform(generate_series(1, 64),
                                       i -> q.e[i] * c.e[i]))
               / (q.nrm * c.nrm), 6) AS cos_sim
  FROM n q JOIN n c ON q.vec_id != c.vec_id
  WHERE q.vec_id < 20
), ranked AS (
  SELECT query_id,
         CASE WHEN qlabel = clabel THEN 1 ELSE 0 END AS rel,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, match_id) AS rn
  FROM scored
), disc AS (
  SELECT * FROM (VALUES (1, {_NDCG_DISCOUNTS[0]}), (2, {_NDCG_DISCOUNTS[1]}),
                        (3, {_NDCG_DISCOUNTS[2]}), (4, {_NDCG_DISCOUNTS[3]}),
                        (5, {_NDCG_DISCOUNTS[4]})) t(rn, w)
), dcg AS (
  SELECT r.query_id,
         CAST(SUM(r.rel * d.w) AS BIGINT) AS dcg_micro,
         CAST(SUM(r.rel) AS BIGINT) AS n_rel
  FROM ranked r JOIN disc d ON r.rn = d.rn
  WHERE r.rn <= 5
  GROUP BY r.query_id
), lblcnt AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS lbl_cnt
  FROM embeddings GROUP BY label
), rtot AS (
  -- per-label GROUP BY count minus one (never drops a singleton-label
  -- query: lbl_cnt >= 1 always, r_tot = 0 -> empty discount prefix ->
  -- idcg NULL -> COALESCE 0 -> ndcg NULL, matching the Spark side)
  SELECT q.vec_id AS query_id, l.lbl_cnt - 1 AS r_tot
  FROM embeddings q JOIN lblcnt l ON q.label = l.label
  WHERE q.vec_id < 20
), ideal AS (
  SELECT dcg.query_id, dcg_micro, n_rel,
         (SELECT CAST(SUM(w) AS BIGINT) FROM disc
          WHERE disc.rn <= LEAST(rtot.r_tot, 5)) AS idcg_micro
  FROM dcg JOIN rtot ON dcg.query_id = rtot.query_id
)
SELECT query_id, n_rel, dcg_micro,
       COALESCE(idcg_micro, 0) AS idcg_micro,
       CASE WHEN COALESCE(idcg_micro, 0) > 0
            THEN (dcg_micro * 1000000) // idcg_micro
            ELSE NULL END AS ndcg_micro
FROM ideal
""",
)
def q_ndcg_at5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@5 for the exact cosine kNN ranking, graded by label match
    (a neighbour sharing the query's class label counts as relevant) —
    the position-discounted retrieval metric that complements
    q_rec_precision's flat precision: a relevant hit at rank 1 is
    worth ~2.6x one at rank 5.

    Portability: the 1/log2(i+1) discounts are PRECOMPUTED micro-unit
    constants (log is not cross-engine-portable — fact #30), so DCG
    is an exact BIGINT dot product of relevance with a constant
    vector, IDCG is a prefix sum of the same constants, and NDCG is
    one integer floor division. The ideal is the STANDARD corpus-wide
    one — the first min(R, 5) discounts where R counts every
    same-label candidate in the corpus, not just the relevant hits
    that happened to reach the top-5 (a top-5-local ideal would score
    1.0 for a ranking that found one of five available relevants, as
    an earlier draft did). NULL only when the query's label has no
    other member at all.

    Scale shape: same bounded brute-force probe as q_knn_cosine; the
    metric itself is a 5-rows-per-query aggregation against a 5-row
    constant table."""
    from catenae_kafka_spark.operators.llm_similarity import knn_cosine

    c = catalog(spark, sf_dir)
    emb = c.embeddings
    labels = emb.select("vec_id", F.col("label").cast("bigint").alias("lbl"))
    knn = knn_cosine(emb.filter(F.col("vec_id") < 20), emb, k=5)
    disc = spark.createDataFrame(
        [(i + 1, w) for i, w in enumerate(_NDCG_DISCOUNTS)], "rn int, w long"
    )
    ranked = (
        knn.join(
            F.broadcast(labels.withColumnRenamed("vec_id", "mv")),
            F.col("match_id") == F.col("mv"),
        )
        .withColumnRenamed("lbl", "clabel")
        .join(
            F.broadcast(
                labels.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("lbl").alias("qlabel"),
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            "rn",
            F.when(F.col("qlabel") == F.col("clabel"), 1)
            .otherwise(0)
            .alias("rel"),
        )
    )
    dcg = (
        ranked.join(F.broadcast(disc.withColumnRenamed("rn", "drn")),
                    F.col("rn") == F.col("drn"))
        .groupBy("query_id")
        .agg(
            F.sum(F.col("rel") * F.col("w")).cast("bigint").alias("dcg_micro"),
            F.sum("rel").cast("bigint").alias("n_rel"),
        )
    )
    rtot = (
        labels.select(F.col("vec_id").alias("query_id"), "lbl")
        .filter(F.col("query_id") < 20)
        .join(
            F.broadcast(
                labels.groupBy("lbl").agg(
                    F.count("*").cast("bigint").alias("lbl_cnt")
                )
            ),
            "lbl",
        )
        .select("query_id", (F.col("lbl_cnt") - 1).alias("r_tot"))
    )
    idcg = (
        dcg.join(F.broadcast(rtot), "query_id")
        .join(
            F.broadcast(disc),
            F.col("rn") <= F.least(F.col("r_tot"), F.lit(5)),
            "left",
        )
        .groupBy("query_id", "dcg_micro", "n_rel")
        .agg(
            F.coalesce(F.sum("w"), F.lit(0))
            .cast("bigint")
            .alias("idcg_micro")
        )
    )
    return idcg.select(
        "query_id",
        "n_rel",
        "dcg_micro",
        "idcg_micro",
        F.when(
            F.col("idcg_micro") > 0,
            F.expr("(dcg_micro * 1000000) div idcg_micro"),
        ).alias("ndcg_micro"),
    )


@REGISTRY.register(
    "q_survey_raking",
    tags=("mlstats", "statistics", "survey"),
    oracle="""
WITH obs AS (
  SELECT c_mktsegment AS seg, r_name,
         CAST(COUNT(*) AS BIGINT) AS f_obs
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY seg, r_name
), tot AS (
  SELECT CAST(SUM(f_obs) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT seg) AS BIGINT) AS kr,
         CAST(COUNT(DISTINCT r_name) AS BIGINT) AS kc
  FROM obs
), w0 AS (
  SELECT seg, r_name, f_obs,
         (f_obs * 1000000) // tot.n AS w, tot.kr, tot.kc
  FROM obs CROSS JOIN tot
), tgt AS (
  SELECT seg, r_name, f_obs, w, kr, kc,
         1000000 // kr + CASE WHEN DENSE_RANK() OVER (ORDER BY seg) = 1
                              THEN 1000000 % kr ELSE 0 END AS rt,
         1000000 // kc + CASE WHEN DENSE_RANK() OVER (ORDER BY r_name) = 1
                              THEN 1000000 % kc ELSE 0 END AS ct
  FROM w0
), r1 AS (
  SELECT seg, r_name, f_obs, rt, ct,
         (w * rt) // NULLIF(SUM(w) OVER (PARTITION BY seg), 0) AS w
  FROM tgt
), r2 AS (
  SELECT seg, r_name, f_obs, rt, ct,
         (w * ct) // NULLIF(SUM(w) OVER (PARTITION BY r_name), 0) AS w
  FROM r1
)
SELECT seg, r_name, f_obs, CAST(w AS BIGINT) AS raked_micro,
       CAST(SUM(w) OVER (PARTITION BY r_name) AS BIGINT)
         AS col_achieved_micro
FROM r2
""",
)
def q_survey_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survey raking (iterative proportional fitting): re-weight the
    observed market-segment x region table toward UNIFORM row and
    column marginals, one row-scaling pass then one column-scaling
    pass — the post-stratification generalization (q_poststratify
    rakes one margin; IPF alternates margins) used to de-bias any
    sample whose joint distribution drifted from the population's.

    Integer discipline: cell weights live in micro-share units
    (sum = 1e6), each scaling is (w * target) div margin_sum —
    exact floor arithmetic, so both engines produce identical weights
    bit-for-bit; after the final column pass the column marginals hit
    their targets up to floor loss (property-tested <= kr micro per
    column). Targets derive from the OBSERVED category sets with the
    leftover micro assigned to the first category (drift-proof).

    Scale shape: one fact aggregation to the kr x kc cell table;
    raking is window sums over that bounded table."""
    c = catalog(spark, sf_dir)
    obs = (
        c.customer.select("c_mktsegment", "c_nationkey")
        .join(
            F.broadcast(c.nation.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(c.region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("seg"), "r_name")
        .agg(F.count("*").cast("bigint").alias("f_obs"))
    )
    tot = obs.agg(
        F.sum("f_obs").cast("bigint").alias("n"),
        F.countDistinct("seg").cast("bigint").alias("kr"),
        F.countDistinct("r_name").cast("bigint").alias("kc"),
    )
    w0 = obs.crossJoin(F.broadcast(tot)).select(
        "seg",
        "r_name",
        "f_obs",
        F.expr("(f_obs * 1000000) div n").alias("w"),
        "kr",
        "kc",
    )
    tgt = w0.select(
        "seg",
        "r_name",
        "f_obs",
        "w",
        (
            F.expr("1000000 div kr")
            + F.when(
                F.dense_rank().over(Window.orderBy("seg")) == 1,
                F.expr("1000000 % kr"),
            ).otherwise(0)
        ).alias("rt"),
        (
            F.expr("1000000 div kc")
            + F.when(
                F.dense_rank().over(Window.orderBy("r_name")) == 1,
                F.expr("1000000 % kc"),
            ).otherwise(0)
        ).alias("ct"),
    )
    r1 = tgt.select(
        "seg",
        "r_name",
        "f_obs",
        "rt",
        "ct",
        F.expr(
            "(w * rt) div nullif(sum(w) OVER (PARTITION BY seg), 0)"
        ).alias("w"),
    )
    r2 = r1.select(
        "seg",
        "r_name",
        "f_obs",
        "rt",
        "ct",
        F.expr(
            "(w * ct) div nullif(sum(w) OVER (PARTITION BY r_name), 0)"
        ).alias("w"),
    )
    return r2.select(
        "seg",
        "r_name",
        "f_obs",
        F.col("w").cast("bigint").alias("raked_micro"),
        F.expr("CAST(sum(w) OVER (PARTITION BY r_name) AS BIGINT)").alias(
            "col_achieved_micro"
        ),
    )


@REGISTRY.register(
    "q_xcorr_hourly",
    tags=("mlstats", "timeseries"),
    oracle="""
WITH raw AS (
  SELECT epoch_us(ts) // 3600000000 AS hr,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY hr
), spine AS (
  SELECT unnest(generate_series((SELECT MIN(hr) FROM raw),
                                (SELECT MAX(hr) FROM raw))) AS hr
), hourly AS (
  SELECT spine.hr, COALESCE(raw.x, 0) AS x, COALESCE(raw.y, 0) AS y
  FROM spine LEFT JOIN raw ON spine.hr = raw.hr
), lags AS (
  SELECT * FROM (VALUES (-2), (-1), (0), (1), (2)) t(lag_h)
), paired AS (
  SELECT l.lag_h, a.x, b.y
  FROM lags l
  JOIN hourly a ON TRUE
  JOIN hourly b ON b.hr = a.hr + l.lag_h
), sums AS (
  SELECT lag_h, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM paired GROUP BY lag_h
)
SELECT CAST(lag_h AS BIGINT) AS lag_h, n AS n_pairs,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / NULLIF(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                      * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0),
             6) AS xcorr
FROM sums
""",
)
def q_xcorr_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between the hourly purchase series
    and the hourly click series at lags -2..+2 hours — the discovery
    query behind "does click volume LEAD purchases?" (a positive peak
    at negative lag means clicks predict purchases; the lag-0 column
    is plain contemporaneous correlation, and the asymmetry around 0
    is the causal hint q_acf_daily's autocorrelation can't see).

    Exact: integer hour buckets (epoch microseconds div 3600e6), all
    six power sums in BIGINT, one shared IEEE division + portable
    sqrt, rounded 6dp — same parity discipline as q_spearman_corr.
    Hours with no events are ZERO-FILLED on a dense min..max spine —
    skipping empty hours would silently misalign the lag pairing and
    bias every lagged coefficient.

    Scale shape: the fact scan reduces map-side to one row per hour;
    the spine and lag self-join run on the calendar-bounded hourly
    series keyed by hour+lag."""
    c = catalog(spark, sf_dir)
    raw = c.events.groupBy(
        F.expr("unix_micros(ts) div 3600000000").alias("hr")
    ).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    bounds = raw.agg(
        F.min("hr").alias("lo"), F.max("hr").alias("mx")
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "mx")).alias("hr")
    )
    hourly = spine.join(raw, "hr", "left").select(
        "hr",
        F.coalesce("x", F.lit(0)).alias("x"),
        F.coalesce("y", F.lit(0)).alias("y"),
    )
    lags = spark.createDataFrame([(-2,), (-1,), (0,), (1,), (2,)], "lag_h int")
    b = hourly.select(
        F.col("hr").alias("bhr"), F.col("y").alias("by")
    )
    paired = (
        F.broadcast(lags)
        .crossJoin(hourly)
        .join(b, F.col("bhr") == F.col("hr") + F.col("lag_h"))
        .select("lag_h", "x", F.col("by").alias("y"))
    )
    sums = paired.groupBy("lag_h").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    return sums.select(
        F.col("lag_h").cast("bigint").alias("lag_h"),
        F.col("n").alias("n_pairs"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / F.nullif(
                F.sqrt(
                    (
                        F.col("n") * F.col("sxx")
                        - F.col("sx") * F.col("sx")
                    ).cast("double")
                )
                * F.sqrt(
                    (
                        F.col("n") * F.col("syy")
                        - F.col("sy") * F.col("sy")
                    ).cast("double")
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("xcorr"),
    )


@REGISTRY.register(
    "q_delta_method_ci",
    tags=("mlstats", "statistics"),
    oracle="""
WITH items AS (
  SELECT CAST(FLOOR(l_extendedprice * (1 - l_discount)) AS BIGINT) AS rev,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(rev) AS BIGINT) AS sx, CAST(SUM(qty) AS BIGINT) AS sy,
         CAST(SUM(rev * rev) AS BIGINT) AS sxx,
         CAST(SUM(qty * qty) AS BIGINT) AS syy,
         CAST(SUM(rev * qty) AS BIGINT) AS sxy
  FROM items
)
SELECT n,
       (1000000 * sx) // sy AS theta_micro,
       ROUND(1000000.0 * sqrt(
         ((CAST(sxx AS DOUBLE) * n - CAST(sx AS DOUBLE) * sx)
          - 2.0 * (CAST(sx AS DOUBLE) / sy)
                * (CAST(sxy AS DOUBLE) * n - CAST(sx AS DOUBLE) * sy)
          + (CAST(sx AS DOUBLE) / sy) * (CAST(sx AS DOUBLE) / sy)
                * (CAST(syy AS DOUBLE) * n - CAST(sy AS DOUBLE) * sy))
         / (CAST(n AS DOUBLE) - 1.0)) / CAST(sy AS DOUBLE), 2)
         AS se_micro
FROM s
""",
)
def q_delta_method_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method standard error for the SAME revenue-per-unit ratio
    as q_jackknife_ratio — the closed-form first-order approximation
    (se = sqrt(var_x - 2R cov + R^2 var_y) * sqrt(n) / sum_y) that
    every experimentation platform uses for ratio metrics; running it
    beside the jackknife is the standard sanity protocol, and the
    property test asserts the two agree within 1% (they are
    asymptotically identical).

    Portability: all five power sums are exact BIGINT; the composite
    IEEE expression is written ONCE and mirrored token-for-token in
    the oracle, with a 2dp round on the micro-scaled result to absorb
    association-order effects in the long float chain.

    Scale shape: one map-side-combined moment pass; everything after
    is O(1)."""
    c = catalog(spark, sf_dir)
    items = c.lineitem.select(
        F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("bigint")
        .alias("rev"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    s = items.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("rev").cast("bigint").alias("sx"),
        F.sum("qty").cast("bigint").alias("sy"),
        F.sum(F.col("rev") * F.col("rev")).cast("bigint").alias("sxx"),
        F.sum(F.col("qty") * F.col("qty")).cast("bigint").alias("syy"),
        F.sum(F.col("rev") * F.col("qty")).cast("bigint").alias("sxy"),
    )
    return s.select(
        "n",
        F.expr("(1000000 * sx) div sy").alias("theta_micro"),
        F.round(
            F.expr(
                "1000000.0 * sqrt("
                "((CAST(sxx AS DOUBLE) * n - CAST(sx AS DOUBLE) * sx)"
                " - 2.0 * (CAST(sx AS DOUBLE) / sy)"
                "       * (CAST(sxy AS DOUBLE) * n - CAST(sx AS DOUBLE) * sy)"
                " + (CAST(sx AS DOUBLE) / sy) * (CAST(sx AS DOUBLE) / sy)"
                "       * (CAST(syy AS DOUBLE) * n - CAST(sy AS DOUBLE) * sy))"
                " / (CAST(n AS DOUBLE) - 1.0)) / CAST(sy AS DOUBLE)"
            ),
            2,
        ).alias("se_micro"),
    )


@REGISTRY.register(
    "q_wasserstein_1d",
    tags=("mlstats", "statistics"),
    oracle="""
WITH pts AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS a,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS b
  FROM events WHERE event_type IN ('purchase', 'click')
  GROUP BY cents
), tot AS (
  SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb
  FROM pts
), steps AS (
  SELECT cents,
         (CAST(SUM(a) OVER w AS BIGINT) * 1000000) // tot.na AS fa,
         (CAST(SUM(b) OVER w AS BIGINT) * 1000000) // tot.nb AS fb,
         LEAD(cents) OVER (ORDER BY cents) AS nxt
  FROM pts CROSS JOIN tot
  WINDOW w AS (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT CAST(SUM(ABS(fa - fb) * (nxt - cents)) AS BIGINT)
         AS w1_micro_cents,
       CAST(COUNT(*) AS BIGINT) AS n_support
FROM steps WHERE nxt IS NOT NULL
""",
)
def q_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein (earth-mover) distance between the purchase and
    click value distributions: the area between the two empirical CDFs
    — the drift metric that, unlike q_ks_statistic's max gap, weighs
    HOW FAR the mass moved (a 1-cent shift of everything is small EMD
    but may still trip KS). Computed exactly: both CDFs live on the
    merged support (one value-domain rollup), each step contributes
    |F_a - F_b| x gap in integer micro x cents units.

    Scale shape: the fact scan reduces map-side to the bounded cent
    domain; the CDF window runs over that domain (10k rows at ANY
    data size), not over events. Overflow: |fa-fb| <= 1e6 x gap
    <= 1e4 x 1e4 support rows = 1e14 < 2^63."""
    c = catalog(spark, sf_dir)
    pts = (
        c.events.filter(F.col("event_type").isin("purchase", "click"))
        .groupBy(
            half_up("value", 100).alias("cents")
        )
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("a"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("bigint")
            .alias("b"),
        )
    )
    tot = pts.agg(
        F.sum("a").cast("bigint").alias("na"),
        F.sum("b").cast("bigint").alias("nb"),
    )
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    steps = pts.crossJoin(F.broadcast(tot)).select(
        "cents",
        F.expr(
            "(CAST(sum(a) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED"
            " PRECEDING AND CURRENT ROW) AS BIGINT) * 1000000) div na"
        ).alias("fa"),
        F.expr(
            "(CAST(sum(b) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED"
            " PRECEDING AND CURRENT ROW) AS BIGINT) * 1000000) div nb"
        ).alias("fb"),
        F.lead("cents").over(Window.orderBy("cents")).alias("nxt"),
    )
    return steps.filter(F.col("nxt").isNotNull()).agg(
        F.sum(F.abs(F.col("fa") - F.col("fb")) * (F.col("nxt") - F.col("cents")))
        .cast("bigint")
        .alias("w1_micro_cents"),
        F.count("*").cast("bigint").alias("n_support"),
    )


@REGISTRY.register(
    "q_eb_shrinkage",
    tags=("mlstats", "statistics"),
    oracle="""
WITH cust AS (
  SELECT c_nationkey,
         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
  FROM customer
), grp AS (
  SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS s,
         CAST(SUM(cents * cents) AS BIGINT) AS ss
  FROM cust GROUP BY c_nationkey
), gl AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_tot, CAST(SUM(s) AS BIGINT) AS s_tot,
         CAST(COUNT(*) AS BIGINT) AS k,
         ROUND(SUM((CAST(s AS DOUBLE) / n - CAST((SELECT SUM(s) FROM grp)
                AS DOUBLE) / (SELECT SUM(n) FROM grp))
               * (CAST(s AS DOUBLE) / n - CAST((SELECT SUM(s) FROM grp)
                  AS DOUBLE) / (SELECT SUM(n) FROM grp)))
               / (COUNT(*) - 1), 6) AS tau2,
         ROUND(SUM((CAST(n AS DOUBLE) * ss - CAST(s AS DOUBLE) * s)
                   / (CAST(n AS DOUBLE) * n * (n - 1))), 6) / COUNT(*)
           AS mean_se2
  FROM grp
)
SELECT n_name, grp.n,
       CAST(FLOOR(CAST(grp.s AS DOUBLE) / grp.n) AS BIGINT)
         AS raw_mean_cents,
       CAST(FLOOR(
         (tau2 / (tau2 + mean_se2)) * (CAST(grp.s AS DOUBLE) / grp.n)
         + (1.0 - tau2 / (tau2 + mean_se2))
           * (CAST(gl.s_tot AS DOUBLE) / gl.n_tot)
       ) AS BIGINT) AS shrunk_mean_cents
FROM grp JOIN nation ON c_nationkey = n_nationkey
CROSS JOIN gl
""",
)
def q_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes (James-Stein-style) shrinkage of per-nation
    mean account balances toward the grand mean: small/noisy groups
    move most, big groups barely — the partial-pooling baseline every
    per-segment leaderboard should use before ranking groups of
    unequal size (the top of a raw leaderboard is always a small
    noisy group). Shrinkage weight B = tau^2/(tau^2 + se^2) with a
    method-of-moments between-group variance tau^2 and the average
    within-group variance of the mean.

    Portability: all inputs are exact BIGINT power sums; tau2 and the
    mean-variance are each rounded 6dp before composing (same
    shared-IEEE discipline as q_chi_square); the final means floor to
    integer cents.

    Scale shape: one customer-grain pass to 25 group rows; everything
    after is O(k) on broadcasts."""
    c = catalog(spark, sf_dir)
    cust = c.customer.select(
        "c_nationkey",
        half_up("c_acctbal", 100).alias("cents"),
    )
    grp = cust.groupBy("c_nationkey").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("ss"),
    )
    tots = grp.agg(
        F.sum("n").cast("bigint").alias("n_tot"),
        F.sum("s").cast("bigint").alias("s_tot"),
        F.count("*").cast("bigint").alias("k"),
    )
    gm = grp.crossJoin(F.broadcast(tots))
    glob = gm.agg(
        F.max("n_tot").alias("n_tot"),
        F.max("s_tot").alias("s_tot"),
        F.round(
            # try_divide: k=1 (a single populated group) leaves the
            # between-group variance undefined — oracle NULLs via x/0
            F.try_divide(
                F.sum(
                    (
                        F.col("s").cast("double") / F.col("n")
                        - F.col("s_tot").cast("double") / F.col("n_tot")
                    )
                    * (
                        F.col("s").cast("double") / F.col("n")
                        - F.col("s_tot").cast("double") / F.col("n_tot")
                    )
                ),
                (F.max("k") - 1).cast("double"),
            ),
            6,
        ).alias("tau2"),
        (
            F.round(
                F.sum(
                    # try_divide: a singleton group (n=1) has no
                    # within-group variance evidence — its denominator
                    # n*n*(n-1) is 0, DuckDB's x/0 -> NULL drops the
                    # term from SUM while COUNT(*) still counts the
                    # group; ANSI Spark would raise (seed-1 fuzz
                    # fixture produced a one-customer nation)
                    F.try_divide(
                        F.col("n").cast("double") * F.col("ss")
                        - F.col("s").cast("double") * F.col("s"),
                        F.col("n").cast("double")
                        * F.col("n")
                        * (F.col("n") - 1),
                    )
                ),
                6,
            )
            / F.max("k")
        ).alias("mean_se2"),
    )
    # try_divide: tau2 = mean_se2 = 0 (all groups identical) is 0/0,
    # NULL in the oracle's IEEE-free arithmetic — keep parity
    b = F.try_divide(F.col("tau2"), F.col("tau2") + F.col("mean_se2"))
    return (
        grp.join(
            F.broadcast(c.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .crossJoin(F.broadcast(glob))
        .select(
            "n_name",
            "n",
            F.floor(F.col("s").cast("double") / F.col("n"))
            .cast("bigint")
            .alias("raw_mean_cents"),
            F.floor(
                b * (F.col("s").cast("double") / F.col("n"))
                + (F.lit(1.0) - b)
                * (F.col("s_tot").cast("double") / F.col("n_tot"))
            )
            .cast("bigint")
            .alias("shrunk_mean_cents"),
        )
    )


@REGISTRY.register(
    "q_regression_discontinuity",
    tags=("mlstats", "causal"),
    oracle="""
WITH pts AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         CASE WHEN l_quantity < 25 THEN 'below' ELSE 'above' END AS side
  FROM lineitem WHERE l_quantity <> 25
), sums AS (
  SELECT side, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM pts GROUP BY side
), fits AS (
  SELECT side, n,
         ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
               / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 9)
           AS slope,
         ROUND((sy - (CAST(n * sxy - sx * sy AS DOUBLE)
                      / (CAST(n AS DOUBLE) * sxx
                         - CAST(sx AS DOUBLE) * sx)) * sx)
               / CAST(n AS DOUBLE), 9) AS intercept
  FROM sums
)
SELECT side, n, slope, intercept,
       ROUND(slope * 25 + intercept, 6) AS pred_at_cutoff
FROM fits
""",
)
def q_regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression-discontinuity design: fit a separate linear
    probability model of P(returned | quantity) on each side of the
    quantity-25 cutoff (cutoff rows excluded) and extrapolate both
    fits TO the cutoff — the jump between the two predictions is the
    discontinuity estimate, the causal workhorse for threshold-
    assigned treatments (bulk-handling rules, eligibility cliffs,
    price breaks). On this fixture the jump should be ~0 (no real
    threshold effect) — the property test asserts exactly that null
    result, which is itself the point: an RDD harness must NOT
    manufacture effects.

    Portability: OLS from exact BIGINT power sums, one shared IEEE
    expression per coefficient, rounded 9dp (slopes are tiny) before
    the 6dp prediction round.

    Scale shape: map-side power sums to 2 rows; the fits are O(1)."""
    c = catalog(spark, sf_dir)
    pts = c.lineitem.filter(F.col("l_quantity") != 25).select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        F.when(F.col("l_quantity") < 25, "below")
        .otherwise("above")
        .alias("side"),
    )
    sums = pts.groupBy("side").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    # try_divide: a side with CONSTANT x (zero running-variable
    # variance) has no defined fit — oracle x/0 -> NULL; the NULL
    # slope propagates through intercept and prediction identically
    # on both engines (degenerate fuzz fixture)
    slope_raw = F.try_divide(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
            "double"
        ),
        F.col("n").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx"),
    )
    fits = sums.select(
        "side",
        "n",
        F.round(slope_raw, 9).alias("slope"),
        F.round(
            (F.col("sy") - slope_raw * F.col("sx"))
            / F.col("n").cast("double"),
            9,
        ).alias("intercept"),
    )
    return fits.select(
        "side",
        "n",
        "slope",
        "intercept",
        F.round(F.col("slope") * 25 + F.col("intercept"), 6).alias(
            "pred_at_cutoff"
        ),
    )


@REGISTRY.register(
    "q_runs_test",
    tags=("mlstats", "statistics"),
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS rev
  FROM orders GROUP BY CAST(o_orderdate AS DATE)
), ranked AS (
  SELECT day, rev,
         ROW_NUMBER() OVER (ORDER BY rev, day) AS rn,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM daily
), med AS (
  SELECT rev AS m FROM ranked WHERE rn = (n + 1) // 2
), signs AS (
  SELECT day, CASE WHEN rev > (SELECT m FROM med) THEN 1 ELSE 0 END AS s
  FROM daily
), runs AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(s) AS BIGINT) AS n1,
         CAST(COUNT(*) - SUM(s) AS BIGINT) AS n0,
         CAST(1 + SUM(CASE WHEN s <> prev THEN 1 ELSE 0 END) AS BIGINT)
           AS r
  FROM (SELECT s, LAG(s) OVER (ORDER BY day) AS prev FROM signs)
), stat AS (
  SELECT n, n1, n0, r,
         (2 * n1 * n0 * 1000000) // n + 1000000 AS mu_micro,
         (2 * n1 * n0 * (2 * n1 * n0 - n) * 1000000)
           // (n * n * (n - 1)) AS var_micro
  FROM runs
)
SELECT n AS n_days, n1 AS n_above, n0 AS n_below, r AS runs,
       mu_micro, var_micro,
       CAST(FLOOR(SQRT(CAST(var_micro * 1000000 AS DOUBLE))) AS BIGINT)
         AS sigma_micro,
       CAST(FLOOR(CAST((r * 1000000 - mu_micro) * 1000000 AS DOUBLE)
            / FLOOR(SQRT(CAST(var_micro * 1000000 AS DOUBLE))))
         AS BIGINT) AS z_micro
FROM stat
""",
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of the daily-revenue
    sequence: code each day above/below the series median, count runs
    of equal signs, and standardize against the exact null moments —
    the classic order-dependence probe run before trusting an i.i.d.
    assumption (too few runs = trending, too many = oscillating).

    Exactness: the median is an order statistic of exact whole-dollar
    daily sums (lower median, rank (n+1) div 2); runs are a lag
    comparison; mu and sigma^2 are rational in (n, n1, n0) and
    evaluated in integer micro units. Overflow audit: the variance
    numerator 2*n1*n0*(2*n1*n0-n)*1e6 <= ~8.4e18 < 2^63 because n is
    CALENDAR-bounded (~2400 days at every sf — the day count does not
    grow with data volume). The final z divides two exact-integer
    doubles (< 2^53), and IEEE division is correctly rounded on both
    engines (fact #30).

    Scale shape: one map-side-combinable daily aggregate; every
    window after that runs over the ~2400-row day table."""
    c = catalog(spark, sf_dir)
    daily = c.orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice")).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )
    ranked = daily.select(
        "day",
        "rev",
        F.row_number().over(Window.orderBy("rev", "day")).alias("rn"),
        F.count("*")
        .over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("bigint")
        .alias("n"),
    )
    med = ranked.filter(
        F.col("rn") == F.expr("(n + 1) div 2")
    ).select(F.col("rev").alias("m"))
    signs = daily.crossJoin(F.broadcast(med)).select(
        "day", (F.col("rev") > F.col("m")).cast("long").alias("s")
    )
    lagged = signs.select(
        "s", F.lag("s").over(Window.orderBy("day")).alias("prev")
    )
    runs = lagged.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("n1"),
        (F.count("*") - F.sum("s")).cast("bigint").alias("n0"),
        (
            1
            + F.sum(
                F.when(F.col("s") != F.col("prev"), 1).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("r"),
    )
    stat = runs.select(
        "n",
        "n1",
        "n0",
        "r",
        F.expr(
            "(2 * n1 * n0 * 1000000) div n + 1000000"
        ).alias("mu_micro"),
        # nullif: a single day (n=1) has no defined null variance —
        # DuckDB // 0 -> NULL, ANSI div raises (degenerate fuzz)
        F.expr(
            "(2 * n1 * n0 * (2 * n1 * n0 - n) * 1000000)"
            " div nullif(n * n * (n - 1), 0)"
        ).alias("var_micro"),
    )
    sigma = F.floor(
        F.sqrt((F.col("var_micro") * 1000000).cast("double"))
    ).cast("bigint")
    return stat.select(
        F.col("n").alias("n_days"),
        F.col("n1").alias("n_above"),
        F.col("n0").alias("n_below"),
        F.col("r").alias("runs"),
        "mu_micro",
        "var_micro",
        sigma.alias("sigma_micro"),
        # try_divide: sigma = 0 (all days on one side of the median)
        # or NULL (n = 1) leaves z undefined — NULL on both engines
        F.floor(
            F.try_divide(
                (
                    (F.col("r") * 1000000 - F.col("mu_micro")) * 1000000
                ).cast("double"),
                sigma,
            )
        )
        .cast("bigint")
        .alias("z_micro"),
    )


@REGISTRY.register(
    "q_levene_test",
    tags=("mlstats", "statistics"),
    oracle="""
WITH cells AS (
  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS qty,
         CAST(COUNT(*) AS BIGINT) AS n_c
  FROM lineitem GROUP BY l_returnflag, CAST(l_quantity AS BIGINT)
), cum AS (
  SELECT g, qty, n_c,
         CAST(SUM(n_c) OVER (PARTITION BY g ORDER BY qty) AS BIGINT)
           AS cum_n,
         CAST(SUM(n_c) OVER (PARTITION BY g) AS BIGINT) AS n_g
  FROM cells
), med AS (
  SELECT g, CAST(MIN(qty) AS BIGINT) AS med
  FROM cum WHERE cum_n >= (n_g + 1) // 2 GROUP BY g
), dev AS (
  SELECT c.g, c.n_c, ABS(c.qty - m.med) AS z
  FROM cells c JOIN med m ON c.g = m.g
), grp AS (
  SELECT g, CAST(SUM(n_c) AS BIGINT) AS n_g,
         CAST(SUM(n_c * z) * 100 AS BIGINT) AS s_g,
         CAST(SUM(n_c * z * z) * 10000 AS BIGINT) AS ssq_g
  FROM dev GROUP BY g
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n_g) AS BIGINT) AS n,
         CAST(SUM(s_g) AS BIGINT) AS s,
         CAST(SUM(ssq_g) AS BIGINT) AS ssq,
         CAST(SUM((s_g // n_g) * s_g + ((s_g % n_g) * s_g) // n_g)
              AS BIGINT) AS ss_grp_raw
  FROM grp
), ss AS (
  SELECT k, n,
         ss_grp_raw - ((s // n) * s + ((s % n) * s) // n) AS ss_b,
         ssq - ss_grp_raw AS ss_w
  FROM tot
)
SELECT k AS n_groups, n AS n_total,
       CAST(ss_b // 10000 AS BIGINT) AS ss_between,
       CAST(ss_w // 10000 AS BIGINT) AS ss_within,
       CAST(FLOOR(CAST(ss_b AS DOUBLE) * (n - k)
                  / ((k - 1) * CAST(ss_w AS DOUBLE)) * 1000000)
            AS BIGINT) AS f_micro
FROM ss
""",
)
def q_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (Levene with median centers) for equality
    of variances of order quantity across return-flag groups: one-way
    ANOVA on the absolute deviations |x - median_g| — the
    heteroscedasticity gate run before trusting a pooled-variance
    t-test or ANOVA (q_ab_ttest sidesteps it with Welch; this query
    MEASURES it).

    Exactness: quantity is integer 1..50, so per-group medians come
    from cumulative cell counts (lower median, first qty whose
    cumulative count reaches (n_g+1) div 2) and deviations are exact
    integers. The ANOVA decomposition uses the overflow-free
    (s*s) div n identity (fact #32) on deviation sums PRE-SCALED by
    100 (sums of squares by 10^4): SS_between is a tiny difference of
    two huge per-group terms (~15 vs ~7.5e6 here), so the unscaled
    identity's <=1-per-term floor loss was a ~10% relative error on
    SS_b that propagated straight into F (caught by the scalar
    Brown-Forsythe reference in test_formula_audit); at scale 100 the
    loss is <=1e-4 per term. F is then one shared IEEE double
    expression over the exact scaled BIGINTs, floored to micro units
    (floor-of-double is engine-portable; ROUND of a double is not —
    shortest-decimal vs exact-binary). Overflow: ssq*10^4 <= 2401e4
    x N stays under 2^63 to N ~ 4e11 rows; past that drop the scale
    to 10 (still 100x better than unscaled).

    Scale shape: ONE map-side-combinable (group, qty) cell count over
    the fact table (<= 150 cells); medians, deviations, and the
    F statistic all reduce the cell table."""
    c = catalog(spark, sf_dir)
    cells = c.lineitem.groupBy(
        F.col("l_returnflag").alias("g"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    ).agg(F.count("*").cast("bigint").alias("n_c"))
    cum = cells.select(
        "g",
        "qty",
        "n_c",
        F.sum("n_c")
        .over(Window.partitionBy("g").orderBy("qty"))
        .cast("bigint")
        .alias("cum_n"),
        F.sum("n_c")
        .over(Window.partitionBy("g"))
        .cast("bigint")
        .alias("n_g"),
    )
    med = (
        cum.filter(F.col("cum_n") >= F.expr("(n_g + 1) div 2"))
        .groupBy("g")
        .agg(F.min("qty").cast("bigint").alias("med"))
    )
    dev = cells.join(F.broadcast(med), "g").select(
        "g", "n_c", F.abs(F.col("qty") - F.col("med")).alias("z")
    )
    grp = dev.groupBy("g").agg(
        F.sum("n_c").cast("bigint").alias("n_g"),
        (F.sum(F.col("n_c") * F.col("z")) * 100)
        .cast("bigint")
        .alias("s_g"),
        (F.sum(F.col("n_c") * F.col("z") * F.col("z")) * 10000)
        .cast("bigint")
        .alias("ssq_g"),
    )
    tot = grp.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("bigint").alias("s"),
        F.sum("ssq_g").cast("bigint").alias("ssq"),
        F.sum(
            F.expr("(s_g div n_g) * s_g + ((s_g % n_g) * s_g) div n_g")
        )
        .cast("bigint")
        .alias("ss_grp_raw"),
    )
    ss = tot.select(
        "k",
        "n",
        F.expr(
            "ss_grp_raw - ((s div n) * s + ((s % n) * s) div n)"
        ).alias("ss_b"),
        F.expr("ssq - ss_grp_raw").alias("ss_w"),
    )
    return ss.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_total"),
        F.expr("CAST(ss_b div 10000 AS BIGINT)").alias("ss_between"),
        F.expr("CAST(ss_w div 10000 AS BIGINT)").alias("ss_within"),
        # try_divide: one group (k=1) or zero within-group deviation
        # makes F undefined — NULL on both engines (degenerate fuzz)
        F.expr(
            "CAST(FLOOR(try_divide(CAST(ss_b AS DOUBLE) * (n - k),"
            " (k - 1) * CAST(ss_w AS DOUBLE)) * 1000000)"
            " AS BIGINT)"
        ).alias("f_micro"),
    )


@REGISTRY.register(
    "q_brier_decomposition",
    tags=("mlstats", "evaluation"),
    oracle="""
WITH train AS (
  SELECT CAST(l_quantity AS BIGINT) AS qty,
         CAST(COUNT(*) AS BIGINT) AS n_t,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS pos_t
  FROM lineitem WHERE l_shipdate < TIMESTAMP '1999-01-01'
  GROUP BY CAST(l_quantity AS BIGINT)
), eval AS (
  SELECT CAST(l_quantity AS BIGINT) AS qty,
         CAST(COUNT(*) AS BIGINT) AS n_k,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS pos_k
  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1999-01-01'
  GROUP BY CAST(l_quantity AS BIGINT)
), binned AS (
  SELECT e.qty, e.n_k, e.pos_k,
         (t.pos_t * 1000) // t.n_t AS p_milli,
         (e.pos_k * 1000) // e.n_k AS o_milli
  FROM eval e JOIN train t ON e.qty = t.qty
), tot AS (
  SELECT CAST(SUM(n_k) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_bins,
         (CAST(SUM(pos_k) AS BIGINT) * 1000)
           // CAST(SUM(n_k) AS BIGINT) AS obar_milli
  FROM binned
)
SELECT tot.n AS n_eval, tot.n_bins, tot.obar_milli,
       CAST(SUM(n_k * p_milli * p_milli - 2 * p_milli * pos_k * 1000
                + pos_k * 1000000) AS BIGINT) AS bs_milli2,
       CAST(SUM(n_k * (p_milli - o_milli) * (p_milli - o_milli))
            AS BIGINT) AS rel_milli2,
       CAST(SUM(n_k * (o_milli - obar_milli) * (o_milli - obar_milli))
            AS BIGINT) AS res_milli2,
       CAST(tot.n * obar_milli * (1000 - obar_milli) AS BIGINT)
         AS unc_milli2
FROM binned CROSS JOIN tot
GROUP BY tot.n, tot.n_bins, tot.obar_milli
""",
)
def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score for a temporally-split
    probability model: P(returned | quantity) is FIT on shipments
    before 1999 and SCORED on shipments after, decomposed into
    reliability (calibration error of the stale model), resolution
    (how much the bins separate outcomes), and uncertainty (outcome
    base-rate entropy term) — the standard readout for whether a
    model's probabilities drifted (reliability up) vs lost
    discrimination (resolution down). Complements q_calibration_bins
    (in-sample table) and q_psi_drift (input drift only).

    Exactness: probabilities are integer milli-units from exact
    BIGINT counts; every decomposition term is a sum of products of
    milli-bounded integers (n_k * delta^2 <= N * 1e6 — BIGINT-safe to
    ~9e12 rows); the totals are emitted per term rather than
    asserting the floor-perturbed identity BS = REL - RES + UNC.

    Scale shape: two map-side-combinable (qty) aggregates over
    disjoint date slices of the fact scan (bin domain <= 50), a
    broadcast join between the 50-row summaries, and a 1-row total."""
    c = catalog(spark, sf_dir)
    flag = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    split = F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp")

    def side(pred) -> DataFrame:
        return (
            c.lineitem.filter(pred)
            .groupBy(F.col("l_quantity").cast("bigint").alias("qty"))
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.sum(flag).cast("bigint").alias("pos"),
            )
        )

    train = side(split).select(
        "qty", F.expr("(pos * 1000) div n").alias("p_milli")
    )
    ev = side(~split).withColumnsRenamed({"n": "n_k", "pos": "pos_k"})
    binned = ev.join(F.broadcast(train), "qty").select(
        "qty",
        "n_k",
        "pos_k",
        "p_milli",
        F.expr("(pos_k * 1000) div n_k").alias("o_milli"),
    )
    tot = binned.agg(
        F.sum("n_k").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("n_bins"),
        F.expr(
            "(CAST(sum(pos_k) AS BIGINT) * 1000)"
            " div CAST(sum(n_k) AS BIGINT)"
        ).alias("obar_milli"),
    )
    return (
        binned.crossJoin(F.broadcast(tot))
        .groupBy("n", "n_bins", "obar_milli")
        .agg(
            F.sum(
                F.expr(
                    "n_k * p_milli * p_milli"
                    " - 2 * p_milli * pos_k * 1000 + pos_k * 1000000"
                )
            )
            .cast("bigint")
            .alias("bs_milli2"),
            F.sum(
                F.expr("n_k * (p_milli - o_milli) * (p_milli - o_milli)")
            )
            .cast("bigint")
            .alias("rel_milli2"),
            F.sum(
                F.expr(
                    "n_k * (o_milli - obar_milli)"
                    " * (o_milli - obar_milli)"
                )
            )
            .cast("bigint")
            .alias("res_milli2"),
        )
        .select(
            F.col("n").alias("n_eval"),
            "n_bins",
            "obar_milli",
            "bs_milli2",
            "rel_milli2",
            "res_milli2",
            F.expr(
                "CAST(n * obar_milli * (1000 - obar_milli) AS BIGINT)"
            ).alias("unc_milli2"),
        )
    )


@REGISTRY.register(
    "q_pinball_loss",
    tags=("mlstats", "evaluation", "forecast"),
    oracle="""
WITH split AS (
  SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
         event_id, CAST(ts AS DATE) < DATE '2024-01-16' AS is_train
  FROM events
), tr AS (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY cents, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM split WHERE is_train
), fc AS (
  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_train,
         CAST(MAX(CASE WHEN rn = GREATEST(CAST(CEIL(n * 0.5) AS BIGINT), 1)
                       THEN cents END) AS BIGINT) AS f50_cents,
         CAST(MAX(CASE WHEN rn = GREATEST(CAST(CEIL(n * 0.9) AS BIGINT), 1)
                       THEN cents END) AS BIGINT) AS f90_cents
  FROM tr GROUP BY event_type
)
SELECT s.event_type, fc.n_train,
       CAST(COUNT(*) AS BIGINT) AS n_eval,
       fc.f50_cents, fc.f90_cents,
       CAST(SUM(GREATEST(5 * (s.cents - fc.f50_cents),
                         -5 * (s.cents - fc.f50_cents)) )
            // COUNT(*) AS BIGINT) AS loss50_deci,
       CAST(SUM(GREATEST(9 * (s.cents - fc.f90_cents),
                         -1 * (s.cents - fc.f90_cents)))
            // COUNT(*) AS BIGINT) AS loss90_deci
FROM split s JOIN fc ON s.event_type = fc.event_type
WHERE NOT s.is_train
GROUP BY s.event_type, fc.n_train, fc.f50_cents, fc.f90_cents
""",
)
def q_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss evaluation of a temporally-split
    quantile forecast: per event type, the train period's exact 0.5
    and 0.9 order-statistic quantiles become the forecasts, scored on
    the eval period with L_tau(y,f) = max(tau(y-f), (tau-1)(y-f)) —
    the metric that makes quantile forecasts comparable (a 0.9
    forecast is penalized 9:1 for under- vs over-prediction, so
    "always forecast high" cannot win). Complements q_forecast_baseline
    (point MAE) and q_newsvendor_quantile (the decision side of the
    same asymmetry).

    Exactness: forecasts are order statistics of integer cents (rank
    ceil(tau*n), the quantile_disc convention); tau in tenths makes
    each loss term an integer deci-cent product (tau=0.5 -> max(5d,-5d)
    = 5|d|; tau=0.9 -> max(9d,-d)); sums are BIGINT, the mean floors
    once. The 0.9 loss < 0.5 loss iff the distribution's upper tail is
    tight — asserted in the audit test.

    Scale shape: one map-side (type, cents) reduction feeds the
    order-stat window over the bounded cent domain; eval scoring is a
    broadcast join of the 5-row forecast table against the fact scan."""
    c = catalog(spark, sf_dir)
    split = c.events.select(
        "event_type",
        half_up("value", 100).alias("cents"),
        "event_id",
        (F.to_date("ts") < F.lit("2024-01-16")).alias("is_train"),
    )
    wtr = Window.partitionBy("event_type").orderBy("cents", "event_id")
    tr = split.filter("is_train").select(
        "event_type",
        "cents",
        F.row_number().over(wtr).alias("rn"),
        F.count("*")
        .over(Window.partitionBy("event_type"))
        .alias("n"),
    )
    fc = tr.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_train"),
        F.max(
            F.when(
                F.col("rn")
                == F.greatest(F.ceil(F.col("n") * 0.5), F.lit(1)),
                F.col("cents"),
            )
        )
        .cast("bigint")
        .alias("f50_cents"),
        F.max(
            F.when(
                F.col("rn")
                == F.greatest(F.ceil(F.col("n") * 0.9), F.lit(1)),
                F.col("cents"),
            )
        )
        .cast("bigint")
        .alias("f90_cents"),
    )
    ev = split.filter(~F.col("is_train")).join(F.broadcast(fc), "event_type")
    d50 = F.col("cents") - F.col("f50_cents")
    d90 = F.col("cents") - F.col("f90_cents")
    return ev.groupBy(
        "event_type", "n_train", "f50_cents", "f90_cents"
    ).agg(
        F.count("*").cast("bigint").alias("n_eval"),
        F.expr(
            "CAST(SUM(GREATEST(5 * (cents - f50_cents),"
            " -5 * (cents - f50_cents))) div COUNT(*) AS BIGINT)"
        ).alias("loss50_deci"),
        F.expr(
            "CAST(SUM(GREATEST(9 * (cents - f90_cents),"
            " -1 * (cents - f90_cents))) div COUNT(*) AS BIGINT)"
        ).alias("loss90_deci"),
    ).select(
        "event_type",
        "n_train",
        "n_eval",
        "f50_cents",
        "f90_cents",
        "loss50_deci",
        "loss90_deci",
    )


@REGISTRY.register(
    "q_mutual_information",
    tags=("mlstats", "statistics", "information"),
    oracle="""
WITH obs AS (
  SELECT event_type AS x, DAYOFWEEK(ts) AS y,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM events GROUP BY x, y
), rx AS (
  SELECT x, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY x
), cy AS (
  SELECT y, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY y
), tot AS (
  SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs
), ents AS (
  SELECT
    (SELECT ROUND(LN(CAST(MIN(n) AS DOUBLE))
                  - SUM(r * LN(CAST(r AS DOUBLE))) / MIN(n), 6)
     FROM rx CROSS JOIN tot) AS h_x,
    (SELECT ROUND(LN(CAST(MIN(n) AS DOUBLE))
                  - SUM(c * LN(CAST(c AS DOUBLE))) / MIN(n), 6)
     FROM cy CROSS JOIN tot) AS h_y,
    (SELECT ROUND(SUM((CAST(o AS DOUBLE) / n)
                      * LN(CAST(o AS DOUBLE) * n
                           / (CAST(r AS DOUBLE) * c))), 6)
     FROM obs JOIN rx USING (x) JOIN cy USING (y) CROSS JOIN tot) AS mi,
    (SELECT CAST(n AS BIGINT) FROM tot) AS n
)
SELECT n, h_x AS h_type_nats, h_y AS h_dow_nats, mi AS mi_nats,
       ROUND(mi / LEAST(h_x, h_y), 6) AS nmi
FROM ents
""",
)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and day-of-week, with the
    marginal entropies and min-normalized MI — the model-free
    dependence measure that complements q_chi_square (significance)
    and q_cramers_v (effect size): MI says how many NATS of the
    weekday are learnable from the event type. Entropies use
    H = ln N - (1/N) SUM r ln r so every log argument is an exact
    BIGINT count (no tiny fractions).

    Portability note: the dow LABELS differ across engines (Spark
    dayofweek is 1=Sunday, DuckDB's 0=Sunday — environment fact #39),
    but MI, H, and NMI are invariant under relabeling of either
    margin, so the outputs hash-match without aligning the encodings.

    Scale shape: one map-side (type, dow) contingency rollup (35
    cells); everything after is O(cells) on broadcasts."""
    from catenae_kafka_spark.catalog import register_views

    register_views(spark, sf_dir, ("events",))
    return spark.sql("""
      WITH obs AS (
        SELECT event_type AS x, dayofweek(ts) AS y,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM events GROUP BY x, y
      ), rx AS (
        SELECT x, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY x
      ), cy AS (
        SELECT y, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY y
      ), tot AS (
        SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs
      ), ents AS (
        SELECT
          (SELECT ROUND(LN(CAST(MIN(n) AS DOUBLE))
                        - SUM(r * LN(CAST(r AS DOUBLE))) / MIN(n), 6)
           FROM rx CROSS JOIN tot) AS h_x,
          (SELECT ROUND(LN(CAST(MIN(n) AS DOUBLE))
                        - SUM(c * LN(CAST(c AS DOUBLE))) / MIN(n), 6)
           FROM cy CROSS JOIN tot) AS h_y,
          (SELECT ROUND(SUM((CAST(o AS DOUBLE) / n)
                            * LN(CAST(o AS DOUBLE) * n
                                 / (CAST(r AS DOUBLE) * c))), 6)
           FROM obs JOIN rx USING (x) JOIN cy USING (y)
           CROSS JOIN tot) AS mi,
          (SELECT CAST(n AS BIGINT) FROM tot) AS n
      )
      SELECT n, h_x AS h_type_nats, h_y AS h_dow_nats, mi AS mi_nats,
             -- try_divide: both margins constant => H = 0 and NMI is
             -- undefined; DuckDB's 0/0 -> NULL (degenerate fuzz)
             ROUND(try_divide(mi, LEAST(h_x, h_y)), 6) AS nmi
      FROM ents
    """)
