"""Advanced analytics operators: Pareto skyline, running distinct
counts.

Both replace a naive quadratic / unbounded-memory formulation with a
linear, shuffle-bounded decomposition:

- skyline: dominance (NOT EXISTS over all pairs) becomes one sorted
  scan with a strict running max — O(n log n) instead of O(n^2);
- running distinct: COUNT(DISTINCT) OVER a cumulative window (which no
  engine executes without holding the full distinct set per frame)
  becomes a first-touch flag plus a running SUM of exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from catenae_kafka_spark.catalog import catalog
from catenae_kafka_spark.functions.compat import half_up
from catenae_kafka_spark.registry import REGISTRY


@REGISTRY.register(
    "q_skyline",
    tags=("analytics",),
    oracle="""
WITH q AS MATERIALIZED (
  SELECT o_orderpriority, o_orderkey,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
         STRFTIME(o_orderdate, '%Y-%m-%d') AS order_day
  FROM orders
)
SELECT r.o_orderpriority, r.o_orderkey, r.price_cents, r.order_day
FROM q r
WHERE NOT EXISTS (
  SELECT 1 FROM q s
  WHERE s.o_orderpriority = r.o_orderpriority
    AND s.price_cents >= r.price_cents
    AND s.order_day >= r.order_day
    AND (s.price_cents > r.price_cents OR s.order_day > r.order_day)
)
""",
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline per priority class: orders not dominated on
    (price, recency) — the multi-criteria shortlist behind "best
    candidate documents" selection when no single score exists.

    The textbook definition is a quadratic NOT EXISTS (the oracle runs
    it literally); the engine computes the identical set in one sorted
    scan: group to per-price max day, take a strict running max of day
    over descending price, and keep a row iff no strictly-higher price
    reached its day AND no same-price row beats its day. Per-priority
    windows partition the scan; a heavier dimension would reuse the
    bucketed prefix pattern from q_auc_rank. Ties on both dimensions
    are mutually non-dominating and all kept — same as the oracle.
    """
    c = catalog(spark, sf_dir)
    q = c.orders.select(
        "o_orderpriority",
        "o_orderkey",
        half_up("o_totalprice", 100).alias("price_cents"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
    )
    per_price = q.groupBy("o_orderpriority", "price_cents").agg(
        F.max("order_day").alias("gmax_day")
    )
    w_above = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("price_cents").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier_prices = per_price.withColumn(
        "max_day_above", F.max("gmax_day").over(w_above)
    )
    joined = q.join(
        frontier_prices, ["o_orderpriority", "price_cents"]
    )
    keep = joined.filter(
        (
            F.col("max_day_above").isNull()
            | (F.col("max_day_above") < F.col("order_day"))
        )
        & (F.col("gmax_day") <= F.col("order_day"))
    )
    return keep.select(
        "o_orderpriority", "o_orderkey", "price_cents", "order_day"
    )


@REGISTRY.register(
    "q_running_distinct",
    tags=("analytics", "windows"),
    oracle="""
WITH firsts AS (
  SELECT event_type, user_id,
         MIN(CAST(ts AS DATE)) AS first_day
  FROM events GROUP BY event_type, user_id
), per_day AS (
  SELECT event_type, STRFTIME(first_day, '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS new_users
  FROM firsts GROUP BY event_type, first_day
)
SELECT event_type, day, new_users,
       CAST(SUM(new_users) OVER (
         PARTITION BY event_type ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cum_distinct_users
FROM per_day
""",
)
def q_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-user count per event type by day — the "unique
    users to date" curve every growth dashboard draws. COUNT(DISTINCT)
    OVER a cumulative frame would hold the whole distinct set per
    frame; the first-touch decomposition (each user counts only on
    their first day, then a running SUM) is exact, one groupBy + one
    tiny per-type window over days, and is the same trick streaming
    uses (q_stream_distinct_users' bitmap is its unbounded cousin).
    """
    c = catalog(spark, sf_dir)
    firsts = c.events.groupBy("event_type", "user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    per_day = firsts.groupBy(
        "event_type",
        F.date_format("first_day", "yyyy-MM-dd").alias("day"),
    ).agg(F.count("*").alias("new_users"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return per_day.select(
        "event_type",
        "day",
        "new_users",
        F.sum("new_users").over(w).alias("cum_distinct_users"),
    )


@REGISTRY.register(
    "q_impute_group_mean",
    tags=("analytics", "cleaning"),
    oracle="""
WITH holes AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 13 = 0 THEN NULL
              ELSE CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END AS c
  FROM events
), grp AS (
  SELECT event_type,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(COUNT(c) AS BIGINT) AS n
  FROM holes GROUP BY event_type
)
SELECT h.event_id, h.event_type,
       h.c IS NULL AS was_imputed,
       COALESCE(CAST(h.c AS DOUBLE),
                CAST(g.s AS DOUBLE) / g.n) / 100.0 AS value_filled
FROM holes h JOIN grp g ON h.event_type = g.event_type
""",
)
def q_impute_group_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-mean imputation — the baseline missing-value repair in
    feature pipelines: nulls (deterministically punched into every
    13th event so the oracle sees identical holes) are filled with the
    non-null mean of the row's event_type group.

    Two-phase: per-group (sum, count) partials in exact cents, then a
    broadcast join back — the corpus never shuffles, only the
    group-count-sized mean table moves. COUNT(c) counting only
    non-null values is the load-bearing semantic; the mean derives
    from exact integers so the filled value hash-matches."""
    c = catalog(spark, sf_dir)
    cents = half_up("value", 100)
    holes = c.events.select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 13 == 0, F.lit(None).cast("long"))
        .otherwise(cents)
        .alias("c"),
    )
    grp = holes.groupBy("event_type").agg(
        F.sum("c").alias("s"), F.count("c").alias("n")
    )
    return holes.join(F.broadcast(grp), "event_type").select(
        "event_id",
        "event_type",
        F.col("c").isNull().alias("was_imputed"),
        (
            F.coalesce(
                F.col("c").cast("double"),
                F.col("s").cast("double") / F.col("n"),
            )
            / 100.0
        ).alias("value_filled"),
    )


@REGISTRY.register(
    "q_wow_growth",
    tags=("analytics", "timeseries"),
    oracle="""
WITH weekly AS (
  SELECT event_type,
         STRFTIME(date_trunc('week', ts), '%Y-%m-%d') AS week_start,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, date_trunc('week', ts)
)
SELECT event_type, week_start, n,
       LAG(n) OVER (PARTITION BY event_type ORDER BY week_start)
         AS prev_n,
       CASE WHEN LAG(n) OVER (
              PARTITION BY event_type ORDER BY week_start) IS NULL
            THEN NULL
            ELSE CAST(n AS DOUBLE) / LAG(n) OVER (
              PARTITION BY event_type ORDER BY week_start) - 1.0
       END AS wow_growth
FROM weekly
""",
)
def q_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth rate per event type — the trend readout
    behind every ingest/usage dashboard. Weekly counts are exact; the
    growth ratio is one BIGINT division per row; the lag window runs
    over |types| x |weeks| rows, never the event table. Monday-start
    ISO weeks (Spark date_trunc('week') and DuckDB agree)."""
    c = catalog(spark, sf_dir)
    weekly = c.events.groupBy(
        "event_type",
        F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias(
            "week_start"
        ),
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy("week_start")
    prev = F.lag("n").over(w)
    return weekly.select(
        "event_type",
        "week_start",
        "n",
        prev.alias("prev_n"),
        F.when(prev.isNull(), F.lit(None).cast("double"))
        .otherwise(F.col("n").cast("double") / prev - 1.0)
        .alias("wow_growth"),
    )


@REGISTRY.register(
    "q_top_share",
    tags=("analytics", "concentration"),
    oracle="""
WITH q AS (
  SELECT o_orderpriority,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c,
         ROW_NUMBER() OVER (
           PARTITION BY o_orderpriority
           ORDER BY FLOOR(o_totalprice * 100 + 0.5) DESC, o_orderkey
         ) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY o_orderpriority) AS BIGINT)
           AS n,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              OVER (PARTITION BY o_orderpriority) AS BIGINT) AS s
  FROM orders
)
SELECT o_orderpriority,
       n,
       CAST(CEIL(n * 0.01) AS BIGINT) AS top_k,
       CAST(SUM(c) AS BIGINT) AS top_cents,
       CAST(SUM(c) AS DOUBLE) / ANY_VALUE(s) AS top_share
FROM q
WHERE rn <= CEIL(n * 0.01)
GROUP BY o_orderpriority, n
""",
)
def q_top_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1% revenue share per priority class — the Lorenz-curve
    point that pairs with q_gini: "how much of the money sits in the
    top percentile of orders?" High concentration changes caching,
    sampling, and skew strategy for the key.

    One per-class rank window with deterministic (price desc, key)
    tie-break; all sums in exact cents; the share is one division of
    exact BIGINTs. The rank partitions by class; an extreme class
    reuses the bucketed prefix pattern."""
    c = catalog(spark, sf_dir)
    cents = half_up("o_totalprice", 100)
    w_rank = Window.partitionBy("o_orderpriority").orderBy(
        cents.desc(), "o_orderkey"
    )
    w_all = Window.partitionBy("o_orderpriority")
    q = c.orders.select(
        "o_orderpriority",
        cents.alias("c"),
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_all).alias("n"),
        F.sum(cents).over(w_all).alias("s"),
    )
    return (
        q.filter(F.col("rn") <= F.ceil(F.col("n") * 0.01))
        .groupBy("o_orderpriority", "n")
        .agg(
            F.ceil(F.first("n") * 0.01).cast("long").alias("top_k"),
            F.sum("c").alias("top_cents"),
            (
                F.sum("c").cast("double") / F.first("s")
            ).alias("top_share"),
        )
        .select(
            "o_orderpriority", "n", "top_k", "top_cents", "top_share"
        )
    )


@REGISTRY.register(
    "q_target_encode",
    tags=("analytics", "features"),
    oracle="""
WITH base AS (
  SELECT event_id, user_id,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
), grp AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s
  FROM base GROUP BY user_id
)
SELECT b.event_id, b.user_id,
       CASE WHEN g.n > 1
            THEN CAST(g.s - b.c AS DOUBLE) / (g.n - 1) / 100.0
       END AS loo_mean
FROM base b JOIN grp g ON b.user_id = g.user_id
""",
)
def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of user_id against the value
    target — the feature-engineering staple that replaces a high-
    cardinality categorical with the target mean EXCLUDING the row
    itself (naive group means leak the label into the feature; LOO
    subtracts the row's own contribution: (sum - y_i)/(n - 1)).

    Two-phase like the imputation op: per-key (sum, count) partials in
    exact cents, broadcast back, map-side arithmetic — the event table
    never shuffles, and singleton keys yield NULL (no leak-free
    encoding exists for them) rather than a fabricated value."""
    c = catalog(spark, sf_dir)
    cents = half_up("value", 100)
    base = c.events.select("event_id", "user_id", cents.alias("c"))
    grp = base.groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum("c").alias("s")
    )
    return base.join(F.broadcast(grp), "user_id").select(
        "event_id",
        "user_id",
        F.when(
            F.col("n") > 1,
            (F.col("s") - F.col("c")).cast("double")
            / (F.col("n") - 1)
            / 100.0,
        ).alias("loo_mean"),
    )


@REGISTRY.register(
    "q_rare_collapse",
    tags=("analytics", "features"),
    oracle="""
WITH counts AS (
  SELECT p_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM part GROUP BY p_type
), mapped AS (
  SELECT CASE WHEN c.n >= 100 THEN p.p_type ELSE '__other__' END
           AS category
  FROM part p JOIN counts c ON p.p_type = c.p_type
)
SELECT category, CAST(COUNT(*) AS BIGINT) AS n
FROM mapped GROUP BY category
""",
)
def q_rare_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-category collapse: part types seen fewer than 100 times
    fold into '__other__' — the cardinality-control step before
    one-hot/embedding layers (unbounded tails blow up feature dims and
    overfit). Category counts broadcast back onto the table; the
    collapse is a map-side CASE; the final distribution is a second
    tiny aggregate. The fact table never shuffles."""
    c = catalog(spark, sf_dir)
    counts = c.part.groupBy("p_type").agg(F.count("*").alias("n"))
    mapped = c.part.join(F.broadcast(counts), "p_type").select(
        F.when(F.col("n") >= 100, F.col("p_type"))
        .otherwise("__other__")
        .alias("category")
    )
    return mapped.groupBy("category").agg(F.count("*").alias("n"))


@REGISTRY.register(
    "q_spc_control_chart",
    tags=("analytics", "monitoring"),
    oracle="""
WITH daily AS (
  SELECT event_type, STRFTIME(ts, '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, STRFTIME(ts, '%Y-%m-%d')
), stats AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(n) AS BIGINT) AS s,
         CAST(SUM(n * n) AS BIGINT) AS ss
  FROM daily GROUP BY event_type
), lim AS (
  SELECT event_type, n_days,
         CAST(s AS DOUBLE) / n_days AS mu,
         SQRT((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n_days)
              / (n_days - 1)) AS sd
  FROM stats
)
SELECT d.event_type, d.day, d.n,
       ROUND(l.mu, 4) AS center,
       ROUND(l.mu - 3 * l.sd, 4) AS lcl,
       ROUND(l.mu + 3 * l.sd, 4) AS ucl,
       d.n < l.mu - 3 * l.sd OR d.n > l.mu + 3 * l.sd AS out_of_control
FROM daily d JOIN lim l ON d.event_type = l.event_type
""",
)
def q_spc_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart control chart over daily event volumes: per-type
    center line and 3-sigma control limits, each day flagged in or out
    of control — the statistical-process-control view of pipeline
    health (a day outside the limits means the INGEST changed, not
    just the traffic).

    Daily counts and their sums of squares stay in exact BIGINTs; mu
    and sigma derive once per type (a days-count-sized table,
    broadcast back onto the daily series); the flag is a map-side
    comparison of identically-computed doubles."""
    c = catalog(spark, sf_dir)
    daily = c.events.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").alias("n"))
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("ss"),
    )
    mu = F.col("s").cast("double") / F.col("n_days")
    # try_divide: a type seen on a single day has no day-to-day
    # variance — NULL limits on both engines (DuckDB x/0 -> NULL,
    # ANSI / raises; degenerate fuzz fixture puts all events on one
    # day), and the in/out flag is NULL for that type too
    sd = F.sqrt(
        F.try_divide(
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n_days"),
            (F.col("n_days") - 1).cast("double"),
        )
    )
    lim = stats.select("event_type", mu.alias("mu"), sd.alias("sd"))
    j = daily.join(F.broadcast(lim), "event_type")
    return j.select(
        "event_type",
        "day",
        "n",
        F.round("mu", 4).alias("center"),
        F.round(F.col("mu") - 3 * F.col("sd"), 4).alias("lcl"),
        F.round(F.col("mu") + 3 * F.col("sd"), 4).alias("ucl"),
        (
            (F.col("n") < F.col("mu") - 3 * F.col("sd"))
            | (F.col("n") > F.col("mu") + 3 * F.col("sd"))
        ).alias("out_of_control"),
    )


@REGISTRY.register(
    "q_dp_noisy_count",
    tags=("analytics", "privacy"),
    oracle="""
WITH counts AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS true_n
  FROM events GROUP BY event_type
), noised AS (
  SELECT event_type, true_n,
         CAST(('0x' || substr(md5(event_type || ':dp-seed-42'), 1, 13))
              ::BIGINT AS DOUBLE) / 4503599627370496.0 - 0.5 AS u
  FROM counts
)
SELECT event_type,
       ROUND(true_n + (CASE WHEN u >= 0 THEN -1.0 ELSE 1.0 END)
             * LN(1.0 - 2.0 * ABS(u)), 4) AS noisy_n
FROM noised
""",
)
def q_dp_noisy_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (epsilon = 1, sensitivity
    1): Laplace(1) noise added to each category count via inverse-CDF
    sampling over a uniform in (-0.5, 0.5).

    The uniform draw is derived from md5 of a keyed seed — md5 is the
    one hash both engines share bit-for-bit (xxhash64 / DuckDB hash
    are not portable), which makes the release deterministic and
    oracle-checkable; a production release swaps that single `u`
    expression for a secure RNG draw, keeping the mechanism,
    sensitivity bookkeeping, and map-side shape unchanged. The 13 hex
    digits give 52 uniform bits, exactly a double's mantissa."""
    c = catalog(spark, sf_dir)
    counts = c.events.groupBy("event_type").agg(
        F.count("*").alias("true_n")
    )
    # Engine-portable uniform in (-0.5, 0.5): first 13 md5 hex digits
    # (52 bits) of the keyed seed, scaled. md5 is identical in both
    # engines, unlike xxhash64/hash.
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("event_type"), F.lit(":dp-seed-42"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(16**13))
        - 0.5
    )
    noise = (
        F.when(u >= 0, F.lit(-1.0)).otherwise(F.lit(1.0))
        * F.log(1.0 - 2.0 * F.abs(u))
    )
    return counts.select(
        "event_type",
        F.round(F.col("true_n") + noise, 4).alias("noisy_n"),
    )


@REGISTRY.register(
    "q_metric_decomposition",
    tags=("analytics", "bi"),
    oracle="""
WITH per AS (
  SELECT o_orderpriority,
         CASE WHEN o_orderdate < TIMESTAMP '2000-01-01' THEN 0 ELSE 1 END
           AS period,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS rev
  FROM orders GROUP BY 1, 2
), wide AS (
  SELECT o_orderpriority,
         MAX(CASE WHEN period = 0 THEN n END) AS n0,
         MAX(CASE WHEN period = 0 THEN rev END) AS rev0,
         MAX(CASE WHEN period = 1 THEN n END) AS n1,
         MAX(CASE WHEN period = 1 THEN rev END) AS rev1
  FROM per GROUP BY o_orderpriority
)
SELECT o_orderpriority, n0, n1, rev0, rev1,
       rev1 - rev0 AS delta_cents,
       ROUND((n1 - n0) * (CAST(rev0 AS DOUBLE) / n0) / 100.0, 4)
         AS volume_effect,
       ROUND(n1 * (CAST(rev1 AS DOUBLE) / n1
                   - CAST(rev0 AS DOUBLE) / n0) / 100.0, 4)
         AS price_effect
FROM wide
""",
)
def q_metric_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume decomposition of a period-over-period revenue
    change: delta = (count change x old average) + (new count x
    average change) — the BI explainer that turns "revenue moved" into
    "how much was more orders vs bigger orders". The two effects sum
    to the delta exactly by construction.

    One groupBy over (class, period), a 2-row-per-class pivot, and
    map-side arithmetic from exact cent sums — no second scan, no
    window, no shuffle beyond the first aggregate."""
    c = catalog(spark, sf_dir)
    cents = half_up("o_totalprice", 100)
    split = F.lit("2000-01-01").cast("timestamp")
    per = c.orders.groupBy(
        "o_orderpriority",
        F.when(F.col("o_orderdate") < split, 0).otherwise(1).alias(
            "period"
        ),
    ).agg(F.count("*").alias("n"), F.sum(cents).alias("rev"))

    def pick(col: str, p: int) -> "F.Column":
        return F.max(F.when(F.col("period") == p, F.col(col)))

    wide = per.groupBy("o_orderpriority").agg(
        pick("n", 0).alias("n0"),
        pick("rev", 0).alias("rev0"),
        pick("n", 1).alias("n1"),
        pick("rev", 1).alias("rev1"),
    )
    avg0 = F.col("rev0").cast("double") / F.col("n0")
    avg1 = F.col("rev1").cast("double") / F.col("n1")
    return wide.select(
        "o_orderpriority",
        "n0",
        "n1",
        "rev0",
        "rev1",
        (F.col("rev1") - F.col("rev0")).alias("delta_cents"),
        F.round((F.col("n1") - F.col("n0")) * avg0 / 100.0, 4).alias(
            "volume_effect"
        ),
        F.round(F.col("n1") * (avg1 - avg0) / 100.0, 4).alias(
            "price_effect"
        ),
    )


@REGISTRY.register(
    "q_attribution_touch",
    tags=("analytics", "attribution"),
    oracle="""
SELECT event_id, user_id,
       first_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                   IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         AS first_touch,
       last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                  IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         AS last_touch,
       CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS revenue_cents
FROM events
QUALIFY event_type = 'purchase'
""",
)
def q_attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch marketing attribution: every purchase is
    credited to the user's first-ever and most-recent preceding
    non-purchase interaction — the two canonical attribution models,
    computed in ONE pass (most implementations self-join per model).

    One per-user event-time window with a strictly-preceding frame;
    IGNORE NULLS first/last over a conditional projection picks the
    touches without a second scan. Purchases with no prior touch
    attribute to NULL (organic) — semantics the oracle's QUALIFY form
    states identically. Revenue stays in exact cents."""
    c = catalog(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type") != "purchase", F.col("event_type")
    )
    return (
        c.events.select(
            "event_id",
            "user_id",
            "event_type",
            F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
            F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
            half_up("value", 100).alias("revenue_cents"),
        )
        .filter(F.col("event_type") == "purchase")
        .drop("event_type")
    )


@REGISTRY.register(
    "q_winsorize",
    tags=("analytics", "cleaning"),
    oracle="""
WITH q AS (
  SELECT event_id, event_type,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
), bounds AS (
  SELECT event_type,
         quantile_cont(c, 0.05) AS lo,
         quantile_cont(c, 0.95) AS hi
  FROM q GROUP BY event_type
)
SELECT q.event_id, q.event_type,
       ROUND(q.c / 100.0, 2) AS value,
       ROUND(LEAST(GREATEST(CAST(q.c AS DOUBLE), b.lo), b.hi) / 100.0, 4)
         AS winsorized,
       q.c < b.lo OR q.c > b.hi AS was_clipped
FROM q JOIN bounds b ON q.event_type = b.event_type
""",
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization at the 5th/95th percentile per event type — the
    outlier-taming transform used before mean-based features or losses
    (unlike trimming, every row survives; the tails just flatten to
    the fence values).

    Group fences come from one exact-percentile aggregate over integer
    cents (R-7 interpolation, identical in both engines) and broadcast
    back; the clip is a map-side LEAST/GREATEST — the event table
    never shuffles."""
    c = catalog(spark, sf_dir)
    cents = half_up("value", 100)
    q = c.events.select(
        "event_id", "event_type", cents.alias("c")
    )
    bounds = q.groupBy("event_type").agg(
        F.expr("percentile(c, 0.05)").alias("lo"),
        F.expr("percentile(c, 0.95)").alias("hi"),
    )
    j = q.join(F.broadcast(bounds), "event_type")
    return j.select(
        "event_id",
        "event_type",
        F.round(F.col("c") / 100.0, 2).alias("value"),
        F.round(
            F.least(
                F.greatest(F.col("c").cast("double"), F.col("lo")),
                F.col("hi"),
            )
            / 100.0,
            4,
        ).alias("winsorized"),
        ((F.col("c") < F.col("lo")) | (F.col("c") > F.col("hi"))).alias(
            "was_clipped"
        ),
    )


@REGISTRY.register(
    "q_user_paths",
    tags=("analytics", "paths"),
    oracle="""
WITH ordered AS (
  SELECT user_id,
         list(event_type ORDER BY ts, event_id) AS types
  FROM events GROUP BY user_id
), paths AS (
  SELECT array_to_string(types[1:5], '>') AS path
  FROM ordered
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
FROM paths
GROUP BY path
ORDER BY n_users DESC, path
LIMIT 10
""",
)
def q_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 opening behavior paths: each user's first five events in
    order, joined into a path string, counted across users — the
    "how do sessions begin" analysis behind onboarding funnels and
    bot-pattern detection.

    One per-user shuffle: the window-ranked first-5 filter bounds what
    collect_list aggregates (never the whole history), the path count
    is a second small aggregate, and the top-10 is a TakeOrdered —
    no global sort. Deterministic (ts, event_id) ordering end to end."""
    from pyspark.sql import Window

    c = catalog(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first5 = c.events.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= 5)
    paths = (
        first5.groupBy("user_id")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("rn", "event_type"))
                ).getField("event_type"),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(10)
    )


@REGISTRY.register(
    "q_rfm_segments",
    tags=("analytics", "orders"),
    oracle="""
WITH rfm AS (
  SELECT o_custkey,
         DATEDIFF('day', MAX(CAST(o_orderdate AS DATE)),
                  (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders)) AS recency_days,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM orders GROUP BY o_custkey
), bounds AS (
  SELECT quantile_cont(-recency_days, 0.2) AS r1, quantile_cont(-recency_days, 0.4) AS r2,
         quantile_cont(-recency_days, 0.6) AS r3, quantile_cont(-recency_days, 0.8) AS r4,
         quantile_cont(frequency, 0.2) AS f1, quantile_cont(frequency, 0.4) AS f2,
         quantile_cont(frequency, 0.6) AS f3, quantile_cont(frequency, 0.8) AS f4,
         quantile_cont(monetary_cents, 0.2) AS m1, quantile_cont(monetary_cents, 0.4) AS m2,
         quantile_cont(monetary_cents, 0.6) AS m3, quantile_cont(monetary_cents, 0.8) AS m4
  FROM rfm
), scored AS (
  SELECT CAST(1 + CAST(-recency_days > r1 AS INT) + CAST(-recency_days > r2 AS INT)
                + CAST(-recency_days > r3 AS INT) + CAST(-recency_days > r4 AS INT) AS INT) AS r_score,
         CAST(1 + CAST(frequency > f1 AS INT) + CAST(frequency > f2 AS INT)
                + CAST(frequency > f3 AS INT) + CAST(frequency > f4 AS INT) AS INT) AS f_score,
         CAST(1 + CAST(monetary_cents > m1 AS INT) + CAST(monetary_cents > m2 AS INT)
                + CAST(monetary_cents > m3 AS INT) + CAST(monetary_cents > m4 AS INT) AS INT) AS m_score,
         monetary_cents
  FROM rfm CROSS JOIN bounds
)
SELECT r_score, f_score, m_score,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(monetary_cents) AS BIGINT) AS seg_monetary_cents
FROM scored GROUP BY r_score, f_score, m_score
""",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary), the
    classic CRM scoring: per-customer recency-vs-corpus-anchor, order
    count, lifetime cents, each scored 1-5 by EXACT quintile-boundary
    bucketing, rolled up per (r, f, m) segment.

    Scale shape: scores come from VALUE BUCKETING against R-7
    quantile boundaries (one aggregate pass -> 12 scalars broadcast
    back -> map-side CASE), NOT from a global NTILE - a windowed NTILE
    over all customers is a single-partition sort that dies at 100 TB,
    while boundary bucketing is two shuffles total (per-customer agg +
    final segment agg) regardless of customer cardinality. Boundary
    comparisons happen on exact integers (days / counts / cents) vs
    interpolated midpoints (x.0 / x.5, exactly representable), so the
    bucket decision is bit-identical across engines."""
    c = catalog(spark, sf_dir)
    anchor = c.orders.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("_anchor")
    )
    rfm = (
        c.orders.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("_last"),
            F.count("*").alias("frequency"),
            F.sum(half_up("o_totalprice", 100))
            .cast("bigint")
            .alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            F.col("o_custkey"),
            (-F.datediff("_anchor", "_last")).alias("neg_recency"),
            "frequency",
            "monetary_cents",
        )
    )
    bounds = rfm.agg(
        *[
            F.percentile(col, F.lit(q)).alias(f"{pre}{i}")
            for pre, col in (
                ("r", "neg_recency"),
                ("f", "frequency"),
                ("m", "monetary_cents"),
            )
            for i, q in ((1, 0.2), (2, 0.4), (3, 0.6), (4, 0.8))
        ]
    )

    def score(col: str, pre: str):
        s = F.lit(1)
        for i in (1, 2, 3, 4):
            s = s + F.when(F.col(col) > F.col(f"{pre}{i}"), 1).otherwise(0)
        return s.cast("int")

    return (
        rfm.crossJoin(F.broadcast(bounds))
        .select(
            score("neg_recency", "r").alias("r_score"),
            score("frequency", "f").alias("f_score"),
            score("monetary_cents", "m").alias("m_score"),
            "monetary_cents",
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("monetary_cents").cast("bigint").alias("seg_monetary_cents"),
        )
    )


@REGISTRY.register(
    "q_concurrency_peak",
    tags=("analytics", "events"),
    oracle="""
WITH spans AS (
  SELECT user_id, CAST(ts AS DATE) AS day, MIN(ts) AS t0, MAX(ts) AS t1
  FROM events GROUP BY user_id, CAST(ts AS DATE)
), deltas AS (
  SELECT day, t0 AS t, 1 AS d FROM spans
  UNION ALL
  SELECT day, t1 AS t, -1 AS d FROM spans
), sweep AS (
  SELECT day,
         SUM(d) OVER (PARTITION BY day ORDER BY t, d DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
  FROM deltas
), peaks AS (
  SELECT day, CAST(MAX(conc) AS INT) AS peak_concurrent FROM sweep GROUP BY day
), act AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_active FROM spans GROUP BY day
)
SELECT STRFTIME(p.day, '%Y-%m-%d') AS day, p.peak_concurrent, a.n_active
FROM peaks p JOIN act a ON p.day = a.day
""",
)
def q_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent active users per day - the interval-counting
    sweep (server load / capacity planning): each user's daily activity
    span [first event, last event] becomes a +1/-1 delta pair, a
    running sum ordered by (time, +1-before--1) counts concurrent
    spans, and the per-day max is the peak.

    Scale shape: the sweep window is PARTITIONED BY day, so days sweep
    in parallel and no global sort exists; at 100 TB the same
    decomposition refines to (day, shard) partial sweeps composed by an
    exclusive prefix sum over shard totals (the q_stream_anomaly oracle
    pattern). The peak is order-invariant within timestamp ties (+1s
    group before -1s; internal tie order cannot change the running-sum
    maximum), so the result is deterministic across engines."""
    c = catalog(spark, sf_dir)
    spans = c.events.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    deltas = spans.select(
        "day", F.col("t0").alias("t"), F.lit(1).alias("d")
    ).unionAll(spans.select("day", F.col("t1").alias("t"), F.lit(-1).alias("d")))
    w = (
        Window.partitionBy("day")
        .orderBy(F.col("t"), F.col("d").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sweep = deltas.select("day", F.sum("d").over(w).alias("conc"))
    peaks = sweep.groupBy("day").agg(
        F.max("conc").cast("int").alias("peak_concurrent")
    )
    act = spans.groupBy("day").agg(F.count("*").alias("n_active"))
    return peaks.join(act, "day").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "peak_concurrent",
        "n_active",
    )


@REGISTRY.register(
    "q_abandoned_clicks",
    tags=("analytics", "events"),
    oracle="""
WITH clicks AS (
  SELECT e.event_id, CAST(e.ts AS DATE) AS day,
         EXISTS (
           SELECT 1 FROM events p
           WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
             AND p.ts >= e.ts AND p.ts <= e.ts + INTERVAL 1 HOUR
         ) AS converted
  FROM events e WHERE e.event_type = 'click'
)
SELECT STRFTIME(day, '%Y-%m-%d') AS day,
       CAST(COUNT(*) AS BIGINT) AS n_clicks,
       CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
       CAST(SUM(CASE WHEN converted THEN 0 ELSE 1 END) AS BIGINT) AS n_abandoned
FROM clicks GROUP BY day
""",
)
def q_abandoned_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cart-abandonment: clicks with no purchase by the same user within
    the following hour, per day — a TIME-BOUNDED EXISTENCE ANTI-JOIN.
    The oracle states it as a correlated EXISTS over a time range; the
    Spark plan replaces that per-row probe with ONE window pass: sort
    each user's events by descending time, keep a running MIN of
    purchase timestamps (i.e. the earliest purchase at-or-after each
    row), and compare it to click-ts + 1 h. One shuffle on user_id,
    O(n log n) per user, no self-join at all — the standard rewrite
    that survives 100 TB where an EXISTS-per-click range self-join
    re-shuffles the fact table against itself. The descending running
    min (RANGE UNBOUNDED PRECEDING) avoids Spark's O(partition^2)
    UnboundedFollowing frame evaluation. The frame must be RANGE, not
    ROWS: the oracle's EXISTS uses p.ts >= e.ts, so a purchase at the
    SAME instant as the click converts it — a ROWS frame over a
    tie-broken sort only sees same-ts purchases that happen to sort
    before the click (found by the adversarial fuzz fixture's
    duplicate (user, ts) event pairs), while RANGE's currentRow bound
    includes all peers."""
    c = catalog(spark, sf_dir)
    wd = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc())
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    next_purchase = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(wd)
    clicks = (
        c.events.withColumn("next_p", next_purchase)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("ts").cast("date").alias("day"),
            (
                F.col("next_p").isNotNull()
                & (
                    F.unix_micros("next_p")
                    <= F.unix_micros("ts") + F.lit(3_600_000_000)
                )
            ).alias("converted"),
        )
    )
    return clicks.groupBy("day").agg(
        F.count("*").alias("n_clicks"),
        F.sum(F.when(F.col("converted"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_converted"),
        F.sum(F.when(F.col("converted"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_abandoned"),
    ).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_clicks",
        "n_converted",
        "n_abandoned",
    )


@REGISTRY.register(
    "q_interpurchase_gap",
    tags=("analytics", "orders"),
    oracle="""
WITH seq AS (
  SELECT o_custkey,
         DATEDIFF('day',
                  LAG(CAST(o_orderdate AS DATE)) OVER (
                    PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey),
                  CAST(o_orderdate AS DATE)) AS gap_days
  FROM orders
), gaps AS (SELECT * FROM seq WHERE gap_days IS NOT NULL)
SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_repeat_customers,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       quantile_cont(gap_days, 0.25) AS p25_gap_days,
       quantile_cont(gap_days, 0.50) AS p50_gap_days,
       quantile_cont(gap_days, 0.75) AS p75_gap_days,
       CAST(MAX(gap_days) AS BIGINT) AS max_gap_days
FROM gaps
""",
)
def q_interpurchase_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase interval distribution: per-customer LAG over the
    order sequence gives day gaps between consecutive orders; quartiles
    + max summarize the re-purchase cadence (the input to churn and
    next-order-date models).

    One shuffle on o_custkey for the LAG, then a single global
    aggregate over order-cardinality rows. Quantile fractions are
    dyadic (0.25 / 0.5 / 0.75), so R-7 interpolation a + g*(b-a) over
    integer day gaps is EXACTLY representable in binary on both
    engines — the emitted doubles are bit-identical, no rounding
    needed."""
    c = catalog(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = c.orders.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    return seq.agg(
        F.countDistinct("o_custkey").alias("n_repeat_customers"),
        F.count("*").alias("n_gaps"),
        F.percentile("gap_days", F.lit(0.25)).alias("p25_gap_days"),
        F.percentile("gap_days", F.lit(0.50)).alias("p50_gap_days"),
        F.percentile("gap_days", F.lit(0.75)).alias("p75_gap_days"),
        F.max("gap_days").cast("bigint").alias("max_gap_days"),
    )


@REGISTRY.register(
    "q_seasonal_decompose",
    tags=("analytics", "events"),
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY CAST(ts AS DATE)
), trend AS (
  SELECT day, cents,
         SUM(cents) OVER w AS ma7_x7,
         COUNT(*) OVER w AS n_win
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), detrended AS (
  SELECT DATEDIFF('day', DATE '1970-01-01', day) % 7 AS dow,
         7 * cents - ma7_x7 AS resid_x7
  FROM trend WHERE n_win = 7
)
SELECT dow,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(resid_x7) AS BIGINT) AS resid_x7_sum,
       SUM(resid_x7) * 1.0 / (7 * COUNT(*) * 100) AS seasonal_index
FROM detrended GROUP BY dow
""",
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal decomposition (STL-lite) of the daily revenue series:
    trend = centered 7-day moving average, seasonal = day-of-week mean
    of the detrended residual — the trend/seasonality split behind
    forecasting and anomaly baselines.

    Integer-state discipline end to end: cents are BIGINT, the moving
    average is kept UNDIVIDED as a x7 window sum, the residual
    7*cents - ma_x7 stays BIGINT-exact, and the only float division
    happens ONCE on identical BIGINT inputs — so even the double
    seasonal index is bit-identical across engines. Day-of-week is
    epoch-day mod 7 (engine-neutral; no locale-dependent dayofweek).
    The window is a tiny per-day series (days-cardinality), ordered
    once; at 100 TB the daily rollup is the only big shuffle."""
    c = catalog(spark, sf_dir)
    daily = c.events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(half_up("value", 100))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    trend = daily.select(
        "day",
        "cents",
        F.sum("cents").over(w).alias("ma7_x7"),
        F.count("*").over(w).alias("n_win"),
    )
    detr = trend.filter(F.col("n_win") == 7).select(
        (F.datediff("day", F.lit("1970-01-01").cast("date")) % 7).alias("dow"),
        (F.lit(7) * F.col("cents") - F.col("ma7_x7")).alias("resid_x7"),
    )
    return detr.groupBy("dow").agg(
        F.count("*").alias("n_days"),
        F.sum("resid_x7").cast("bigint").alias("resid_x7_sum"),
        (
            F.sum("resid_x7") / (F.lit(7) * F.count("*") * F.lit(100))
        ).alias("seasonal_index"),
    )


@REGISTRY.register(
    "q_segment_migration",
    tags=("analytics", "events"),
    oracle="""
WITH bounds AS (
  SELECT MIN(ts) AS t0, MAX(ts) AS t1 FROM events
), halves AS (
  SELECT user_id,
         CASE WHEN epoch_us(ts) - epoch_us(t0)
                   < (epoch_us(t1) - epoch_us(t0)) / 2
              THEN 0 ELSE 1 END AS half,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events CROSS JOIN bounds
), per_user AS (
  SELECT user_id, half, CAST(SUM(cents) AS BIGINT) AS cents
  FROM halves GROUP BY user_id, half
), q AS (
  SELECT half, quantile_cont(cents, 0.5) AS med FROM per_user GROUP BY half
), seg AS (
  SELECT p.user_id, p.half,
         CASE WHEN p.cents > q.med THEN 'hi' ELSE 'lo' END AS tier
  FROM per_user p JOIN q ON p.half = q.half
), mig AS (
  SELECT a.tier AS tier_h1, b.tier AS tier_h2
  FROM seg a JOIN seg b ON a.user_id = b.user_id
  WHERE a.half = 0 AND b.half = 1
)
SELECT tier_h1, tier_h2, CAST(COUNT(*) AS BIGINT) AS n_users
FROM mig GROUP BY tier_h1, tier_h2
""",
)
def q_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer segment migration: users tiered hi/lo by spend vs the
    per-period MEDIAN in each half of the observation window, then the
    2x2 transition matrix of who moved — the cohort-dynamics view
    behind churn-risk and upsell targeting.

    Tiering is value-vs-broadcast-boundary (the q_rfm_segments
    discipline — no global NTILE), the two halves are one pass with a
    broadcast time-bounds scalar, and the migration join is
    user-keyed. Cents are exact BIGINTs; the median boundary is an
    R-7 midpoint (x.0/x.5, exactly representable), so tier decisions
    are bit-identical across engines."""
    c = catalog(spark, sf_dir)
    bounds = c.events.agg(
        F.min("ts").alias("t0"), F.max("ts").alias("t1")
    )
    halves = c.events.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        F.when(
            (F.unix_micros("ts") - F.unix_micros("t0"))
            < (F.unix_micros("t1") - F.unix_micros("t0")) / 2,
            0,
        )
        .otherwise(1)
        .alias("half"),
        half_up("value", 100).alias("cents"),
    )
    per_user = halves.groupBy("user_id", "half").agg(
        F.sum("cents").cast("bigint").alias("cents")
    )
    q = per_user.groupBy("half").agg(
        F.percentile("cents", F.lit(0.5)).alias("med")
    )
    seg = per_user.join(F.broadcast(q), "half").select(
        "user_id",
        "half",
        F.when(F.col("cents") > F.col("med"), "hi").otherwise("lo").alias("tier"),
    )
    a = seg.filter(F.col("half") == 0).select("user_id", F.col("tier").alias("tier_h1"))
    b = seg.filter(F.col("half") == 1).select("user_id", F.col("tier").alias("tier_h2"))
    return (
        a.join(b, "user_id")
        .groupBy("tier_h1", "tier_h2")
        .agg(F.count("*").alias("n_users"))
    )


@REGISTRY.register(
    "q_cohort_ltv",
    tags=("analytics", "events"),
    oracle="""
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
  FROM events GROUP BY user_id
), daily AS (
  SELECT e.user_id, f.cohort_day,
         DATEDIFF('day', f.cohort_day, CAST(e.ts AS DATE)) AS age,
         CAST(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM events e JOIN firsts f ON e.user_id = f.user_id
  GROUP BY e.user_id, f.cohort_day, DATEDIFF('day', f.cohort_day, CAST(e.ts AS DATE))
), cum AS (
  SELECT cohort_day, age,
         SUM(SUM(cents)) OVER (PARTITION BY cohort_day ORDER BY age
                               ROWS UNBOUNDED PRECEDING) AS cum_cents
  FROM daily GROUP BY cohort_day, age
), sizes AS (
  SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_n FROM firsts GROUP BY cohort_day
)
SELECT STRFTIME(c.cohort_day, '%Y-%m-%d') AS cohort, c.age,
       CAST(c.cum_cents AS BIGINT) AS cum_cents,
       CAST(FLOOR(CAST(c.cum_cents AS DOUBLE) / s.cohort_n) AS BIGINT)
         AS ltv_cents_per_user
FROM cum c JOIN sizes s ON c.cohort_day = s.cohort_day
WHERE c.age <= 7
""",
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: cumulative spend per signup-day
    cohort by cohort age (days since first touch), normalized per
    cohort member — the LTV trajectory behind payback-period and
    cohort-quality decisions (q_retention counts WHO is active; this
    accumulates WHAT they spend).

    One shuffle to find first-touch days, one join back (both
    user-keyed — AQE reuses the partitioning), the cumulative sum is
    windowed PER COHORT (parallel across cohorts, never global), and
    cents stay BIGINT until one floored division by the broadcast
    cohort size."""
    c = catalog(spark, sf_dir)
    ev = c.events.select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        half_up("value", 100).alias("cents"),
    )
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    daily = (
        ev.join(firsts, "user_id")
        .groupBy(
            "user_id", "cohort_day", F.datediff("day", "cohort_day").alias("age")
        )
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    per_age = daily.groupBy("cohort_day", "age").agg(
        F.sum("cents").alias("age_cents")
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_age.select(
        "cohort_day", "age", F.sum("age_cents").over(w).alias("cum_cents")
    )
    sizes = firsts.groupBy("cohort_day").agg(F.count("*").alias("cohort_n"))
    return (
        cum.filter(F.col("age") <= 7)
        .join(F.broadcast(sizes), "cohort_day")
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"),
            "age",
            F.col("cum_cents").cast("bigint").alias("cum_cents"),
            F.floor(
                F.col("cum_cents").cast("double") / F.col("cohort_n")
            )
            .cast("bigint")
            .alias("ltv_cents_per_user"),
        )
    )


@REGISTRY.register(
    "q_rolling_wau",
    tags=("analytics", "events"),
    oracle="""
WITH grid AS (
  SELECT unnest(generate_series(CAST((SELECT MIN(ts) FROM events) AS DATE),
                                CAST((SELECT MAX(ts) FROM events) AS DATE),
                                INTERVAL 1 DAY))::DATE AS day
), active AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
)
SELECT STRFTIME(g.day, '%Y-%m-%d') AS day,
       CAST((SELECT COUNT(DISTINCT a.user_id) FROM active a
             WHERE a.day BETWEEN g.day - 6 AND g.day) AS BIGINT) AS wau
FROM grid g
""",
)
def q_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users (WAU) for every day of the
    observation range — the growth metric whose naive form is a
    sliding COUNT(DISTINCT) no engine executes cheaply. The Spark plan
    replaces it with the interval-union decomposition: per user, merge
    active days into gap<=6 ISLANDS (two islands 7+ days apart can
    never share a window), each island covers days [start, end+6] in
    the WAU sense, so +1/-1 deltas at island boundaries and one
    running sum over the DAY-cardinality grid give every day's exact
    distinct count without any per-day distinct at all.

    Shapes: one user-keyed shuffle (islands), one day-keyed delta
    aggregation, and a running sum over ~date-range rows (tiny by
    construction; shard it by month with carry-in partials if the
    range were years — the q_stream_anomaly composition). The oracle
    states the quadratic per-day DISTINCT definition directly."""
    c = catalog(spark, sf_dir)
    active = c.events.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    wl = Window.partitionBy("user_id").orderBy("day")
    brk = F.when(
        F.lag("day").over(wl).isNull()
        | (F.datediff("day", F.lag("day").over(wl)) > 6),
        1,
    ).otherwise(0)
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = (
        active.withColumn("brk", brk)
        .withColumn("isl", F.sum("brk").over(wrun))
        .groupBy("user_id", "isl")
        .agg(F.min("day").alias("start"), F.max("day").alias("end"))
    )
    deltas = islands.select(
        F.col("start").alias("day"), F.lit(1).alias("d")
    ).unionAll(
        islands.select(F.date_add("end", 7).alias("day"), F.lit(-1).alias("d"))
    )
    per_day = deltas.groupBy("day").agg(F.sum("d").alias("d"))
    bounds = c.events.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    grid = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    wg = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        grid.join(per_day, "day", "left")
        .select("day", F.coalesce(F.col("d"), F.lit(0)).alias("d"))
        .select("day", F.sum("d").over(wg).cast("bigint").alias("wau"))
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "wau")
    )


@REGISTRY.register(
    "q_market_hhi",
    tags=("analytics", "orders"),
    oracle="""
WITH rev AS (
  SELECT r_name,
         n_name,
         CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)) AS BIGINT)
           AS dollars
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name
), tot AS (
  SELECT r_name, CAST(SUM(dollars) AS BIGINT) AS total FROM rev GROUP BY r_name
)
SELECT rev.r_name,
       CAST(COUNT(*) AS BIGINT) AS n_nations,
       CAST(FLOOR(SUM(
         (CAST(rev.dollars AS DOUBLE) / tot.total)
         * (CAST(rev.dollars AS DOUBLE) / tot.total)
         * 1000000 ORDER BY rev.n_name)) AS BIGINT) AS hhi_micro
FROM rev JOIN tot ON rev.r_name = tot.r_name
GROUP BY rev.r_name, tot.total
""",
)
def q_market_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market-concentration index per region: sum
    of squared nation revenue shares (10,000 x in micro units) — the
    antitrust/concentration statistic complementing Gini and top-share.

    Shares are exact integer dollars over the broadcast region total;
    the share-squared SUM is over at most 25 nations per region and is
    accumulated in a DETERMINISTIC order (ORDER BY inside the oracle
    aggregate; a sorted array fold on the Spark side) so the float sum
    cannot vary with plan parallelism. Star join = three broadcast
    dims; one shuffle on (region, nation)."""
    c = catalog(spark, sf_dir)
    rev = (
        c.orders.join(
            F.broadcast(c.customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(c.nation.select("n_nationkey", "n_name", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(c.region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(half_up("o_totalprice"))
            .cast("bigint")
            .alias("dollars")
        )
    )
    tot = rev.groupBy("r_name").agg(F.sum("dollars").cast("bigint").alias("total"))
    share2 = lambda s: (
        F.col(s).getField("dollars").cast("double") / F.col("total")
    ) * (F.col(s).getField("dollars").cast("double") / F.col("total"))
    # fold shares in n_name order so the double sum has ONE evaluation
    # order on both engines regardless of partitioning
    return (
        rev.join(F.broadcast(tot), "r_name")
        .groupBy("r_name", "total")
        .agg(
            F.count("*").alias("n_nations"),
            F.array_sort(
                F.collect_list(F.struct("n_name", "dollars"))
            ).alias("_shares"),
        )
        .select(
            "r_name",
            "n_nations",
            F.floor(
                F.aggregate(
                    "_shares",
                    F.lit(0.0),
                    lambda acc, s: acc
                    + (s.getField("dollars").cast("double") / F.col("total"))
                    * (s.getField("dollars").cast("double") / F.col("total"))
                    * 1000000,
                )
            )
            .cast("bigint")
            .alias("hhi_micro"),
        )
    )


@REGISTRY.register(
    "q_return_rates",
    tags=("analytics", "quality"),
    oracle="""
WITH r AS (
  SELECT p_brand,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS ret
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
)
SELECT p_brand, n, ret,
       CAST(FLOOR(CAST(ret AS DOUBLE) / n * 1000000) AS BIGINT) AS rate_ppm,
       CAST(FLOOR(
         ((CAST(ret AS DOUBLE) / n + 3.8416 / (2 * n))
          / (1 + 3.8416 / n)
          - 1.96 * sqrt(CAST(ret AS DOUBLE) / n * (1 - CAST(ret AS DOUBLE) / n) / n
                        + 3.8416 / (4 * CAST(n AS DOUBLE) * n))
            / (1 + 3.8416 / n)) * 1000000) AS BIGINT) AS wilson_lo_ppm,
       CAST(FLOOR(
         ((CAST(ret AS DOUBLE) / n + 3.8416 / (2 * n))
          / (1 + 3.8416 / n)
          + 1.96 * sqrt(CAST(ret AS DOUBLE) / n * (1 - CAST(ret AS DOUBLE) / n) / n
                        + 3.8416 / (4 * CAST(n AS DOUBLE) * n))
            / (1 + 3.8416 / n)) * 1000000) AS BIGINT) AS wilson_hi_ppm
FROM r
""",
)
def q_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-rate monitoring per brand with WILSON 95% score intervals
    — the proportion-with-uncertainty readout that ranks small-n
    brands honestly (a raw rate over 50 lineitems is noise; the Wilson
    lower bound is the sortable quality signal, same statistic that
    powers rating rankers).

    One broadcast part join + one brand aggregation; the interval is a
    closed-form expression of the two exact integers (n, returns)
    written IDENTICALLY on both engines and floored to ppm, so the
    uncertainty math itself is hash-checked."""
    c = catalog(spark, sf_dir)
    r = (
        c.lineitem.join(
            F.broadcast(c.part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("ret"),
        )
    )
    p = F.col("ret").cast("double") / F.col("n")
    z2 = F.lit(3.8416)
    denom = 1 + z2 / F.col("n")
    center = (p + z2 / (2 * F.col("n"))) / denom
    half = (
        F.lit(1.96)
        * F.sqrt(
            p * (1 - p) / F.col("n")
            + z2 / (4 * F.col("n").cast("double") * F.col("n"))
        )
        / denom
    )
    ppm = lambda col, alias: F.floor(col * 1000000).cast("bigint").alias(alias)
    return r.select(
        "p_brand",
        "n",
        "ret",
        ppm(p, "rate_ppm"),
        ppm(center - half, "wilson_lo_ppm"),
        ppm(center + half, "wilson_hi_ppm"),
    )


@REGISTRY.register(
    "q_ship_sla",
    tags=("analytics", "orders"),
    oracle="""
WITH lags AS (
  SELECT o_orderpriority,
         DATEDIFF('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
           AS lag_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       quantile_cont(lag_days, 0.5) AS p50_days,
       quantile_cont(lag_days, 0.75) AS p75_days,
       CAST(MAX(lag_days) AS BIGINT) AS max_days,
       CAST(SUM(CASE WHEN lag_days > 60 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_breach_60d
FROM lags GROUP BY o_orderpriority
""",
)
def q_ship_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship SLA distribution per priority class: day lags from
    order date to each lineitem's ship date, with dyadic quantiles
    (bit-exact doubles), the max, and a 60-day breach count — the
    fulfillment-latency readout an operations team pages on.

    One fact-to-fact equi-join on the order key (both sides already
    keyed; AQE picks the strategy) and one priority-level aggregation
    of integer day lags."""
    c = catalog(spark, sf_dir)
    lags = c.lineitem.join(
        c.orders.select("o_orderkey", "o_orderpriority", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select(
        "o_orderpriority",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("lag_days"),
    )
    return lags.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.percentile("lag_days", F.lit(0.5)).alias("p50_days"),
        F.percentile("lag_days", F.lit(0.75)).alias("p75_days"),
        F.max("lag_days").cast("bigint").alias("max_days"),
        F.sum(F.when(F.col("lag_days") > 60, 1).otherwise(0))
        .cast("bigint")
        .alias("n_breach_60d"),
    )


@REGISTRY.register(
    "q_attribution_ushape",
    tags=("analytics", "attribution"),
    oracle="""
WITH fp AS MATERIALIZED (
  SELECT user_id, MIN(ts) AS pts FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
), touches AS MATERIALIZED (
  SELECT e.user_id, e.event_type,
         ROW_NUMBER() OVER (PARTITION BY e.user_id
                            ORDER BY e.ts, e.event_id) AS pos,
         COUNT(*) OVER (PARTITION BY e.user_id) AS n
  FROM events e JOIN fp ON e.user_id = fp.user_id
  WHERE e.ts < fp.pts AND e.event_type <> 'purchase'
), credit AS MATERIALIZED (
  SELECT event_type,
         CASE WHEN n = 1 THEN 1000000
              WHEN pos = 1 OR pos = n THEN
                CASE WHEN n = 2 THEN 500000 ELSE 400000 END
              ELSE CAST(FLOOR(200000.0 / (n - 2)) AS BIGINT) END AS w
  FROM touches
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(w) AS BIGINT) AS credit_ppm
FROM credit GROUP BY event_type
""",
)
def q_attribution_ushape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution: each user's
    pre-first-purchase journey credits 40% to the first touch, 40% to
    the last, and splits 20% across the middles — the standard
    position-weighted model completing the first/last-touch pair in
    q_attribution_touch. Credits are integer ppm (documented floor on
    the middle share), so channel totals aggregate exactly.

    One user-keyed shuffle: the first-purchase timestamp joins back
    user-keyed (AQE reuses the partitioning), positions and journey
    lengths come from one window pass, credit is a map-side CASE."""
    c = catalog(spark, sf_dir)
    fp = (
        c.events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("pts"))
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    touches = (
        c.events.join(fp, "user_id")
        .filter((F.col("ts") < F.col("pts")) & (F.col("event_type") != "purchase"))
        .select(
            "user_id",
            "event_type",
            F.row_number().over(w).alias("pos"),
            F.count("*").over(Window.partitionBy("user_id")).alias("n"),
        )
    )
    credit = touches.select(
        "event_type",
        F.when(F.col("n") == 1, 1000000)
        .when(
            (F.col("pos") == 1) | (F.col("pos") == F.col("n")),
            F.when(F.col("n") == 2, 500000).otherwise(400000),
        )
        .otherwise(
            F.floor(F.lit(200000.0) / (F.col("n") - 2)).cast("bigint")
        )
        .cast("bigint")
        .alias("w"),
    )
    return credit.groupBy("event_type").agg(
        F.count("*").alias("n_touches"),
        F.sum("w").cast("bigint").alias("credit_ppm"),
    )


@REGISTRY.register(
    "q_new_vs_returning",
    tags=("analytics", "events"),
    oracle="""
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
  FROM events GROUP BY user_id
)
SELECT STRFTIME(CAST(e.ts AS DATE), '%Y-%m-%d') AS day,
       CAST(SUM(CASE WHEN CAST(e.ts AS DATE) = f.first_day THEN 1 ELSE 0 END)
            AS BIGINT) AS new_events,
       CAST(SUM(CASE WHEN CAST(e.ts AS DATE) <> f.first_day THEN 1 ELSE 0 END)
            AS BIGINT) AS returning_events,
       CAST(SUM(CASE WHEN CAST(e.ts AS DATE) = f.first_day
                THEN CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT) ELSE 0 END)
            AS BIGINT) AS new_cents,
       CAST(SUM(CASE WHEN CAST(e.ts AS DATE) <> f.first_day
                THEN CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT) ELSE 0 END)
            AS BIGINT) AS returning_cents
FROM events e JOIN firsts f ON e.user_id = f.user_id
GROUP BY CAST(e.ts AS DATE)
""",
)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning split per day: every event classified by
    whether it falls on its user's first-seen day, with event counts
    and exact cents on each side — the acquisition-vs-retention lens
    on daily activity (q_retention counts cohort survival; this splits
    the day's volume and revenue).

    One user-keyed shuffle for first-touch days, a user-keyed join
    back (AQE reuses the partitioning), one day rollup — all tallies
    BIGINT."""
    c = catalog(spark, sf_dir)
    ev = c.events.select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        half_up("value", 100).alias("cents"),
    )
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    is_new = F.col("day") == F.col("first_day")
    return (
        ev.join(firsts, "user_id")
        .groupBy("day")
        .agg(
            F.sum(F.when(is_new, 1).otherwise(0)).cast("bigint").alias("new_events"),
            F.sum(F.when(~is_new, 1).otherwise(0))
            .cast("bigint")
            .alias("returning_events"),
            F.sum(F.when(is_new, F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("new_cents"),
            F.sum(F.when(~is_new, F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("returning_cents"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "new_events",
            "returning_events",
            "new_cents",
            "returning_cents",
        )
    )


@REGISTRY.register(
    "q_abc_classification",
    tags=("analytics", "orders"),
    oracle="""
WITH rev AS (
  SELECT p_brand,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                       AS BIGINT)) AS BIGINT) AS rev_tc
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
), ranked AS (
  SELECT p_brand, rev_tc,
         SUM(rev_tc) OVER (ORDER BY rev_tc DESC, p_brand
                           ROWS UNBOUNDED PRECEDING) AS cum_tc,
         SUM(rev_tc) OVER () AS total_tc
  FROM rev
), classed AS (
  SELECT p_brand, rev_tc,
         CASE WHEN cum_tc * 100 <= total_tc * 80 THEN 'A'
              WHEN cum_tc * 100 <= total_tc * 95 THEN 'B'
              ELSE 'C' END AS klass
  FROM ranked
)
SELECT klass,
       CAST(COUNT(*) AS BIGINT) AS n_brands,
       CAST(SUM(rev_tc) AS BIGINT) AS class_rev_tc
FROM classed GROUP BY klass
""",
)
def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of brands by revenue: A = brands in
    the first 80% of cumulative revenue, B to 95%, C the tail — the
    inventory-management / assortment-planning classifier.

    Revenue folds in BIGINT tenth-cents; the cumulative window runs
    over the BRAND-cardinality rollup (at 100 TB the brand table is
    thousands of rows — the single-partition cumulative is over the
    agg, never the fact table), and the 80/95 cuts are exact integer
    cross-multiplications, so class boundaries cannot float."""
    c = catalog(spark, sf_dir)
    rev = (
        c.lineitem.join(
            F.broadcast(c.part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.sum(half_up(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000))
            .cast("bigint")
            .alias("rev_tc")
        )
    )
    wcum = Window.orderBy(F.col("rev_tc").desc(), "p_brand").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wtot = Window.partitionBy()
    ranked = rev.select(
        "p_brand",
        "rev_tc",
        F.sum("rev_tc").over(wcum).alias("cum_tc"),
        F.sum("rev_tc").over(wtot).alias("total_tc"),
    )
    klass = (
        F.when(F.col("cum_tc") * 100 <= F.col("total_tc") * 80, "A")
        .when(F.col("cum_tc") * 100 <= F.col("total_tc") * 95, "B")
        .otherwise("C")
    )
    return (
        ranked.select(klass.alias("klass"), "rev_tc")
        .groupBy("klass")
        .agg(
            F.count("*").alias("n_brands"),
            F.sum("rev_tc").cast("bigint").alias("class_rev_tc"),
        )
    )


@REGISTRY.register(
    "q_retention_halflife",
    tags=("analytics", "events"),
    oracle="""
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id
), act AS (
  SELECT DISTINCT e.user_id,
         DATEDIFF('day', f.cohort_day, CAST(e.ts AS DATE)) AS k
  FROM events e JOIN firsts f ON e.user_id = f.user_id
), counts AS (
  SELECT k, ln(CAST(COUNT(*) AS DOUBLE)) AS lnn
  FROM act WHERE k BETWEEN 1 AND 7 GROUP BY k
), arr AS (
  SELECT list(lnn ORDER BY k) AS l FROM counts
), sums AS (
  SELECT list_reduce(l, (a, b) -> a + b) AS sy,
         list_reduce(list_transform(generate_series(1, 7), i -> i * l[i]),
                     (a, b) -> a + b) AS sxy,
         len(l) AS n_pts
  FROM arr
)
SELECT CAST(n_pts AS BIGINT) AS n_offsets,
       CAST(FLOOR((7 * sxy - 28 * sy) / 196 * 1000000) AS BIGINT)
         AS slope_micro,
       CASE WHEN (7 * sxy - 28 * sy) / 196 >= 0 THEN NULL
            ELSE CAST(FLOOR(-ln(2) / ((7 * sxy - 28 * sy) / 196) * 1000)
                      AS BIGINT) END AS halflife_millidays
FROM sums
""",
)
def q_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention half-life: fit ln(active users at cohort-age k) over
    k = 1..7 by least squares and convert the decay slope to the days
    until activity halves — the single churn-speed number product
    teams track (q_retention gives the curve; this fits it).

    The regression sums fold over a k-ORDERED array (one float
    evaluation order on both engines — the q_market_hhi discipline);
    x-side moments are closed-form integers (Σx=28, Σxx=140). A
    non-negative slope (no decay) yields NULL rather than a nonsense
    negative half-life."""
    c = catalog(spark, sf_dir)
    ev = c.events.select("user_id", F.col("ts").cast("date").alias("day"))
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    act = (
        ev.join(firsts, "user_id")
        .select("user_id", F.datediff("day", "cohort_day").alias("k"))
        .distinct()
    )
    counts = (
        act.filter((F.col("k") >= 1) & (F.col("k") <= 7))
        .groupBy("k")
        .agg(F.log(F.count("*").cast("double")).alias("lnn"))
    )
    arr = counts.agg(
        F.array_sort(F.collect_list(F.struct("k", "lnn"))).alias("pairs")
    ).select(
        F.transform("pairs", lambda p: p.getField("lnn")).alias("l")
    )
    sums = arr.select(
        F.aggregate("l", F.lit(0.0), lambda a, b: a + b).alias("sy"),
        F.aggregate(
            F.transform("l", lambda x, i: (i + 1) * x),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("sxy"),
        F.size("l").alias("n_pts"),
    )
    slope = (7 * F.col("sxy") - 28 * F.col("sy")) / 196
    # degenerate-input parity (fuzz): with NO k in 1..7 the oracle's
    # list() is NULL, so every output is NULL (len(NULL), reduce over
    # NULL); with FEWER than 7 offsets its l[i] lookups go out of
    # bounds -> NULL sxy -> NULL slope/halflife while n_offsets stays
    # the count. The closed-form x-moments (28, 196) assume exactly 7
    # points, so NULL is also the honest answer there.
    full = F.col("n_pts") == 7
    return sums.select(
        F.when(F.col("n_pts") == 0, F.lit(None).cast("bigint"))
        .otherwise(F.col("n_pts").cast("bigint"))
        .alias("n_offsets"),
        F.when(full, F.floor(slope * 1000000).cast("bigint")).alias(
            "slope_micro"
        ),
        F.when(
            full & (slope < 0),
            F.floor(-F.log(F.lit(2.0)) / slope * 1000).cast("bigint"),
        ).alias("halflife_millidays"),
    )


@REGISTRY.register(
    "q_percent_of_parent",
    tags=("analytics", "hierarchy"),
    oracle="""
WITH rev AS (
  SELECT r_name, n_name,
         CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)) AS BIGINT)
           AS dollars
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name
)
SELECT r_name, n_name, dollars,
       (dollars * 1000000) // CAST(SUM(dollars) OVER (PARTITION BY r_name) AS BIGINT)
         AS share_of_region_micro,
       (dollars * 1000000) // CAST(SUM(dollars) OVER () AS BIGINT)
         AS share_of_total_micro
FROM rev
""",
)
def q_percent_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical percent-of-parent: each nation's revenue share of
    its region and of the grand total, in exact integer micro-units
    (floor division of BIGINT dollars — no float anywhere, so the
    driver hash-matches with zero tolerance; dollars*1e6 stays well
    under 2^63 up to ~9.2e12 total dollars, i.e. far past 100 TB).

    Scale shape: the star join is three broadcast dims + one shuffle
    on (region, nation); the window sums then run over the TINY
    aggregated table (<=125 rows at any scale — the rollup domain is
    fixed by the dimension hierarchy, not the fact table), so the
    unpartitioned total window is a non-issue."""
    c = catalog(spark, sf_dir)
    rev = (
        c.orders.join(
            F.broadcast(c.customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(c.nation.select("n_nationkey", "n_name", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(c.region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(half_up("o_totalprice"))
            .cast("bigint")
            .alias("dollars")
        )
    )
    return rev.select(
        "r_name",
        "n_name",
        "dollars",
        F.expr(
            "(dollars * 1000000) div sum(dollars) over (partition by r_name)"
        ).alias("share_of_region_micro"),
        F.expr("(dollars * 1000000) div sum(dollars) over ()").alias(
            "share_of_total_micro"
        ),
    )


@REGISTRY.register(
    "q_log2_histogram",
    tags=("analytics", "profiling"),
    oracle="""
SELECT LENGTH(PRINTF('%b', CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)))
         AS bucket_bits,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS min_cents,
       CAST(MAX(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS max_cents
FROM orders
GROUP BY bucket_bits
""",
)
def q_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact log2 (doubling-bucket) histogram of order totals: the
    bucket is the BIT LENGTH of the cents value (length of its binary
    representation), so bucket boundaries are exact powers of two with
    zero floating-point edge ambiguity — the drift-proof way to build
    log-scale profiles (floor(log2(x)) flips at boundaries when libm
    rounding differs between engines; string-length-of-binary cannot).

    Scale shape: pure map + one groupBy on a ~20-value key with
    map-side partial aggregation — the profile of a 100 TB column
    costs one scan and a few hundred shuffled bytes."""
    c = catalog(spark, sf_dir)
    cents = half_up("o_totalprice", 100)
    return (
        c.orders.select(
            F.length(F.bin(cents)).cast("bigint").alias("bucket_bits"),
            cents.alias("cents"),
        )
        .groupBy("bucket_bits")
        .agg(
            F.count("*").alias("n"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
    )


@REGISTRY.register(
    "q_event_type_affinity",
    tags=("analytics", "events", "cooccurrence"),
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type FROM events
), sz AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM ud GROUP BY event_type
), inter AS (
  SELECT a.event_type AS ta, b.event_type AS tb,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM ud a
  JOIN ud b ON a.user_id = b.user_id AND a.day = b.day
           AND a.event_type < b.event_type
  GROUP BY ta, tb
)
SELECT ta, tb, n_both,
       (n_both * 1000000) // (sa.n + sb.n - n_both) AS jaccard_micro
FROM inter
JOIN sz sa ON ta = sa.event_type
JOIN sz sb ON tb = sb.event_type
""",
)
def q_event_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral co-occurrence: Jaccard affinity between event-type
    pairs over (user, day) activity sets — the market-basket shape on
    an activity log (which behaviors happen in the same user-day).

    Exact: set sizes and intersections are BIGINT counts of DISTINCT
    (user, day, type) triples; Jaccard is emitted in floor-division
    micro-units, so the hash matches with zero tolerance. Date
    derivation is ns/us-truncation-safe (day boundaries are far from
    sub-second drift).

    Scale shape: the self-join is keyed on (user_id, day) — a
    fine-grained key whose per-group width is bounded by the type
    domain (|types| per user-day), so the join output is at most
    |types|^2/2 rows per user-day, never quadratic in events. Type
    sizes are a tiny broadcast. One distinct-shuffle + one keyed
    self-join shuffle."""
    c = catalog(spark, sf_dir)
    ud = c.events.select(
        "user_id", F.to_date("ts").alias("day"), "event_type"
    ).distinct()
    sz = ud.groupBy("event_type").agg(F.count("*").cast("bigint").alias("n"))
    a = ud.alias("a")
    b = ud.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("ta"),
            F.col("b.event_type").alias("tb"),
        )
        .agg(F.count("*").cast("bigint").alias("n_both"))
    )
    return (
        inter.join(
            F.broadcast(sz.withColumnRenamed("event_type", "ta").withColumnRenamed("n", "na")),
            "ta",
        )
        .join(
            F.broadcast(sz.withColumnRenamed("event_type", "tb").withColumnRenamed("n", "nb")),
            "tb",
        )
        .select(
            "ta",
            "tb",
            "n_both",
            F.expr("(n_both * 1000000) div (na + nb - n_both)").alias(
                "jaccard_micro"
            ),
        )
    )


@REGISTRY.register(
    "q_apportion_seats",
    tags=("analytics", "allocation"),
    oracle="""
WITH cnt AS (
  SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_customers
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
), t AS (
  SELECT CAST(SUM(n_customers) AS BIGINT) AS total FROM cnt
), q AS (
  SELECT n_name, n_customers,
         (n_customers * 1000) // total AS base,
         (n_customers * 1000) % total AS rem
  FROM cnt, t
), l AS (
  SELECT CAST(1000 - SUM(base) AS BIGINT) AS leftover FROM q
), r AS (
  SELECT n_name, n_customers, base,
         ROW_NUMBER() OVER (ORDER BY rem DESC, n_name) AS rk
  FROM q
)
SELECT n_name, n_customers,
       CAST(base + CASE WHEN rk <= l.leftover THEN 1 ELSE 0 END AS BIGINT)
         AS seats
FROM r, l
""",
)
def q_apportion_seats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment: allocate exactly
    1000 sampling slots across nations proportionally to customer
    count — the canonical exact-integer proportional-allocation
    operator (quota floors + remainder-ranked top-ups), used for
    stratified sampling budgets and shard sizing.

    Exact by construction: quotas are BIGINT floor-division, the
    remainder ranking is ROW_NUMBER with a total-order tie-break
    (rem DESC, name), so seats sum to exactly 1000 and the driver
    hash-matches integers only.

    Scale shape: one broadcast-dim groupBy on the fact side; every
    window/cross step after that runs on the <=25-row nation rollup
    (the unpartitioned window is over the dimension domain, not
    data)."""
    c = catalog(spark, sf_dir)
    cnt = (
        c.customer.join(
            F.broadcast(c.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(F.count("*").cast("bigint").alias("n_customers"))
    )
    t = cnt.agg(F.sum("n_customers").cast("bigint").alias("total"))
    q = cnt.crossJoin(F.broadcast(t)).select(
        "n_name",
        "n_customers",
        F.expr("(n_customers * 1000) div total").alias("base"),
        F.expr("(n_customers * 1000) % total").alias("rem"),
    )
    leftover = q.agg(
        (F.lit(1000) - F.sum("base")).cast("bigint").alias("leftover")
    )
    rk = q.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("rem").desc(), F.col("n_name"))
        ),
    )
    return rk.crossJoin(F.broadcast(leftover)).select(
        "n_name",
        "n_customers",
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("seats"),
    )


@REGISTRY.register(
    "q_revenue_bridge",
    tags=("analytics", "finance"),
    oracle="""
WITH per AS (
  SELECT p_brand,
         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)) AS BIGINT))
              AS BIGINT) AS dollars
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  WHERE EXTRACT(year FROM o_orderdate) IN (1997, 1998)
  GROUP BY p_brand, yr
), w AS (
  SELECT a.p_brand,
         a.qty AS q1, a.dollars AS r1, b.qty AS q2, b.dollars AS r2
  FROM per a JOIN per b ON a.p_brand = b.p_brand
  WHERE a.yr = 1997 AND b.yr = 1998
)
SELECT p_brand, r1, r2, (r2 - r1) * 1000 AS delta_milli,
       ((q2 - q1) * r1 * 1000) // q1 AS volume_effect_milli,
       (r2 - r1) * 1000 - ((q2 - q1) * r1 * 1000) // q1
         AS price_effect_milli
FROM w
""",
)
def q_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue bridge (price/volume waterfall) per brand, 1997 → 1998:
    the change in revenue decomposed into a VOLUME effect (quantity
    change at old average price, (Q2-Q1)·R1/Q1) and a PRICE effect
    (defined as the residual, so the bridge is additive BY
    CONSTRUCTION — the property finance teams require of a waterfall).

    Exact: integer dollars/quantities, the volume effect is BIGINT
    floor arithmetic in milli-dollars, and the residual definition
    transfers the floor error into the price effect instead of leaving
    a reconciliation gap. (q2-q1)*r1*1000 stays under 2^63 up to
    ~annual brand revenue x quantity delta of 9e15 — beyond that,
    bridge in whole dollars.

    Scale shape: one fact aggregation keyed (brand, year) with both
    dims broadcast, then a self-join on the 25-brand rollup."""
    c = catalog(spark, sf_dir)
    per = (
        c.lineitem.join(
            c.orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(c.part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .withColumn("yr", F.year("o_orderdate"))
        .filter(F.col("yr").isin(1997, 1998))
        .groupBy("p_brand", "yr")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty"),
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("dollars"),
        )
    )
    a = per.filter(F.col("yr") == 1997).select(
        "p_brand", F.col("qty").alias("q1"), F.col("dollars").alias("r1")
    )
    b = per.filter(F.col("yr") == 1998).select(
        F.col("p_brand").alias("pb2"),
        F.col("qty").alias("q2"),
        F.col("dollars").alias("r2"),
    )
    w = a.join(b, F.col("p_brand") == F.col("pb2"))
    return w.select(
        "p_brand",
        "r1",
        "r2",
        ((F.col("r2") - F.col("r1")) * 1000).alias("delta_milli"),
        F.expr("((q2 - q1) * r1 * 1000) div q1").alias("volume_effect_milli"),
        (
            (F.col("r2") - F.col("r1")) * 1000
            - F.expr("((q2 - q1) * r1 * 1000) div q1")
        ).alias("price_effect_milli"),
    )


@REGISTRY.register(
    "q_price_indices",
    tags=("analytics", "economics"),
    oracle="""
WITH per AS (
  SELECT p_brand,
         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)) AS BIGINT))
              AS BIGINT) AS r
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  WHERE EXTRACT(year FROM o_orderdate) IN (1997, 1998)
  GROUP BY p_brand, yr
), w AS (
  SELECT a.p_brand, a.q AS q0, a.r AS r0, b.q AS q1, b.r AS r1
  FROM per a JOIN per b ON a.p_brand = b.p_brand
  WHERE a.yr = 1997 AND b.yr = 1998
), terms AS (
  SELECT CAST(SUM((r1 * q0 * 1000) // q1) AS BIGINT) AS lasp_num,
         CAST(SUM(r0 * 1000) AS BIGINT) AS lasp_den,
         CAST(SUM(r1 * 1000) AS BIGINT) AS paas_num,
         CAST(SUM((r0 * q1 * 1000) // q0) AS BIGINT) AS paas_den,
         CAST(COUNT(*) AS BIGINT) AS n_brands
  FROM w
)
SELECT n_brands,
       (lasp_num * 1000000) // lasp_den AS laspeyres_micro,
       (paas_num * 1000000) // paas_den AS paasche_micro,
       CAST(FLOOR(SQRT(
         (CAST((lasp_num * 1000000) // lasp_den AS DOUBLE) / 1000000)
         * (CAST((paas_num * 1000000) // paas_den AS DOUBLE) / 1000000))
         * 1000000) AS BIGINT) AS fisher_micro
FROM terms
""",
)
def q_price_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres, Paasche and Fisher price indices for 1997 → 1998 over
    brand unit prices (p = revenue/quantity): base-weighted
    (Laspeyres Σp1q0/Σp0q0), current-weighted (Paasche Σp1q1/Σp0q1)
    and their geometric mean — the inflation-measurement trio that
    complements q_revenue_bridge's waterfall with a proper
    substitution-aware price level.

    Exactness: every Σpq term is integer milli-dollars (per-brand
    floor division BEFORE the order-independent integer sum); the only
    float is Fisher's final sqrt of two already-floored micro ratios —
    IEEE-correctly-rounded and identical on both engines.

    Scale shape: identical to q_revenue_bridge — one (brand, year)
    fact aggregation with broadcast dims, then arithmetic on the
    25-row rollup."""
    c = catalog(spark, sf_dir)
    per = (
        c.lineitem.join(
            c.orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(c.part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .withColumn("yr", F.year("o_orderdate"))
        .filter(F.col("yr").isin(1997, 1998))
        .groupBy("p_brand", "yr")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("q"),
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("r"),
        )
    )
    a = per.filter(F.col("yr") == 1997).select(
        "p_brand", F.col("q").alias("q0"), F.col("r").alias("r0")
    )
    b = per.filter(F.col("yr") == 1998).select(
        F.col("p_brand").alias("pb2"),
        F.col("q").alias("q1"),
        F.col("r").alias("r1"),
    )
    w = a.join(b, F.col("p_brand") == F.col("pb2"))
    terms = w.agg(
        F.sum(F.expr("(r1 * q0 * 1000) div q1")).cast("bigint").alias("lasp_num"),
        F.sum(F.expr("r0 * 1000")).cast("bigint").alias("lasp_den"),
        F.sum(F.expr("r1 * 1000")).cast("bigint").alias("paas_num"),
        F.sum(F.expr("(r0 * q1 * 1000) div q0")).cast("bigint").alias("paas_den"),
        F.count("*").cast("bigint").alias("n_brands"),
    )
    return terms.select(
        "n_brands",
        F.expr("(lasp_num * 1000000) div lasp_den").alias("laspeyres_micro"),
        F.expr("(paas_num * 1000000) div paas_den").alias("paasche_micro"),
        F.floor(
            F.sqrt(
                (
                    F.expr("(lasp_num * 1000000) div lasp_den").cast("double")
                    / 1000000
                )
                * (
                    F.expr("(paas_num * 1000000) div paas_den").cast("double")
                    / 1000000
                )
            )
            * 1000000
        )
        .cast("bigint")
        .alias("fisher_micro"),
    )


@REGISTRY.register(
    "q_discrete_hazard",
    tags=("analytics", "lifecycle"),
    oracle="""
WITH life AS (
  SELECT user_id,
         (epoch_us(MAX(ts)) // 1000000 - epoch_us(MIN(ts)) // 1000000)
           // 604800 AS last_week
  FROM events GROUP BY user_id
), weeks AS (
  SELECT DISTINCT last_week AS w FROM life
)
SELECT CAST(w AS BIGINT) AS week,
       CAST((SELECT COUNT(*) FROM life WHERE last_week >= w) AS BIGINT)
         AS n_at_risk,
       CAST((SELECT COUNT(*) FROM life WHERE last_week = w) AS BIGINT)
         AS n_churned,
       ((SELECT COUNT(*) FROM life WHERE last_week = w) * 1000000)
         // (SELECT COUNT(*) FROM life WHERE last_week >= w)
         AS hazard_micro
FROM weeks
""",
)
def q_discrete_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time hazard table: for each week-of-life w, the
    probability a user's activity ENDED that week given they survived
    into it — h(w) = churned(w) / at-risk(w), the lifecycle statistic
    behind every churn model (and the discrete twin of
    q_survival_km's Kaplan-Meier curve: S(w) = prod(1 - h)).

    Exact: week indices are BIGINT floor arithmetic on epoch seconds;
    hazard is floor-division micro-units.

    Scale shape: one user-keyed agg for lifespans, then the tiny
    week-spine rollup (computed as a single groupBy + running totals,
    not per-week subqueries — the oracle's correlated form is for
    clarity)."""
    c = catalog(spark, sf_dir)
    ts_s = F.expr("unix_micros(ts) div 1000000")
    life = c.events.groupBy("user_id").agg(
        F.expr(
            "(max(unix_micros(ts) div 1000000)"
            " - min(unix_micros(ts) div 1000000)) div 604800"
        ).alias("last_week")
    )
    per_week = life.groupBy(F.col("last_week").alias("week")).agg(
        F.count("*").cast("bigint").alias("n_churned")
    )
    # at-risk(w) = suffix sum of churned counts over the tiny week table
    w = Window.orderBy(F.col("week").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_week.select(
        F.col("week").cast("bigint").alias("week"),
        F.sum("n_churned").over(w).cast("bigint").alias("n_at_risk"),
        "n_churned",
    ).select(
        "week",
        "n_at_risk",
        "n_churned",
        F.expr("(n_churned * 1000000) div n_at_risk").alias("hazard_micro"),
    )


@REGISTRY.register(
    "q_peak_detection",
    tags=("analytics", "timeseries"),
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY day
), w AS (
  SELECT day, n,
         LAG(n) OVER (ORDER BY day) AS prev_n,
         LEAD(n) OVER (ORDER BY day) AS next_n
  FROM daily
)
SELECT STRFTIME(day, '%Y-%m-%d') AS day, n,
       n - GREATEST(prev_n, next_n) AS prominence
FROM w
WHERE prev_n IS NOT NULL AND next_n IS NOT NULL
  AND n > prev_n AND n > next_n
""",
)
def q_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-peak detection on the daily event-count series: days
    strictly above both neighbors, with a simple prominence (margin
    over the taller neighbor) — the first-pass spike finder feeding
    alerting/annotation pipelines (q_changepoint finds level SHIFTS;
    this finds isolated SPIKES).

    Exact BIGINT counts and comparisons; the boundary days are
    excluded (no one-sided peaks), matching the oracle exactly.

    Scale shape: the fact table reduces to <=31 daily rows map-side;
    the neighbor window runs on that tiny series (a deliberate
    unpartitioned window over an aggregate, not data)."""
    c = catalog(spark, sf_dir)
    daily = c.events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("bigint").alias("n")
    )
    w = Window.orderBy("day")
    t = daily.select(
        "day",
        "n",
        F.lag("n").over(w).alias("prev_n"),
        F.lead("n").over(w).alias("next_n"),
    )
    return t.filter(
        F.col("prev_n").isNotNull()
        & F.col("next_n").isNotNull()
        & (F.col("n") > F.col("prev_n"))
        & (F.col("n") > F.col("next_n"))
    ).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n",
        (F.col("n") - F.greatest("prev_n", "next_n")).alias("prominence"),
    )


@REGISTRY.register(
    "q_arc_elasticity",
    tags=("analytics", "economics"),
    oracle="""
WITH bands AS (
  SELECT p_brand,
         CASE WHEN l_discount <= 0.05 THEN 'low' ELSE 'high' END AS band,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)) AS BIGINT))
              AS BIGINT) AS r
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, band
), w AS (
  SELECT lo.p_brand, lo.q AS q1, lo.r AS r1, hi.q AS q2, hi.r AS r2
  FROM bands lo JOIN bands hi
    ON lo.p_brand = hi.p_brand AND lo.band = 'low' AND hi.band = 'high'
)
SELECT p_brand,
       CAST(FLOOR(
         (CAST(q2 AS DOUBLE) - q1)
         * (CAST(r1 AS DOUBLE) * q2 + CAST(r2 AS DOUBLE) * q1)
         / ((CAST(r2 AS DOUBLE) * q1 - CAST(r1 AS DOUBLE) * q2)
            * (CAST(q1 AS DOUBLE) + q2))
         * 1000) AS BIGINT) AS elasticity_milli
FROM w
WHERE r2 * q1 <> r1 * q2
""",
)
def q_arc_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arc (midpoint) price elasticity of demand per brand between the
    low-discount (effective-price-high) and high-discount bands:
    E = (dQ/Q_mid)/(dP/P_mid), with unit prices P_i = R_i/Q_i
    substituted symbolically so the whole statistic reduces to ONE
    rational in the four exact BIGINT aggregates — no per-band price
    average is ever materialized (dividing early would smuggle in
    float accumulation).

    Elasticity < 0 is the economically sane direction (higher
    effective price, lower quantity); the magnitude prices the
    discount lever next to q_revenue_bridge and q_price_indices.

    Exactness: the four aggregates are exact; the final expression is
    one shared IEEE tree floored to milli-units; the degenerate
    equal-price case is excluded identically on both engines.

    Scale shape: one (brand, band) fact aggregation with the dim
    broadcast; the elasticity algebra runs on 25 rows."""
    c = catalog(spark, sf_dir)
    bands = (
        c.lineitem.join(
            F.broadcast(c.part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .withColumn(
            "band",
            F.when(F.col("l_discount") <= 0.05, "low").otherwise("high"),
        )
        .groupBy("p_brand", "band")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("q"),
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("r"),
        )
    )
    lo = bands.filter(F.col("band") == "low").select(
        "p_brand", F.col("q").alias("q1"), F.col("r").alias("r1")
    )
    hi = bands.filter(F.col("band") == "high").select(
        F.col("p_brand").alias("pb2"),
        F.col("q").alias("q2"),
        F.col("r").alias("r2"),
    )
    w = lo.join(hi, F.col("p_brand") == F.col("pb2")).filter(
        F.col("r2") * F.col("q1") != F.col("r1") * F.col("q2")
    )
    num = (F.col("q2").cast("double") - F.col("q1")) * (
        F.col("r1").cast("double") * F.col("q2")
        + F.col("r2").cast("double") * F.col("q1")
    )
    den = (
        F.col("r2").cast("double") * F.col("q1")
        - F.col("r1").cast("double") * F.col("q2")
    ) * (F.col("q1").cast("double") + F.col("q2"))
    return w.select(
        "p_brand",
        F.floor(num / den * 1000).cast("bigint").alias("elasticity_milli"),
    )


@REGISTRY.register(
    "q_palma_ratio",
    tags=("analytics", "inequality"),
    oracle="""
WITH per AS (
  SELECT o_custkey,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT cents,
         ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS rn,
         COUNT(*) OVER () AS n
  FROM per
)
SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
       CAST(SUM(CASE WHEN rn > (n * 9) / 10 THEN cents ELSE 0 END)
            AS BIGINT) AS top10_cents,
       CAST(SUM(CASE WHEN rn <= (n * 4) / 10 THEN cents ELSE 0 END)
            AS BIGINT) AS bottom40_cents,
       (CAST(SUM(CASE WHEN rn > (n * 9) / 10 THEN cents ELSE 0 END)
             AS BIGINT) * 1000)
         // CAST(SUM(CASE WHEN rn <= (n * 4) / 10 THEN cents ELSE 0 END)
                 AS BIGINT) AS palma_milli
FROM ranked
""",
)
def q_palma_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Palma inequality ratio of customer spend: top-10% share over
    bottom-40% share — the log-free inequality headline that
    complements q_gini and q_top_share (the Palma captures exactly the
    tails the Gini averages away).

    Exact: per-customer cents, total-order ranking, integer rank
    cutoffs ((n*9)/10 with integer division — same on both engines
    for positive ints), floor-division milli-ratio.

    Scale shape: one customer agg, one single-column rank (two-phase
    selection at 100 TB), one conditional global sum."""
    c = catalog(spark, sf_dir)
    per = c.orders.groupBy("o_custkey").agg(
        F.sum(half_up("o_totalprice", 100))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy("cents", "o_custkey")
    ranked = per.select(
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_customers"),
        F.sum(F.when(F.col("rn") > F.expr("(n * 9) div 10"), F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("top10_cents"),
        F.sum(F.when(F.col("rn") <= F.expr("(n * 4) div 10"), F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("bottom40_cents"),
    ).select(
        "n_customers",
        "top10_cents",
        "bottom40_cents",
        # nullif: with a single customer the bottom-40% bucket is empty
        # and the ratio is undefined — DuckDB x // 0 -> NULL, ANSI div
        # raises (degenerate fuzz fixture); integer division kept
        F.expr(
            "(top10_cents * 1000) div nullif(bottom40_cents, 0)"
        ).alias("palma_milli"),
    )


@REGISTRY.register(
    "q_simpson_diversity",
    tags=("analytics", "behavioral"),
    oracle="""
WITH mix AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n_i
  FROM events GROUP BY user_id, event_type
), per_user AS (
  SELECT user_id,
         CAST(SUM(n_i) AS BIGINT) AS n,
         CAST(SUM(n_i * (n_i - 1)) AS BIGINT) AS same_pairs
  FROM mix GROUP BY user_id
), d AS (
  SELECT user_id,
         1000000 - (same_pairs * 1000000) // (n * (n - 1)) AS d_micro
  FROM per_user WHERE n >= 2
)
SELECT d_micro // 100000 AS diversity_decile,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(MIN(d_micro) AS BIGINT) AS min_d_micro,
       CAST(MAX(d_micro) AS BIGINT) AS max_d_micro
FROM d GROUP BY diversity_decile
""",
)
def q_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity index of each user's activity mix, D = 1 -
    sum_i n_i(n_i-1)/(n(n-1)) (the probability two random events of
    the user differ in type), bucketed into a decile histogram — the
    log-free behavioral-diversity signal (entropy needs transcendental
    functions and can't be hash-oracled; Simpson's D measures the same
    concentration exactly).

    Exact: unbiased same-pair counting is pure BIGINT, micro-floored
    before bucketing.

    Scale shape: one (user, type) agg, one user rollup, one 10-bucket
    histogram — all map-side combined."""
    c = catalog(spark, sf_dir)
    mix = c.events.groupBy("user_id", "event_type").agg(
        F.count("*").cast("bigint").alias("n_i")
    )
    per_user = mix.groupBy("user_id").agg(
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum(F.col("n_i") * (F.col("n_i") - 1))
        .cast("bigint")
        .alias("same_pairs"),
    )
    d = per_user.filter(F.col("n") >= 2).select(
        F.expr(
            "1000000 - (same_pairs * 1000000) div (n * (n - 1))"
        ).alias("d_micro")
    )
    return d.groupBy(
        F.expr("d_micro div 100000").alias("diversity_decile")
    ).agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.min("d_micro").cast("bigint").alias("min_d_micro"),
        F.max("d_micro").cast("bigint").alias("max_d_micro"),
    )


@REGISTRY.register(
    "q_attribution_decay",
    tags=("analytics", "attribution"),
    oracle="""
WITH conv AS MATERIALIZED (
  SELECT user_id, MAX(ts) AS conv_ts FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
), touches AS MATERIALIZED (
  SELECT e.user_id, e.event_type, e.event_id,
         (epoch_us(c.conv_ts) // 1000000 - epoch_us(e.ts) // 1000000)
           // 86400 AS age_days
  FROM events e JOIN conv c ON e.user_id = c.user_id
  WHERE e.ts <= c.conv_ts AND e.event_type <> 'purchase'
), weighted AS MATERIALIZED (
  SELECT user_id, event_type,
         CAST(SUM(1000000 >> CAST(LEAST(age_days // 7, 19) AS INT))
              AS BIGINT) AS w
  FROM touches GROUP BY user_id, event_type
), per_user AS MATERIALIZED (
  SELECT user_id, CAST(SUM(w) AS BIGINT) AS tw FROM weighted
  GROUP BY user_id
)
SELECT w.event_type,
       CAST(COUNT(DISTINCT w.user_id) AS BIGINT) AS n_users,
       CAST(SUM((w.w * 1000000) // p.tw) AS BIGINT) AS credit_micro_total
FROM weighted w JOIN per_user p ON w.user_id = p.user_id
GROUP BY w.event_type
""",
)
def q_attribution_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution with a 7-day half-life —
    EXACTLY: the decay weight is 1e6 >> (age_weeks), i.e. the
    half-life discretized to weeks becomes a pure integer right-shift
    (powers of two need no pow()/exp(), which are not
    engine-bit-portable — this is how to get exponential decay into a
    hash-checked contract). Each converting user's pre-conversion
    touches split 1e6 micro-credits proportionally to decayed weight;
    per-channel totals complete the attribution family
    (q_attribution_touch: first/last; q_attribution_ushape:
    position-based; HERE: recency-based).

    Scale shape: one conversion agg, one user-keyed join + weighted
    rollup; shift/floor arithmetic is map-side."""
    c = catalog(spark, sf_dir)
    conv = (
        c.events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.max("ts").alias("conv_ts"))
    )
    touches = (
        c.events.join(conv.withColumnRenamed("user_id", "cu"), F.col("user_id") == F.col("cu"))
        .filter(
            (F.col("ts") <= F.col("conv_ts"))
            & (F.col("event_type") != "purchase")
        )
        .select(
            "user_id",
            "event_type",
            F.expr(
                "(unix_micros(conv_ts) div 1000000"
                " - unix_micros(ts) div 1000000) div 86400"
            ).alias("age_days"),
        )
    )
    weighted = touches.groupBy("user_id", "event_type").agg(
        F.sum(
            F.expr(
                "shiftright(1000000, CAST(LEAST(age_days div 7, 19) AS INT))"
            )
        )
        .cast("bigint")
        .alias("w")
    )
    per_user = weighted.groupBy("user_id").agg(
        F.sum("w").cast("bigint").alias("tw")
    )
    return (
        weighted.join(per_user, "user_id")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum(F.expr("(w * 1000000) div tw"))
            .cast("bigint")
            .alias("credit_micro_total"),
        )
    )


@REGISTRY.register(
    "q_newsvendor_quantile",
    tags=("analytics", "operations"),
    oracle="""
WITH daily AS (
  SELECT p_brand, CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS demand
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, day
), ranked AS (
  SELECT p_brand, demand,
         ROW_NUMBER() OVER (PARTITION BY p_brand
                            ORDER BY demand, day) AS rn,
         COUNT(*) OVER (PARTITION BY p_brand) AS n
  FROM daily
)
SELECT p_brand, CAST(MAX(n) AS BIGINT) AS n_days,
       CAST(SUM(demand) AS BIGINT) // CAST(MAX(n) AS BIGINT)
         AS mean_daily_demand,
       CAST(MAX(CASE WHEN rn = GREATEST((n * 95 + 99) // 100, 1)
                     THEN demand END) AS BIGINT) AS p95_daily_demand
FROM ranked GROUP BY p_brand
""",
)
def q_newsvendor_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor stocking level per brand: the 95th-percentile order
    statistic of DAILY demand — the critical-fractile answer when
    understocking costs ~19x overstocking (q* = F^-1(cu/(cu+co))),
    reported next to mean demand so the safety-stock margin is
    visible. The operations-research sibling of q_var_es (same exact
    order-statistic machinery, opposite tail).

    Exact: integer daily demand, ceil-rank selection
    ((n*95+99)//100), total (demand, day) order.

    Scale shape: one fact aggregation to brand-day (map-side
    combined), then a per-brand window over <=|days| rows."""
    c = catalog(spark, sf_dir)
    daily = (
        c.lineitem.join(
            c.orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(c.part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("demand")
        )
    )
    wp = Window.partitionBy("p_brand").orderBy("demand", "day")
    wn = Window.partitionBy("p_brand")
    ranked = daily.select(
        "p_brand",
        "demand",
        F.row_number().over(wp).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    return ranked.groupBy("p_brand").agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.expr("sum(demand) div max(n)").alias("mean_daily_demand"),
        F.max(
            F.when(
                F.col("rn")
                == F.greatest(F.expr("(n * 95 + 99) div 100"), F.lit(1)),
                F.col("demand"),
            )
        )
        .cast("bigint")
        .alias("p95_daily_demand"),
    ).select("p_brand", "n_days", "mean_daily_demand", "p95_daily_demand")


# Shapley subset lattice for channels C = {click, error, signup, view}:
# one row per (channel i, subset S ⊆ C\{i}) with the exact integer
# weight |S|!(|C|-|S|-1)! (denominator |C|! = 24 applied once at the
# end). Canonical subset key = comma-joined sorted members ('' = {}).
_SHAPLEY_CHANNELS = ["click", "error", "signup", "view"]


def _shapley_lattice() -> list[tuple[str, str, str, int]]:
    import itertools
    import math

    rows = []
    for ch in _SHAPLEY_CHANNELS:
        others = [c for c in _SHAPLEY_CHANNELS if c != ch]
        for r in range(len(others) + 1):
            for s in itertools.combinations(others, r):
                w = math.factorial(len(s)) * math.factorial(
                    len(_SHAPLEY_CHANNELS) - len(s) - 1
                )
                s_without = ",".join(sorted(s))
                s_with = ",".join(sorted(s + (ch,)))
                rows.append((ch, s_without, s_with, w))
    return rows


_SHAPLEY_VALUES_SQL = ",\n  ".join(
    f"('{c}', '{a}', '{b}', {w})" for c, a, b, w in _shapley_lattice()
)


@REGISTRY.register(
    "q_shapley_attribution",
    tags=("analytics", "attribution"),
    oracle=f"""
WITH fp AS (
  SELECT user_id, MIN(ts) AS first_p FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
), pval AS (
  SELECT user_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS conv_cents
  FROM (
    SELECT user_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn
    FROM events WHERE event_type = 'purchase'
  ) WHERE rn = 1
), exposure AS (
  SELECT e.user_id,
         array_to_string(list_sort(list_distinct(list(e.event_type))), ',')
           AS cs
  FROM events e JOIN fp ON e.user_id = fp.user_id
  WHERE e.event_type <> 'purchase' AND e.ts < fp.first_p
  GROUP BY e.user_id
), v AS (
  SELECT ex.cs, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(p.conv_cents) AS BIGINT) // COUNT(*) AS v_cents
  FROM exposure ex JOIN pval p ON ex.user_id = p.user_id
  GROUP BY ex.cs
), lattice(channel, s_without, s_with, w) AS (VALUES
  {_SHAPLEY_VALUES_SQL}
), terms AS (
  SELECT l.channel,
         l.w * (COALESCE(vw.v_cents, 0) - COALESCE(vo.v_cents, 0)) AS t
  FROM lattice l
  LEFT JOIN v vw ON vw.cs = l.s_with
  LEFT JOIN v vo ON vo.cs = l.s_without AND l.s_without <> ''
)
SELECT channel,
       CAST(FLOOR(CAST(SUM(t) AS DOUBLE) * 1000 / 24) AS BIGINT)
         AS shapley_milli_cents
FROM terms GROUP BY channel
""",
)
def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value attribution over channel exposure SETS: the
    value function v(S) is the mean first-purchase amount among users
    whose pre-conversion exposure was exactly S, and each channel's
    Shapley value sums its weighted marginal contributions over all
    2^(|C|-1) coalitions — the game-theoretically fair split of
    conversion value (the only attribution satisfying efficiency /
    symmetry / dummy), computable exactly because |C| = 4 keeps the
    lattice at 32 rows (the general case samples coalitions; the
    lattice join shape is identical).

    Exact: integer cents v(S) (floor mean), integer factorial weights
    (|S|!(|C|-|S|-1)!, /24 applied once via a shared FLOOR(double) —
    marginals can be negative, so integer div is avoided, fact #37).

    Scale shape: one user-keyed exposure-set agg over the fact table;
    everything after runs on the <=16-row v(S) table against the
    32-row constant lattice."""
    c = catalog(spark, sf_dir)
    fp = (
        c.events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_p"))
    )
    wp = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pval = (
        c.events.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            half_up("value", 100).alias("conv_cents"),
        )
    )
    exposure = (
        c.events.join(fp.withColumnRenamed("user_id", "fu2"), F.col("user_id") == F.col("fu2"))
        .filter(
            (F.col("event_type") != "purchase") & (F.col("ts") < F.col("first_p"))
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("event_type")), ","
            ).alias("cs")
        )
    )
    v = (
        exposure.join(pval, "user_id")
        .groupBy("cs")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.expr("sum(conv_cents) div count(*)").alias("v_cents"),
        )
    )
    lattice = spark.createDataFrame(
        _shapley_lattice(), "channel string, s_without string, s_with string, w long"
    )
    vw = v.select(F.col("cs").alias("cw"), F.col("v_cents").alias("v_with"))
    vo = v.select(F.col("cs").alias("co"), F.col("v_cents").alias("v_without"))
    terms = (
        F.broadcast(lattice)
        .join(vw, F.col("s_with") == F.col("cw"), "left")
        .join(
            vo,
            (F.col("s_without") == F.col("co")) & (F.col("s_without") != ""),
            "left",
        )
        .select(
            "channel",
            (
                F.col("w")
                * (
                    F.coalesce("v_with", F.lit(0))
                    - F.coalesce("v_without", F.lit(0))
                )
            ).alias("t"),
        )
    )
    return terms.groupBy("channel").agg(
        F.floor(F.sum("t").cast("double") * 1000 / 24)
        .cast("bigint")
        .alias("shapley_milli_cents")
    )


@REGISTRY.register(
    "q_attribution_window_ladder",
    tags=("analytics", "attribution"),
    oracle="""
WITH fp AS MATERIALIZED (
  SELECT user_id, MIN(ts) AS first_p FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
), touch AS MATERIALIZED (
  SELECT e.user_id,
         MIN(epoch_us(fp.first_p) - epoch_us(e.ts)) // 1000000 AS min_gap_s
  FROM events e JOIN fp ON e.user_id = fp.user_id
  WHERE e.event_type = 'click' AND e.ts < fp.first_p
  GROUP BY e.user_id
), ladder AS MATERIALIZED (
  SELECT unnest([1, 7, 30]) AS window_days
)
SELECT CAST(window_days AS BIGINT) AS window_days,
       CAST((SELECT COUNT(*) FROM fp) AS BIGINT) AS n_conversions,
       CAST((SELECT COUNT(*) FROM touch
             WHERE min_gap_s <= window_days * 86400) AS BIGINT)
         AS n_click_credited,
       ((SELECT COUNT(*) FROM touch
         WHERE min_gap_s <= window_days * 86400) * 1000000)
         // (SELECT COUNT(*) FROM fp) AS credited_share_micro
FROM ladder
""",
)
def q_attribution_window_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution-window sensitivity ladder: how many conversions get
    click-credit under a 1-day, 7-day and 30-day lookback — the
    sensitivity table every attribution-policy debate needs on screen
    BEFORE choosing a window (the credited share can swing wildly, and
    whoever picks the window picks the answer; the ladder makes that
    dependence a measured fact).

    Exact: gap seconds in BIGINT microsecond arithmetic, floor
    divisions.

    Scale shape: one user-keyed min-gap aggregation; the 3-row ladder
    reuses it by comparison only."""
    c = catalog(spark, sf_dir)
    fp = (
        c.events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_p"))
    )
    touch = (
        c.events.join(
            fp.withColumnRenamed("user_id", "fu"), F.col("user_id") == F.col("fu")
        )
        .filter(
            (F.col("event_type") == "click") & (F.col("ts") < F.col("first_p"))
        )
        .groupBy("user_id")
        .agg(
            F.expr(
                "min(unix_micros(first_p) - unix_micros(ts)) div 1000000"
            ).alias("min_gap_s")
        )
    )
    ladder = spark.createDataFrame([(1,), (7,), (30,)], ["window_days"])
    n_conv = fp.agg(F.count("*").cast("bigint").alias("n_conversions"))
    j = F.broadcast(ladder).crossJoin(F.broadcast(n_conv)).join(
        touch,
        F.col("min_gap_s") <= F.col("window_days") * 86400,
        "left",
    )
    return j.groupBy(
        F.col("window_days").cast("bigint").alias("window_days"),
        "n_conversions",
    ).agg(
        F.count("min_gap_s").cast("bigint").alias("n_click_credited"),
    ).select(
        "window_days",
        "n_conversions",
        "n_click_credited",
        # nullif: zero conversions -> share undefined, NULL on both
        # engines (degenerate fuzz: no purchase events at all)
        F.expr(
            "(n_click_credited * 1000000) div nullif(n_conversions, 0)"
        ).alias("credited_share_micro"),
    )


@REGISTRY.register(
    "q_trade_balance",
    tags=("analytics", "graph"),
    oracle="""
WITH flows AS MATERIALIZED (
  -- one pass over the 4-way fact join, aggregated to the (importer,
  -- exporter) pair grid (<= nations^2 rows); exports/imports are
  -- rollups of the SAME flows — the old twin-CTE form ran the full
  -- join twice and thrashed spill under a divided memory cap (720s in
  -- a --jobs 8 sf0.1 sweep vs 19s sequential)
  SELECT c.c_nationkey AS imp_nk, s.s_nationkey AS exp_nk,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)) AS BIGINT))
              AS BIGINT) AS d
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer c ON o_custkey = c.c_custkey
  JOIN supplier s ON l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
  GROUP BY c.c_nationkey, s.s_nationkey
), exports AS MATERIALIZED (
  SELECT exp_nk AS nk, CAST(SUM(d) AS BIGINT) AS exp_dollars
  FROM flows GROUP BY exp_nk
), imports AS MATERIALIZED (
  SELECT imp_nk AS nk, CAST(SUM(d) AS BIGINT) AS imp_dollars
  FROM flows GROUP BY imp_nk
)
SELECT n_name,
       COALESCE(e.exp_dollars, 0) AS exp_dollars,
       COALESCE(i.imp_dollars, 0) AS imp_dollars,
       COALESCE(e.exp_dollars, 0) - COALESCE(i.imp_dollars, 0) AS balance
FROM nation
LEFT JOIN exports e ON n_nationkey = e.nk
LEFT JOIN imports i ON n_nationkey = i.nk
""",
)
def q_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """International trade balance per nation: cross-border revenue
    supplied (exports) minus cross-border revenue consumed (imports),
    from the same fact join as the trade-graph family — the surplus /
    deficit ledger behind q_graph_reciprocity's mutuality score (and
    the global invariant that balances sum to exactly zero is the
    test's conservation check).

    Exact integer dollars. Scale shape: one fact aggregation per
    direction (shared star join, broadcast dims), merged on the
    25-row nation dim."""
    c0 = catalog(spark, sf_dir)
    cust = c0.customer.select("c_custkey", "c_nationkey")
    supp = c0.supplier.select("s_suppkey", "s_nationkey")
    base = (
        c0.lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(
            c0.orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            "c_nationkey",
            "s_nationkey",
            F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("bigint")
            .alias("dollars"),
        )
    )
    exports = base.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.sum("dollars").cast("bigint").alias("exp_dollars")
    )
    imports = base.groupBy(F.col("c_nationkey").alias("nk2")).agg(
        F.sum("dollars").cast("bigint").alias("imp_dollars")
    )
    return (
        c0.nation.select("n_nationkey", "n_name")
        .join(exports, F.col("n_nationkey") == F.col("nk"), "left")
        .join(imports, F.col("n_nationkey") == F.col("nk2"), "left")
        .select(
            "n_name",
            F.coalesce("exp_dollars", F.lit(0)).alias("exp_dollars"),
            F.coalesce("imp_dollars", F.lit(0)).alias("imp_dollars"),
            (
                F.coalesce("exp_dollars", F.lit(0))
                - F.coalesce("imp_dollars", F.lit(0))
            ).alias("balance"),
        )
    )


@REGISTRY.register(
    "q_hour_profile",
    tags=("analytics", "timeseries"),
    oracle="""
WITH hourly AS (
  SELECT EXTRACT(hour FROM ts) AS hr, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY hr
), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM hourly)
SELECT CAST(hr AS BIGINT) AS hour_of_day, n,
       (n * 1000000) // tot.t AS share_micro,
       n = (SELECT MAX(n) FROM hourly) AS is_peak
FROM hourly, tot
""",
)
def q_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day activity profile with the peak hour flagged — the
    diurnal-rhythm rollup behind capacity planning (when to schedule
    compaction/backfill) and the within-day complement to the weekday
    profile of q_seasonality_strength.

    Exact integer counts/shares. Scale shape: one 24-group map-side-
    combined aggregation."""
    c = catalog(spark, sf_dir)
    hourly = c.events.groupBy(F.hour("ts").alias("hr")).agg(
        F.count("*").cast("bigint").alias("n")
    )
    tot = hourly.agg(
        F.sum("n").cast("bigint").alias("t"),
        F.max("n").cast("bigint").alias("mx"),
    )
    return hourly.crossJoin(F.broadcast(tot)).select(
        F.col("hr").cast("bigint").alias("hour_of_day"),
        "n",
        F.expr("(n * 1000000) div t").alias("share_micro"),
        (F.col("n") == F.col("mx")).alias("is_peak"),
    )


@REGISTRY.register(
    "q_max_drawdown",
    tags=("analytics", "timeseries", "finance"),
    oracle="""
WITH flows AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase'
              THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
              WHEN event_type = 'click'
              THEN -CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
              ELSE 0 END AS flow_cents
  FROM events
), bal AS (
  SELECT user_id,
         ts, event_id,
         CAST(SUM(flow_cents) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS balance
  FROM flows
), dd AS (
  SELECT user_id, balance,
         CAST(MAX(balance) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) - balance AS drawdown
  FROM bal
)
SELECT user_id,
       CAST(MAX(drawdown) AS BIGINT) AS max_drawdown_cents,
       CAST(MAX(balance) AS BIGINT) AS peak_cents,
       CAST(COUNT(*) AS BIGINT) AS n_flows
FROM dd GROUP BY user_id
ORDER BY max_drawdown_cents DESC, user_id
LIMIT 20
""",
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user ledger: treat purchases as credits
    and clicks as debits on a per-user running balance, then measure
    the deepest peak-to-trough fall — the classic risk statistic
    (worst historical loss from any high-water mark), and the batch
    ground truth for its streaming twin.

    Declarative shape: drawdown_t = max(balance_1..t) - balance_t, so
    the whole statistic is two stacked UnboundedPreceding windows
    (running sum, then running max over it) + one group-by max — both
    frames are forward-only O(n) scans per partition (environment
    fact #23: never UnboundedFollowing). Cents are exact BIGINT; the
    (ts, event_id) sort is total, so the top-20 slice is
    deterministic.

    Scale shape: one shuffle on user_id; windows scan each user's
    slice once; TakeOrdered(20) merges per-partition heaps."""
    c = catalog(spark, sf_dir)
    cents = half_up("value", 100)
    flows = c.events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", cents)
        .when(F.col("event_type") == "click", -cents)
        .otherwise(F.lit(0))
        .alias("flow_cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bal = flows.select(
        "user_id",
        "ts",
        "event_id",
        F.sum("flow_cents").over(w).cast("bigint").alias("balance"),
    )
    dd = bal.select(
        "user_id",
        "balance",
        (F.max("balance").over(w).cast("bigint") - F.col("balance")).alias(
            "drawdown"
        ),
    )
    return (
        dd.groupBy("user_id")
        .agg(
            F.max("drawdown").cast("bigint").alias("max_drawdown_cents"),
            F.max("balance").cast("bigint").alias("peak_cents"),
            F.count("*").cast("bigint").alias("n_flows"),
        )
        .orderBy(F.col("max_drawdown_cents").desc(), "user_id")
        .limit(20)
    )


@REGISTRY.register(
    "q_bollinger",
    tags=("analytics", "timeseries", "finance"),
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS rev
  FROM orders GROUP BY day
), win AS (
  SELECT day, rev,
         CAST(SUM(rev) OVER w AS BIGINT) AS s,
         CAST(SUM(rev * rev) OVER w AS BIGINT) AS ss,
         CAST(COUNT(*) OVER w AS BIGINT) AS cnt
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
), bands AS (
  SELECT day, rev,
         s // 20 AS mid,
         CAST(FLOOR(2 * sqrt(CAST((20 * ss - s * s) // 400 AS DOUBLE)))
              AS BIGINT) AS hw
  FROM win WHERE cnt = 20
)
SELECT STRFTIME(day, '%Y-%m-%d') AS day, rev, mid,
       mid - hw AS lower, mid + hw AS upper,
       rev < mid - hw OR rev > mid + hw AS breach
FROM bands
""",
)
def q_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands over the daily-revenue series: 20-day rolling
    mean +/- 2 rolling standard deviations, with a breach flag — the
    volatility envelope used for regime/outlier monitoring on any
    business metric, complementing q_spc_control_chart's fixed global
    limits with a LOCAL adaptive band.

    Exactness: whole-dollar daily revenue keeps x^2 sums BIGINT-safe
    (cents^2 would overflow at sf0.1 — same reasoning as
    q_spend_vs_activity); rolling variance = (n*Sxx - S^2) div n^2 is
    exact integer; the band half-width takes one portable sqrt and
    floors. Rows before the 20th day are excluded (partial windows
    would make the band meaningless).

    Scale shape: the fact scan reduces to one row per day map-side;
    the rolling window runs on the day-grain series, whose size is
    calendar-bounded (thousands of rows at ANY data volume), so the
    single-partition window is not a scale risk."""
    c = catalog(spark, sf_dir)
    daily = (
        c.orders.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice")).cast("bigint"))
            .cast("bigint")
            .alias("rev")
        )
    )
    w = Window.orderBy("day").rowsBetween(-19, Window.currentRow)
    win = daily.select(
        "day",
        "rev",
        F.sum("rev").over(w).cast("bigint").alias("s"),
        F.sum(F.col("rev") * F.col("rev")).over(w).cast("bigint").alias("ss"),
        F.count("*").over(w).cast("bigint").alias("cnt"),
    )
    bands = win.filter(F.col("cnt") == 20).select(
        "day",
        "rev",
        F.expr("s div 20").alias("mid"),
        F.floor(
            2 * F.sqrt(F.expr("CAST((20 * ss - s * s) div 400 AS DOUBLE)"))
        )
        .cast("bigint")
        .alias("hw"),
    )
    return bands.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "rev",
        "mid",
        (F.col("mid") - F.col("hw")).alias("lower"),
        (F.col("mid") + F.col("hw")).alias("upper"),
        (
            (F.col("rev") < F.col("mid") - F.col("hw"))
            | (F.col("rev") > F.col("mid") + F.col("hw"))
        ).alias("breach"),
    )


@REGISTRY.register(
    "q_pareto_coverage",
    tags=("analytics", "concentration"),
    oracle="""
WITH spend AS (
  SELECT c_nationkey, o_custkey,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_nationkey, o_custkey
), ranked AS (
  SELECT c_nationkey, cents,
         CAST(SUM(cents) OVER (PARTITION BY c_nationkey
           ORDER BY cents DESC, o_custkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS run_cents,
         CAST(SUM(cents) OVER (PARTITION BY c_nationkey) AS BIGINT)
           AS tot_cents,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY cents DESC, o_custkey) AS rn,
         COUNT(*) OVER (PARTITION BY c_nationkey) AS n_cust
  FROM spend
)
SELECT n_name,
       CAST(MAX(n_cust) AS BIGINT) AS n_customers,
       CAST(MIN(CASE WHEN run_cents * 5 >= tot_cents * 4 THEN rn END)
            AS BIGINT) AS n_to_80pct,
       (CAST(MIN(CASE WHEN run_cents * 5 >= tot_cents * 4 THEN rn END)
             AS BIGINT) * 1000000) // MAX(n_cust) AS share_of_heads_micro
FROM ranked JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)
def q_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto (80/20) coverage per nation: the minimum number of
    customers whose descending-sorted spend reaches 80% of the
    nation's revenue — "how concentrated is each market?", the
    per-group complement to the global q_gini / q_top_share
    concentration audits, and the query behind account-tiering
    decisions (how many accounts must a key-account team own to
    cover 80% of revenue?).

    Exact: the 80% crossing is the integer comparison
    run_cents*5 >= tot_cents*4 (no float share), ties in spend are
    broken by customer id so the running sum is total-ordered.

    Scale shape: one customer-grain aggregation, then per-nation
    descending windows (forward-only frames); output is
    dimension-cardinality."""
    c = catalog(spark, sf_dir)
    spend = (
        c.orders.join(
            F.broadcast(c.customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(half_up("o_totalprice", 100))
            .cast("bigint")
            .alias("cents")
        )
    )
    wrun = (
        Window.partitionBy("c_nationkey")
        .orderBy(F.col("cents").desc(), "o_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("c_nationkey")
    ranked = spend.select(
        "c_nationkey",
        F.sum("cents").over(wrun).cast("bigint").alias("run_cents"),
        F.sum("cents").over(wall).cast("bigint").alias("tot_cents"),
        F.row_number()
        .over(
            Window.partitionBy("c_nationkey").orderBy(
                F.col("cents").desc(), "o_custkey"
            )
        )
        .alias("rn"),
        F.count("*").over(wall).alias("n_cust"),
    )
    return (
        ranked.join(
            F.broadcast(c.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.max("n_cust").cast("bigint").alias("n_customers"),
            F.min(
                F.when(
                    F.col("run_cents") * 5 >= F.col("tot_cents") * 4,
                    F.col("rn"),
                )
            )
            .cast("bigint")
            .alias("n_to_80pct"),
        )
        .select(
            "n_name",
            "n_customers",
            "n_to_80pct",
            F.expr("(n_to_80pct * 1000000) div n_customers").alias(
                "share_of_heads_micro"
            ),
        )
    )


@REGISTRY.register(
    "q_fifo_allocation",
    tags=("analytics", "interval", "finance"),
    oracle="""
WITH supply AS (
  SELECT user_id, ts, event_id,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
         CAST(COALESCE(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS lo
  FROM events WHERE event_type = 'purchase'
), demand AS (
  SELECT user_id, ts, event_id,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
         CAST(COALESCE(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS lo
  FROM events WHERE event_type = 'click'
), pairs AS (
  SELECT s.user_id,
         LEAST(s.lo + s.cents, d.lo + d.cents)
           - GREATEST(s.lo, d.lo) AS alloc
  FROM supply s JOIN demand d
    ON s.user_id = d.user_id
   AND s.lo < d.lo + d.cents
   AND d.lo < s.lo + s.cents
), tot AS (
  SELECT user_id,
         CAST(SUM(alloc) AS BIGINT) AS allocated_cents,
         CAST(COUNT(*) AS BIGINT) AS n_matches
  FROM pairs GROUP BY user_id
), dem_tot AS (
  SELECT user_id, CAST(SUM(cents) AS BIGINT) AS demand_cents
  FROM demand GROUP BY user_id
)
SELECT d.user_id,
       COALESCE(t.n_matches, 0) AS n_matches,
       COALESCE(t.allocated_cents, 0) AS allocated_cents,
       d.demand_cents - COALESCE(t.allocated_cents, 0)
         AS unfunded_cents
FROM dem_tot d LEFT JOIN tot t ON d.user_id = t.user_id
""",
)
def q_fifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO allocation as a declarative interval intersection — the
    classic "procedural" matching problem (consume each user's click
    spend against their purchase credits, oldest first) solved with
    ZERO loops: each supply lot occupies the cumulative-cents interval
    [lo, lo+cents) and each demand likewise; FIFO matching is then
    exactly the pairwise OVERLAP of the two interval sets, and the
    allocated amount is the overlap length. The same identity powers
    FIFO inventory costing, tax-lot selection, and payment
    application.

    Exact BIGINT throughout: prefix sums over the (ts, event_id)
    total order, LEAST/GREATEST overlap arithmetic, per-user rollup
    with unfunded remainder = demand - allocated (>= 0 iff demand
    exceeds supply; conservation is property-tested).

    Scale shape: both interval tables shuffle once on user_id; the
    overlap join is per-user (each pair of streams is matched within
    its partition key, never across users) with per-user match counts
    bounded by supplies+demands-1 — linear, not quadratic, because
    FIFO intervals are disjoint within each side."""
    c = catalog(spark, sf_dir)
    cents = half_up("value", 100)

    def side(event_type: str) -> DataFrame:
        w = (
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return (
            c.events.filter(F.col("event_type") == event_type)
            .select("user_id", "ts", "event_id", cents.alias("cents"))
            .select(
                "user_id",
                "cents",
                F.coalesce(F.sum("cents").over(w), F.lit(0))
                .cast("bigint")
                .alias("lo"),
            )
        )

    supply = side("purchase").withColumnsRenamed(
        {"cents": "s_cents", "lo": "s_lo"}
    )
    demand = side("click").withColumnsRenamed(
        {"cents": "d_cents", "lo": "d_lo", "user_id": "d_user"}
    )
    pairs = supply.join(
        demand,
        (F.col("user_id") == F.col("d_user"))
        & (F.col("s_lo") < F.col("d_lo") + F.col("d_cents"))
        & (F.col("d_lo") < F.col("s_lo") + F.col("s_cents")),
    ).select(
        "user_id",
        (
            F.least(
                F.col("s_lo") + F.col("s_cents"),
                F.col("d_lo") + F.col("d_cents"),
            )
            - F.greatest(F.col("s_lo"), F.col("d_lo"))
        ).alias("alloc"),
    )
    tot = pairs.groupBy("user_id").agg(
        F.sum("alloc").cast("bigint").alias("allocated_cents"),
        F.count("*").cast("bigint").alias("n_matches"),
    )
    dem_tot = demand.groupBy(F.col("d_user").alias("user_id")).agg(
        F.sum("d_cents").cast("bigint").alias("demand_cents")
    )
    return dem_tot.join(tot, "user_id", "left").select(
        "user_id",
        F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
        F.coalesce("allocated_cents", F.lit(0)).alias("allocated_cents"),
        (
            F.col("demand_cents") - F.coalesce("allocated_cents", F.lit(0))
        ).alias("unfunded_cents"),
    )


@REGISTRY.register(
    "q_yoy_aligned",
    tags=("analytics", "timeseries"),
    oracle="""
WITH weekly AS (
  SELECT CAST(isoyear(o_orderdate) AS BIGINT) AS iy,
         CAST(weekofyear(o_orderdate) AS BIGINT) AS iw,
         CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS rev
  FROM orders GROUP BY iy, iw
)
SELECT cur.iy AS iso_year, cur.iw AS iso_week, cur.rev AS rev,
       prior.rev AS rev_prior,
       CAST(FLOOR(CAST((cur.rev - prior.rev) * 1000000 AS DOUBLE)
                  / prior.rev) AS BIGINT) AS yoy_micro
FROM weekly cur
JOIN weekly prior ON prior.iy = cur.iy - 1 AND prior.iw = cur.iw
WHERE cur.iw <= 52
""",
)
def q_yoy_aligned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday-aligned year-over-year growth: compare each ISO week's
    revenue against the SAME ISO week a year earlier — the retail
    convention that keeps Mondays compared to Mondays (a plain
    365-day offset drifts one weekday per year and two across a leap
    year, polluting every weekday-seasonal metric with calendar
    noise). Week 53 is excluded: it has no stable prior-year partner.

    Exact: whole-dollar weekly sums, integer micro growth. ISO
    week/year semantics are already pinned cross-engine by
    q_calendar_tz_contract, which this query builds on.

    Scale shape: the fact scan reduces map-side to (year, week)
    grain; the self-join runs on the calendar-bounded weekly table."""
    c = catalog(spark, sf_dir)
    weekly = c.orders.groupBy(
        F.expr("extract(yearofweek FROM o_orderdate)")
        .cast("bigint")
        .alias("iy"),
        F.weekofyear("o_orderdate").cast("bigint").alias("iw"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice")).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )
    prior = weekly.select(
        F.col("iy").alias("py"),
        F.col("iw").alias("pw"),
        F.col("rev").alias("rev_prior"),
    )
    return (
        weekly.filter(F.col("iw") <= 52)
        .join(
            prior,
            (F.col("py") == F.col("iy") - 1) & (F.col("pw") == F.col("iw")),
        )
        .select(
            F.col("iy").alias("iso_year"),
            F.col("iw").alias("iso_week"),
            "rev",
            "rev_prior",
            # growth can be NEGATIVE: div truncates toward zero in
            # Spark but // floors in DuckDB (fact #37) — both sides
            # use FLOOR(double/…) instead
            F.expr(
                "CAST(FLOOR(CAST((rev - rev_prior) * 1000000 AS DOUBLE)"
                " / rev_prior) AS BIGINT)"
            ).alias("yoy_micro"),
        )
    )


@REGISTRY.register(
    "q_littles_law",
    tags=("analytics", "interval", "audit"),
    oracle="""
WITH t AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 7200
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts_s,
         CAST(SUM(new_sess) OVER (
           PARTITION BY user_id ORDER BY ts_s, event_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
  FROM t
), sess AS (
  SELECT user_id, session_no,
         CAST(MIN(ts_s) AS BIGINT) AS start_s,
         CAST(MAX(ts_s) AS BIGINT) AS end_s
  FROM s GROUP BY user_id, session_no
), deltas AS (
  SELECT t_s, CAST(SUM(d) AS BIGINT) AS delta FROM (
    SELECT start_s AS t_s, 1 AS d FROM sess
    UNION ALL SELECT end_s AS t_s, -1 AS d FROM sess
  ) GROUP BY t_s
), sweep AS (
  SELECT CAST(SUM(level * (nxt - t_s)) AS BIGINT) AS area_s FROM (
    SELECT t_s,
           CAST(SUM(delta) OVER (ORDER BY t_s
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS level,
           LEAD(t_s) OVER (ORDER BY t_s) AS nxt
    FROM deltas
  ) WHERE nxt IS NOT NULL
), direct AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
         CAST(SUM(end_s - start_s) AS BIGINT) AS total_duration_s,
         CAST(MAX(end_s) - MIN(start_s) AS BIGINT) AS horizon_s
  FROM sess
)
SELECT n_sessions, total_duration_s, area_s AS swept_area_s,
       area_s = total_duration_s AS conservation_ok,
       (n_sessions * 1000000) // horizon_s AS lambda_micro,
       (area_s * 1000000) // horizon_s AS l_micro,
       (area_s * 1000000) // n_sessions AS w_micro
FROM direct CROSS JOIN sweep
""",
)
def q_littles_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's-law audit over user sessions: time-averaged session
    concurrency L, arrival rate lambda, and mean session duration W —
    with L computed TWO independent ways that must agree exactly. The
    boundary sweep (+1 at session start, -1 at end, level x interval
    length summed over the merged timeline) measures the area under
    the concurrency curve; the direct route sums session durations.
    The two areas are equal by Fubini, so ``conservation_ok`` is a
    genuine cross-check of the sweep machinery (the same +1/-1 sweep
    powers q_concurrency_peak and q_rolling_wau) against straight-line
    arithmetic — on any dataset, at any scale, it must be true.

    Exactness: sessionization matches q_sessionize (gap > 7200 s);
    all times are integer epoch seconds; area <= horizon x peak
    concurrency (~3e10 here), so micro-unit ratios stay far inside
    BIGINT. Zero-length single-event sessions cancel in the delta
    merge and contribute zero to both routes.

    Scale shape: sessionize shuffles once on user_id; the sweep's
    global ordered prefix sum runs over the merged boundary table
    (2 x sessions rows, then grouped by timestamp). At 100 TB the
    sweep partitions by coarse time range with per-range boundary
    offsets — the documented range-partitioned prefix-sum pattern."""
    c = catalog(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("ts_s", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = c.events.select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("ts_s"),
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_timestamp("ts")
                - F.unix_timestamp(F.lag("ts").over(w))
                > 7200
            ),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = (
        flagged.withColumn("session_no", F.sum("new_sess").over(wrun))
        .groupBy("user_id", "session_no")
        .agg(
            F.min("ts_s").cast("bigint").alias("start_s"),
            F.max("ts_s").cast("bigint").alias("end_s"),
        )
    )
    deltas = (
        sess.select(F.col("start_s").alias("t_s"), F.lit(1).alias("d"))
        .unionAll(
            sess.select(F.col("end_s").alias("t_s"), F.lit(-1).alias("d"))
        )
        .groupBy("t_s")
        .agg(F.sum("d").cast("bigint").alias("delta"))
    )
    wt = Window.orderBy("t_s").rowsBetween(Window.unboundedPreceding, 0)
    sweep = (
        deltas.select(
            "t_s",
            F.sum("delta").over(wt).cast("bigint").alias("level"),
            F.lead("t_s").over(Window.orderBy("t_s")).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
        .agg(
            F.sum(F.col("level") * (F.col("nxt") - F.col("t_s")))
            .cast("bigint")
            .alias("area_s")
        )
    )
    direct = sess.agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.sum(F.col("end_s") - F.col("start_s"))
        .cast("bigint")
        .alias("total_duration_s"),
        (F.max("end_s") - F.min("start_s"))
        .cast("bigint")
        .alias("horizon_s"),
    )
    return direct.crossJoin(F.broadcast(sweep)).select(
        "n_sessions",
        "total_duration_s",
        F.col("area_s").alias("swept_area_s"),
        (F.col("area_s") == F.col("total_duration_s")).alias(
            "conservation_ok"
        ),
        # nullif: a zero-length horizon (every event at one instant)
        # leaves the rates undefined — NULL on both engines (DuckDB
        # // 0 -> NULL, ANSI div raises; degenerate fuzz fixture)
        F.expr(
            "(n_sessions * 1000000) div nullif(horizon_s, 0)"
        ).alias("lambda_micro"),
        F.expr("(area_s * 1000000) div nullif(horizon_s, 0)").alias(
            "l_micro"
        ),
        F.expr("(area_s * 1000000) div nullif(n_sessions, 0)").alias(
            "w_micro"
        ),
    )


@REGISTRY.register(
    "q_lttb_downsample",
    tags=("analytics", "timeseries"),
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS rev
  FROM orders GROUP BY CAST(o_orderdate AS DATE)
), idxed AS (
  SELECT day, rev,
         CAST(ROW_NUMBER() OVER (ORDER BY day) - 1 AS BIGINT) AS idx,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM daily
), pts AS (
  SELECT day, rev, idx, n,
         LEAST((idx * 60) // n, 59) AS b
  FROM idxed
), bstats AS (
  SELECT b, CAST(SUM(idx) AS BIGINT) AS sx,
         CAST(SUM(rev) AS BIGINT) AS sy,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM pts GROUP BY b
), anchored AS (
  SELECT b,
         LAG(sx)  OVER (ORDER BY b) AS psx,
         LAG(sy)  OVER (ORDER BY b) AS psy,
         LAG(cnt) OVER (ORDER BY b) AS pn,
         LEAD(sx)  OVER (ORDER BY b) AS nsx,
         LEAD(sy)  OVER (ORDER BY b) AS nsy,
         LEAD(cnt) OVER (ORDER BY b) AS nn
  FROM bstats
), scored AS (
  SELECT p.b, p.day, p.rev, p.idx,
         CASE WHEN a.pn IS NULL OR a.nn IS NULL THEN 0
              ELSE ABS((a.psx - p.idx * a.pn)
                         * (a.nsy * a.pn - a.psy * a.nn)
                       - (a.nsx * a.pn - a.psx * a.nn)
                         * (a.psy - p.rev * a.pn))
         END AS area2
  FROM pts p JOIN anchored a ON p.b = a.b
), picked AS (
  SELECT b, day, rev,
         ROW_NUMBER() OVER (PARTITION BY b ORDER BY
           CASE WHEN b = 0 THEN idx
                WHEN b = 59 THEN -idx
                ELSE -area2 END, idx) AS rn
  FROM scored
)
SELECT b AS bucket, STRFTIME(day, '%Y-%m-%d') AS day, rev
FROM picked WHERE rn = 1
""",
)
def q_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling of the daily
    revenue series to 60 points — the standard visual-fidelity
    downsampler (Steinarsson 2013): each bucket keeps the point
    forming the largest triangle with its neighbor buckets, so peaks
    and troughs survive where naive bucket-averaging flattens them.
    This is the FIXED-ANCHOR variant (both anchors are the adjacent
    buckets' mean points, not the previously selected point), which
    removes the sequential dependency and makes the pick per bucket
    independent — fully declarative and embarrassingly parallel.

    Exactness: the triangle area comparison is done on the
    cross-product magnitude cleared of denominators — with prev-bucket
    sums (Sx_p, Sy_p, n_p) and next (Sx_n, Sy_n, n_n), area ∝
    |(Sx_p - x*n_p)(Sy_n*n_p - Sy_p*n_n) - (Sx_n*n_p - Sx_p*n_n)
    (Sy_p - y*n_p)| / (n_p^2 * n_n); within a bucket the denominator
    is constant, so the integer numerator ranks candidates exactly
    (<= ~2.4e17 at 10x here — BIGINT-safe). First/last buckets keep
    their first/last point per the original algorithm; ties break on
    the earlier day.

    Scale shape: one map-side daily rollup (calendar-bounded), then
    60-row bucket stats joined back broadcast — the only data-sized
    stage is the first scan. The per-bucket argmax shuffles the
    day table once on bucket id."""
    c = catalog(spark, sf_dir)
    daily = c.orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice")).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )
    idxed = daily.select(
        "day",
        "rev",
        (F.row_number().over(Window.orderBy("day")) - 1)
        .cast("bigint")
        .alias("idx"),
        F.count("*")
        .over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("bigint")
        .alias("n"),
    )
    pts = idxed.select(
        "day",
        "rev",
        "idx",
        F.least(F.expr("(idx * 60) div n"), F.lit(59)).alias("b"),
    )
    bstats = pts.groupBy("b").agg(
        F.sum("idx").cast("bigint").alias("sx"),
        F.sum("rev").cast("bigint").alias("sy"),
        F.count("*").cast("bigint").alias("cnt"),
    )
    wb = Window.orderBy("b")
    anchored = bstats.select(
        "b",
        F.lag("sx").over(wb).alias("psx"),
        F.lag("sy").over(wb).alias("psy"),
        F.lag("cnt").over(wb).alias("pn"),
        F.lead("sx").over(wb).alias("nsx"),
        F.lead("sy").over(wb).alias("nsy"),
        F.lead("cnt").over(wb).alias("nn"),
    )
    scored = pts.join(F.broadcast(anchored), "b").select(
        "b",
        "day",
        "rev",
        "idx",
        F.when(
            F.col("pn").isNull() | F.col("nn").isNull(), F.lit(0)
        )
        .otherwise(
            F.abs(
                (F.col("psx") - F.col("idx") * F.col("pn"))
                * (F.col("nsy") * F.col("pn") - F.col("psy") * F.col("nn"))
                - (F.col("nsx") * F.col("pn") - F.col("psx") * F.col("nn"))
                * (F.col("psy") - F.col("rev") * F.col("pn"))
            )
        )
        .alias("area2"),
    )
    sort_key = (
        F.when(F.col("b") == 0, F.col("idx"))
        .when(F.col("b") == 59, -F.col("idx"))
        .otherwise(-F.col("area2"))
    )
    picked = scored.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("b").orderBy(sort_key, "idx")
        ),
    )
    return picked.filter(F.col("rn") == 1).select(
        F.col("b").alias("bucket"),
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "rev",
    )
