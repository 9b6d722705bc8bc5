"""Scalar function packs (SURVEY §2B): string / date / math / array /
map / JSON.

Catenae analog: arbitrary per-message Python inside ``transform()``.
Here every function is a built-in Column expression — JVM-side, inside
whole-stage codegen, never a Python round-trip.

Oracle note: for array/map packs the DuckDB SQL expresses the *expected
values* with DuckDB's own list/JSON functions (or plain SQL where
simpler) — the point is semantic equivalence of results, not syntactic
mirroring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from catenae_kafka_spark.catalog import catalog
from catenae_kafka_spark.functions.compat import half_up
from catenae_kafka_spark.registry import REGISTRY


@REGISTRY.register(
    "q_str_funcs",
    tags=("functions", "string"),
    oracle="""
SELECT c_custkey,
       UPPER(c_mktsegment) AS seg_up,
       LOWER(c_name) AS name_lo,
       TRIM(c_mktsegment || '  ') AS trimmed,
       SUBSTRING(c_name, 10, 9) AS cust_num,
       CAST(REGEXP_EXTRACT(c_name, '([0-9]+)$', 1) AS BIGINT) AS cust_id_parsed,
       REGEXP_REPLACE(c_name, '0+', '0', 'g') AS squeezed,
       LENGTH(c_name) AS name_len,
       LPAD(CAST(c_custkey AS VARCHAR), 12, '*') AS padded,
       SPLIT_PART(c_name, '#', 1) AS prefix,
       REVERSE(c_mktsegment) AS seg_rev,
       REPLACE(c_mktsegment, 'A', '@') AS seg_at,
       CASE WHEN c_name LIKE 'Customer#%' THEN 1 ELSE 0 END AS is_cust,
       POSITION('#' IN c_name) AS hash_pos
FROM customer
""",
)
def q_str_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String pack: case, trim, substring, regexp, pad, split, find."""
    c = catalog(spark, sf_dir)
    return c.customer.select(
        "c_custkey",
        F.upper("c_mktsegment").alias("seg_up"),
        F.lower("c_name").alias("name_lo"),
        F.trim(F.concat(F.col("c_mktsegment"), F.lit("  "))).alias("trimmed"),
        F.substring("c_name", 10, 9).alias("cust_num"),
        F.regexp_extract("c_name", r"([0-9]+)$", 1).cast("long").alias(
            "cust_id_parsed"
        ),
        F.regexp_replace("c_name", "0+", "0").alias("squeezed"),
        F.length("c_name").alias("name_len"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "*").alias("padded"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(1)).alias("prefix"),
        F.reverse(F.col("c_mktsegment")).alias("seg_rev"),
        F.replace(F.col("c_mktsegment"), F.lit("A"), F.lit("@")).alias("seg_at"),
        F.when(F.col("c_name").like("Customer#%"), 1).otherwise(0).alias("is_cust"),
        F.instr(F.col("c_name"), "#").alias("hash_pos"),
    )


@REGISTRY.register(
    "q_date_funcs",
    tags=("functions", "date"),
    oracle="""
SELECT o_orderkey,
       CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
       CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS mo,
       CAST(EXTRACT(day FROM o_orderdate) AS INTEGER) AS dom,
       CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
       CAST(EXTRACT(quarter FROM o_orderdate) AS INTEGER) AS qtr,
       STRFTIME(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
       CAST(datediff('day', o_orderdate, TIMESTAMP '2002-01-01') AS INTEGER)
         AS days_to_2002,
       STRFTIME(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d') AS due_date,
       STRFTIME(last_day(o_orderdate), '%Y-%m-%d') AS eom,
       CAST(EXTRACT(doy FROM o_orderdate) AS INTEGER) AS doy
FROM orders
""",
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date pack: extract, trunc, diff, add, last_day.

    Cross-engine notes: Spark dayofweek is 1(Sun)..7, DuckDB
    dayofweek is 0(Sun)..6 → +1 in the oracle; EXTRACT returns BIGINT
    in DuckDB → cast to INTEGER; date arithmetic emitted as formatted
    strings (date-object pandas dtypes differ between engines).
    """
    c = catalog(spark, sf_dir)
    d = F.col("o_orderdate")
    return c.orders.select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.month(d).alias("mo"),
        F.dayofmonth(d).alias("dom"),
        F.dayofweek(d).alias("dow"),
        F.quarter(d).alias("qtr"),
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
        F.datediff(F.lit("2002-01-01").cast("date"), d).alias("days_to_2002"),
        F.date_format(F.date_add(d, 90), "yyyy-MM-dd").alias("due_date"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("eom"),
        F.dayofyear(d).alias("doy"),
    )


@REGISTRY.register(
    "q_math_funcs",
    tags=("functions", "math"),
    oracle="""
SELECT l_orderkey, l_linenumber,
       ROUND(l_extendedprice, 0) AS price_r0,
       CAST(FLOOR(l_extendedprice / 1000) AS BIGINT) AS price_k_floor,
       CAST(CEIL(l_discount * 100) AS BIGINT) AS disc_pct_ceil,
       ABS(l_quantity - 25) AS qty_dev,
       ROUND(POW(l_quantity, 2), 4) AS qty_sq,
       ROUND(SQRT(l_extendedprice), 6) AS price_sqrt,
       ROUND(LN(l_extendedprice + 1), 6) AS price_ln,
       ROUND(LOG10(l_extendedprice + 1), 6) AS price_log10,
       ROUND(EXP(l_discount), 6) AS disc_exp,
       CAST(SIGN(l_quantity - 25) AS DOUBLE) AS qty_sign,
       l_orderkey % 7 AS key_mod,
       GREATEST(l_quantity, 25.0) AS qty_hi,
       LEAST(l_quantity, 25.0) AS qty_lo
FROM lineitem
""",
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math pack. Transcendentals (pow/sqrt/ln/exp) rounded to 6dp —
    JVM StrictMath vs C libm can differ in the last ulp."""
    c = catalog(spark, sf_dir)
    price = F.col("l_extendedprice")
    qty = F.col("l_quantity")
    return c.lineitem.select(
        "l_orderkey",
        "l_linenumber",
        F.round(price, 0).alias("price_r0"),
        F.floor(price / 1000).alias("price_k_floor"),
        F.ceil(F.col("l_discount") * 100).alias("disc_pct_ceil"),
        F.abs(qty - 25).alias("qty_dev"),
        F.round(F.pow(qty, 2), 4).alias("qty_sq"),
        F.round(F.sqrt(price), 6).alias("price_sqrt"),
        F.round(F.log(price + 1), 6).alias("price_ln"),
        F.round(F.log10(price + 1), 6).alias("price_log10"),
        F.round(F.exp("l_discount"), 6).alias("disc_exp"),
        F.signum(qty - 25).alias("qty_sign"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
        F.greatest(qty, F.lit(25.0)).alias("qty_hi"),
        F.least(qty, F.lit(25.0)).alias("qty_lo"),
    )


@REGISTRY.register(
    "q_array_funcs",
    tags=("functions", "array"),
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
)
SELECT doc_id,
       CAST(len(words) AS INTEGER) AS n_words,
       CAST(list_contains(words, 'data') AS BOOLEAN) AS has_data,
       array_to_string(words[1:3], '|') AS first3,
       list_sort(words)[1] AS first_alpha,
       array_to_string(list_transform(words[1:1], w -> upper(w)), '') AS head_up,
       CAST(len(list_filter(words, w -> length(w) > 4)) AS INTEGER) AS n_long,
       CAST(list_sum(list_transform(words, w -> length(w))) AS BIGINT) AS total_chars
FROM toks
""",
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array pack incl. higher-order functions (transform/filter/
    aggregate) — all JVM-side, no UDFs; scalars out (raw array
    stringification is not engine-stable)."""
    c = catalog(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    return c.documents.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.array_contains(words, "data").alias("has_data"),
        F.array_join(F.slice(words, 1, 3), "|").alias("first3"),
        F.array_sort(words)[0].alias("first_alpha"),
        F.upper(words[0]).alias("head_up"),
        F.size(F.filter(words, lambda w: F.length(w) > 4)).alias("n_long"),
        F.aggregate(
            words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        ).alias("total_chars"),
    )


@REGISTRY.register(
    "q_map_funcs",
    tags=("functions", "map"),
    oracle="""
SELECT event_id,
       'type,user' AS keys_joined,
       event_type AS type_val,
       CAST(user_id AS VARCHAR) AS user_val,
       2 AS n_entries
FROM events
""",
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map pack: build a map column, then extract keys/values/size.
    The oracle states the expected values in plain SQL — it verifies the
    map operators' *semantics*, not their syntax."""
    c = catalog(spark, sf_dir)
    m = F.create_map(
        F.lit("type"),
        F.col("event_type"),
        F.lit("user"),
        F.col("user_id").cast("string"),
    )
    return c.events.select(
        "event_id",
        F.array_join(F.map_keys(m), ",").alias("keys_joined"),
        F.element_at(m, "type").alias("type_val"),
        F.element_at(m, "user").alias("user_val"),
        F.size(m).alias("n_entries"),
    )


@REGISTRY.register(
    "q_json_funcs",
    tags=("functions", "json"),
    oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS INTEGER) AS k_val,
       CAST(json_extract(props, '$.k') AS INTEGER) % 5 AS k_bucket,
       CAST(json_extract(props, '$.missing') AS INTEGER) AS absent
FROM events
""",
)
def q_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON pack: path extraction (get_json_object + from_json schema
    parse agree), missing path → NULL."""
    c = catalog(spark, sf_dir)
    parsed = F.from_json(
        F.col("props"), T.StructType([T.StructField("k", T.IntegerType())])
    )
    return c.events.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
        (parsed["k"] % 5).alias("k_bucket"),
        F.get_json_object("props", "$.missing").cast("int").alias("absent"),
    )


@REGISTRY.register(
    "q_vector_funcs",
    tags=("functions", "llm", "similarity"),
    oracle="""
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings WHERE vec_id < 32
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.e AS ea, b.e AS eb
  FROM v a JOIN v b ON b.vec_id = a.vec_id + 1
)
SELECT id_a, id_b,
       ROUND(list_sum(list_transform(generate_series(1, 64), i -> ea[i] * eb[i])), 6) AS dot,
       ROUND(sqrt(list_sum(list_transform(ea, x -> x * x))), 6) AS norm_a,
       ROUND(list_sum(list_transform(generate_series(1, 64),
                                     i -> abs(ea[i] - eb[i]))), 6) AS l1_dist,
       ROUND(sqrt(list_sum(list_transform(generate_series(1, 64),
                                          i -> (ea[i] - eb[i]) * (ea[i] - eb[i])))), 6) AS l2_dist,
       ROUND(list_sum(list_transform(generate_series(1, 64), i -> ea[i] * eb[i]))
             / (sqrt(list_sum(list_transform(ea, x -> x * x)))
                * sqrt(list_sum(list_transform(eb, x -> x * x)))), 6) AS cos_sim
FROM pairs
""",
)
def q_vector_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector math pack over embedding columns, entirely in higher-order
    functions (zip_with + aggregate — JVM-side, no UDF): dot product,
    L2 norm, L1/L2 distance, cosine. The building blocks every
    embedding-pipeline operator (ANN, near-dup, clustering) composes;
    consecutive-id pairs keep the check set small and deterministic."""
    c = catalog(spark, sf_dir)
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    v = c.embeddings.filter(F.col("vec_id") < 32).select("vec_id", e.alias("e"))
    a = v.select(F.col("vec_id").alias("id_a"), F.col("e").alias("ea"))
    b = v.select(F.col("vec_id").alias("id_b"), F.col("e").alias("eb"))
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1)

    def _sum(arr):
        return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)

    dot = _sum(F.zip_with("ea", "eb", lambda x, y: x * y))
    norm_a = F.sqrt(_sum(F.transform(F.col("ea"), lambda x: x * x)))
    norm_b = F.sqrt(_sum(F.transform(F.col("eb"), lambda x: x * x)))
    l1 = _sum(F.zip_with("ea", "eb", lambda x, y: F.abs(x - y)))
    l2 = F.sqrt(_sum(F.zip_with("ea", "eb", lambda x, y: (x - y) * (x - y))))
    return pairs.select(
        "id_a",
        "id_b",
        F.round(dot, 6).alias("dot"),
        F.round(norm_a, 6).alias("norm_a"),
        F.round(l1, 6).alias("l1_dist"),
        F.round(l2, 6).alias("l2_dist"),
        F.round(dot / (norm_a * norm_b), 6).alias("cos_sim"),
    )


@REGISTRY.register(
    "q_bitwise_funcs",
    tags=("functions",),
    oracle="""
SELECT o_orderkey,
       o_orderkey & 255 AS low_byte,
       o_orderkey | 15 AS or15,
       xor(o_orderkey, 12345) AS xored,
       o_orderkey << 2 AS shl2,
       o_orderkey >> 3 AS shr3,
       CAST(bit_count(o_orderkey) AS INTEGER) AS popcount
FROM orders
WHERE o_orderkey < 500
""",
)
def q_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise pack: and/or/xor, shifts, popcount — the primitives
    SimHash banding, bloom filters, and bitmap indexes are made of.
    All JVM-side Column ops, codegen-friendly."""
    c = catalog(spark, sf_dir)
    k = F.col("o_orderkey")
    return c.orders.filter(k < 500).select(
        "o_orderkey",
        k.bitwiseAND(255).alias("low_byte"),
        k.bitwiseOR(15).alias("or15"),
        k.bitwiseXOR(12345).alias("xored"),
        F.shiftleft(k, 2).alias("shl2"),
        F.shiftright(k, 3).alias("shr3"),
        F.bit_count(k).alias("popcount"),
    )


@REGISTRY.register(
    "q_date_spine",
    tags=("functions", "generator"),
    oracle="""
WITH spine AS (
  SELECT unnest(generate_series(DATE '1995-01-01', DATE '1995-03-31',
                                INTERVAL 1 DAY))::DATE AS day
)
SELECT STRFTIME(s.day, '%Y-%m-%d') AS day,
       CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
FROM spine s
LEFT JOIN orders ON CAST(o_orderdate AS DATE) = s.day
GROUP BY s.day
""",
)
def q_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar spine (sequence + explode — no source table)
    left-joined to facts, so empty days appear as zero rows: the
    gap-free time-series scaffold reporting pipelines need. Facts
    aggregate to per-day counts FIRST (day-cardinality result), and
    that small aggregate broadcasts into the spine join — a broadcast
    hint on the spine itself would be ignored (the preserved side of a
    left join cannot be the build side)."""
    c = catalog(spark, sf_dir)
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("1995-03-31").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    per_day = (
        c.orders.select(F.col("o_orderdate").cast("date").alias("od"))
        .groupBy("od")
        .agg(F.count("*").alias("n"))
    )
    return (
        spine.join(F.broadcast(per_day), spine.day == per_day.od, "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n_orders"),
        )
    )


@REGISTRY.register(
    "q_explode_outer",
    tags=("functions", "lateral"),
    oracle="""
WITH src AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN []
              ELSE string_split(text, ' ')[1:3] END AS toks
  FROM documents WHERE doc_id < 30
)
SELECT s.doc_id, u.tok
FROM src s LEFT JOIN (
  SELECT doc_id, unnest(toks) AS tok FROM src
) u USING (doc_id)
""",
)
def q_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: rows with empty arrays survive as (id, NULL)
    instead of vanishing — the join-preserving unnest. Every third doc
    gets an empty token array to exercise exactly that path."""
    c = catalog(spark, sf_dir)
    toks = F.when(
        F.col("doc_id") % 3 == 0, F.array().cast("array<string>")
    ).otherwise(F.slice(F.split("text", " "), 1, 3))
    src = c.documents.filter(F.col("doc_id") < 30).select(
        "doc_id", toks.alias("toks")
    )
    return src.select("doc_id", F.explode_outer("toks").alias("tok"))


@REGISTRY.register(
    "q_regexp_extract_all",
    tags=("functions",),
    oracle="""
SELECT p_partkey,
       COALESCE(array_to_string(regexp_extract_all(p_name, '[a-z]+a'), '|'), '') AS a_words,
       CAST(COALESCE(len(regexp_extract_all(p_name, '[a-z]+a')), 0) AS INTEGER) AS n_a_words
FROM part
WHERE p_partkey < 200
""",
)
def q_regexp_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all: every match as an array (vs the single-match
    extract in the string pack) — the tokenizer-by-pattern primitive."""
    c = catalog(spark, sf_dir)
    pat = r"[a-z]+a"
    return c.part.filter(F.col("p_partkey") < 200).select(
        "p_partkey",
        F.array_join(
            F.regexp_extract_all("p_name", F.lit(pat), 0), "|"
        ).alias("a_words"),
        F.size(F.regexp_extract_all("p_name", F.lit(pat), 0)).alias("n_a_words"),
    )


@REGISTRY.register(
    "q_try_funcs",
    tags=("functions", "ansi"),
    oracle="""
SELECT event_id,
       value / NULLIF(value - value, 0) AS div_by_zero,
       TRY_CAST(event_type AS INTEGER) AS bad_int,
       TRY_CAST(event_type AS TIMESTAMP) AS bad_ts,
       TRY_CAST(CAST(user_id AS VARCHAR) AS INTEGER) AS good_int
FROM events
""",
)
def q_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe error-tolerant functions (Spark 4 runs under ANSI SQL
    semantics where /0 and bad casts RAISE): try_divide / try_cast turn
    per-row failures into NULLs instead of killing a 100 TB job on one
    malformed record — the ingest-pipeline posture. Oracle states the
    same null semantics via NULLIF and DuckDB TRY_CAST."""
    c = catalog(spark, sf_dir)
    return c.events.select(
        "event_id",
        F.try_divide(F.col("value"), F.col("value") - F.col("value")).alias(
            "div_by_zero"
        ),
        F.col("event_type").try_cast("int").alias("bad_int"),
        F.col("event_type").try_cast("timestamp").alias("bad_ts"),
        F.col("user_id").cast("string").try_cast("int").alias("good_int"),
    )


@REGISTRY.register(
    "q_struct_funcs",
    tags=("functions", "struct"),
    oracle="""
WITH ranked AS (
  SELECT l_orderkey, l_linenumber, l_extendedprice,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY l_extendedprice DESC, l_linenumber) AS rn,
         COUNT(*) OVER (PARTITION BY l_orderkey) AS n_items,
         SUM(l_extendedprice) OVER (PARTITION BY l_orderkey) AS total
  FROM lineitem
)
SELECT l_orderkey,
       CAST(n_items AS BIGINT) AS n_items,
       CAST(l_linenumber AS BIGINT) AS top_ln,
       ROUND(l_extendedprice, 2) AS top_price,
       ROUND(total, 4) AS total_price
FROM ranked WHERE rn = 1
""",
)
def q_struct_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct pack: nested arrays-of-structs built per group
    (collect_list(struct)), then consumed entirely by higher-order
    functions — comparator-lambda array_sort over struct fields (top
    item = max price, ties by line number) and an aggregate() fold
    reading a struct field. The nested shape never crosses a second
    shuffle: one groupBy builds it, expressions tear it down map-side.
    This is the typed-columnar answer to the reference's pickled
    nested Python objects (SURVEY §1.2)."""
    c = catalog(spark, sf_dir)
    item = F.struct(
        F.col("l_linenumber").alias("ln"),
        F.col("l_extendedprice").alias("price"),
    )
    grouped = c.lineitem.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list(item)).alias("items")
    )
    by_price = F.array_sort(
        F.col("items"),
        lambda a, b: F.when(a["price"] < b["price"], 1)
        .when(a["price"] > b["price"], -1)
        .otherwise((a["ln"] - b["ln"]).cast("int")),
    )
    top = F.element_at(by_price, 1)
    total = F.aggregate(
        F.col("items"), F.lit(0.0), lambda acc, x: acc + x["price"]
    )
    return grouped.select(
        "l_orderkey",
        F.size("items").cast("long").alias("n_items"),
        top["ln"].cast("long").alias("top_ln"),
        F.round(top["price"], 2).alias("top_price"),
        F.round(total, 4).alias("total_price"),
    )


@REGISTRY.register(
    "q_calendar_tz_contract",
    tags=("functions", "datetime", "contract"),
    oracle="""
SELECT STRFTIME(ts, '%Y-%m-%d') AS day,
       CAST(MIN(weekofyear(ts)) AS INT) AS iso_week,
       CAST(MIN(isoyear(ts)) AS INT) AS iso_year,
       CAST(MIN(dayofyear(ts)) AS INT) AS day_of_year,
       CAST(MIN(quarter(ts)) AS INT) AS qtr,
       CAST(MIN(EXTRACT(hour FROM ts AT TIME ZONE 'UTC'
                        AT TIME ZONE 'Asia/Tokyo')) AS INT) AS hr_tokyo,
       CAST(MIN(EXTRACT(hour FROM ts AT TIME ZONE 'UTC'
                        AT TIME ZONE 'America/New_York')) AS INT)
         AS hr_nyc,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
WHERE event_id % 97 = 0
GROUP BY STRFTIME(ts, '%Y-%m-%d')
""",
)
def q_calendar_tz_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar + timezone semantics contract: ISO week/year,
    day-of-year, quarter, and wall-clock hours after converting the
    UTC event time into two IANA zones (one east, one west of UTC,
    both DST-free in the fixture's January window) — pinned
    cross-engine because calendar functions are where engines disagree
    silently (week numbering conventions, 1- vs 0-based weekdays,
    session-timezone leakage).

    MIN() per day collapses the deterministic per-day values (every
    event on a day shares them at the hour sampled); the 1/97 row
    gate keeps the contract cheap. Spark's weekofyear is ISO 8601,
    matching DuckDB's weekofyear; from_utc_timestamp mirrors the
    double AT TIME ZONE hop."""
    c = catalog(spark, sf_dir)
    ev = c.events.filter(F.col("event_id") % 97 == 0)
    return ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.min(F.weekofyear("ts")).cast("int").alias("iso_week"),
        F.min(F.expr("extract(yearofweek from ts)")).cast("int").alias("iso_year"),
        F.min(F.dayofyear("ts")).cast("int").alias("day_of_year"),
        F.min(F.quarter("ts")).cast("int").alias("qtr"),
        F.min(
            F.hour(F.from_utc_timestamp("ts", "Asia/Tokyo"))
        )
        .cast("int")
        .alias("hr_tokyo"),
        F.min(
            F.hour(F.from_utc_timestamp("ts", "America/New_York"))
        )
        .cast("int")
        .alias("hr_nyc"),
        F.count("*").alias("n"),
    )


@REGISTRY.register(
    "q_unicode_contract",
    tags=("functions", "format-edge"),
    oracle="""
SELECT n_name,
       n_name || ' — café 中文 Ümläut' AS decorated,
       CAST(LENGTH(n_name || ' — café 中文 Ümläut')
            AS BIGINT) AS n_chars,
       CAST(strlen(n_name || ' — café 中文 Ümläut')
            AS BIGINT) AS n_bytes,
       UPPER('café Ümläut') AS upper_latin,
       REVERSE('café') AS reversed_accent
FROM nation WHERE n_nationkey < 5
""",
)
def q_unicode_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode handling contract: strings decorated with multibyte
    content (em dash, accented Latin, CJK) must agree across engines
    on CHARACTER length vs BYTE length, case mapping of non-ASCII
    Latin, and codepoint-wise reversal (a naive byte reversal would
    shred the UTF-8 sequences) — the i18n floor a text pipeline must
    clear before any of the text operators upstream can be trusted on
    non-English corpora.

    Both engines operate on UTF-8 codepoints for LENGTH/UPPER/REVERSE
    and bytes for octet length; the probe makes that contract a
    hash-checked fact instead of an assumption.

    Scale shape: map-only expressions on a 5-row dimension slice."""
    c = catalog(spark, sf_dir)
    deco = F.concat(F.col("n_name"), F.lit(" — café 中文 Ümläut"))
    return c.nation.filter(F.col("n_nationkey") < 5).select(
        "n_name",
        deco.alias("decorated"),
        F.length(deco).cast("bigint").alias("n_chars"),
        F.octet_length(deco).cast("bigint").alias("n_bytes"),
        F.upper(F.lit("café Ümläut")).alias("upper_latin"),
        F.reverse(F.lit("café")).alias("reversed_accent"),
    )


@REGISTRY.register(
    "q_month_arithmetic_contract",
    tags=("functions", "datetime", "contract"),
    oracle="""
WITH probes AS (
  SELECT * FROM (VALUES
    (DATE '2024-01-31'), (DATE '2024-02-29'), (DATE '2023-02-28'),
    (DATE '2024-08-31'), (DATE '2024-12-31'), (DATE '2021-01-29'),
    (DATE '2024-03-31'), (DATE '2024-11-30')
  ) t(d)
)
SELECT STRFTIME(d, '%Y-%m-%d') AS probe_day,
       STRFTIME(d + INTERVAL 1 MONTH, '%Y-%m-%d') AS plus_1mo,
       STRFTIME(d + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus_3mo,
       STRFTIME(d - INTERVAL 1 MONTH, '%Y-%m-%d') AS minus_1mo,
       STRFTIME(d + INTERVAL 12 MONTH, '%Y-%m-%d') AS plus_1yr,
       STRFTIME(d + 30, '%Y-%m-%d') AS plus_30d,
       CAST(d = last_day(d) AS BOOLEAN) AS is_month_end,
       STRFTIME(last_day(d + INTERVAL 1 MONTH), '%Y-%m-%d')
         AS next_month_end
FROM probes
""",
)
def q_month_arithmetic_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-arithmetic semantics contract: end-of-month clamping
    (Jan 31 + 1 month = Feb 29 in a leap year, Feb 28 otherwise),
    leap-day year arithmetic (Feb 29 + 12 months = Feb 28), and the
    add-days / add-months divergence (Jan 31 + 30 days != + 1 month) —
    pinned across engines on fixed probe dates because month addition
    is the classic silent-drift spot between calendar libraries
    (clamp vs overflow vs error), and every billing/retention cohort
    query depends on which one the engine does.

    Both engines clamp: the hash match IS the proof the contract
    holds. The probe set covers leap/non-leap Februaries, 31->30 day
    transitions, and year boundaries. Oracle gotcha (environment
    fact #38): DuckDB interval CONSTANTS compare equal under calendar
    equivalence (INTERVAL 1 MONTH == INTERVAL 30 DAY), so common-
    subexpression elimination silently merges STRFTIME(d + 1 MONTH)
    with STRFTIME(d + 30 DAY) in one SELECT — day arithmetic in
    oracles must use date + integer instead.

    Scale: constant 8-row table; the value is the pinned semantics,
    not throughput."""
    probes = spark.createDataFrame(
        [
            ("2024-01-31",), ("2024-02-29",), ("2023-02-28",),
            ("2024-08-31",), ("2024-12-31",), ("2021-01-29",),
            ("2024-03-31",), ("2024-11-30",),
        ],
        "ds string",
    ).select(F.to_date("ds").alias("d"))
    fmt = lambda c: F.date_format(c, "yyyy-MM-dd")  # noqa: E731
    return probes.select(
        fmt("d").alias("probe_day"),
        fmt(F.add_months("d", 1)).alias("plus_1mo"),
        fmt(F.add_months("d", 3)).alias("plus_3mo"),
        fmt(F.add_months("d", -1)).alias("minus_1mo"),
        fmt(F.add_months("d", 12)).alias("plus_1yr"),
        fmt(F.date_add("d", 30)).alias("plus_30d"),
        (F.col("d") == F.last_day("d")).alias("is_month_end"),
        fmt(F.last_day(F.add_months("d", 1))).alias("next_month_end"),
    )


@REGISTRY.register(
    "q_hof_map_funcs",
    tags=("functions", "higher-order"),
    oracle="""
WITH cells AS (
  SELECT event_type, DAYOFWEEK(ts) + 1 AS dow,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY event_type, dow
)
SELECT event_type,
       string_agg('d' || dow || '=' || (n * 2), ',' ORDER BY dow)
         AS doubled_counts,
       string_agg('d' || dow || '=' || (cents // n), ',' ORDER BY dow)
         AS avg_cents_map,
       CAST(SUM(CASE WHEN n > 100 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_busy_days,
       MAX(n) > 100 AS has_busy_day,
       MIN(n) > 0 AS all_positive
FROM cells GROUP BY event_type
""",
)
def q_hof_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions (the HOF surface q_array_funcs /
    q_vector_funcs leave out): build a day-of-week -> count map per
    event type, then transform_keys (int -> 'd'||k label),
    transform_values (x2), map_zip_with (merge the count map with the
    cents map into per-day averages), map_filter (busy days only),
    and exists / forall over the map values — every map-typed lambda
    executes JVM-side inside the same projection.

    The oracle rebuilds the canonical sorted 'k=v' entry strings with
    plain GROUP BY + ordered string_agg — proving the map pipeline's
    CONTENT, not its storage shape (maps are unordered, so equality
    is only meaningful on the sorted serialization).

    Scale shape: one (type, dow)-grain aggregation; maps are bounded
    at 7 entries per type, built and torn down map-side. Oracle
    gotcha: DuckDB DAYOFWEEK is 0=Sunday, Spark dayofweek is
    1=Sunday — the oracle shifts by +1 (environment fact #39; only
    bites when the dow VALUE is in the output, which is why
    q_chi_square never saw it)."""
    c = catalog(spark, sf_dir)
    cells = c.events.groupBy(
        "event_type", F.dayofweek("ts").alias("dow")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(half_up("value", 100))
        .cast("bigint")
        .alias("cents"),
    )
    maps = cells.groupBy("event_type").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("dow", "n")))
        ).alias("cnt_map"),
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("dow", "cents")))
        ).alias("cents_map"),
    )
    labeled = maps.select(
        "event_type",
        F.transform_keys(
            F.transform_values(
                F.col("cnt_map"), lambda _, v: v * 2
            ),
            lambda k, _: F.concat(F.lit("d"), k.cast("string")),
        ).alias("doubled"),
        F.map_zip_with(
            "cnt_map",
            "cents_map",
            # (cents - cents%n)/n is an exactly-representable integer
            # quotient, so the double division cannot round across a
            # boundary (plain cents/n cast could)
            lambda _, n, cents: ((cents - cents % n) / n).cast("bigint"),
        ).alias("avg_raw"),
        F.map_filter("cnt_map", lambda _, v: v > 100).alias("busy"),
        F.exists(F.map_values("cnt_map"), lambda v: v > 100).alias(
            "has_busy_day"
        ),
        F.forall(F.map_values("cnt_map"), lambda v: v > 0).alias(
            "all_positive"
        ),
    )

    def _canon(mcol):
        entries = F.transform(
            F.sort_array(F.map_entries(mcol)),
            lambda e: F.concat(
                F.lit("d"), e["key"].cast("string"), F.lit("="),
                e["value"].cast("string"),
            ),
        )
        return F.array_join(entries, ",")

    return labeled.select(
        "event_type",
        F.array_join(
            F.transform(
                F.sort_array(F.map_entries("doubled")),
                lambda e: F.concat(
                    e["key"], F.lit("="), e["value"].cast("string")
                ),
            ),
            ",",
        ).alias("doubled_counts"),
        _canon(F.col("avg_raw")).alias("avg_cents_map"),
        F.size(F.map_keys("busy")).cast("bigint").alias("n_busy_days"),
        "has_busy_day",
        "all_positive",
    )


@REGISTRY.register(
    "q_parse_url_funcs",
    tags=("functions", "string", "etl"),
    oracle="""
WITH urls AS (
  SELECT doc_id,
         'https://' || source || '.example.com/docs/' || lang
           || '/' || doc_id || '?chars=' || n_chars || '#frag' AS url
  FROM documents
)
SELECT doc_id,
       regexp_extract(url, '^([a-z]+)://', 1) AS proto,
       regexp_extract(url, '://([^/]+)/', 1) AS host,
       regexp_extract(url, '://[^/]+(/[^?#]*)', 1) AS path,
       regexp_extract(url, '\\?([^#]*)', 1) AS query,
       regexp_extract(url, 'chars=([0-9]+)', 1) AS chars_param
FROM urls
""",
)
def q_parse_url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing surface (parse_url): protocol, host, path, query
    string and a single query parameter, extracted from URLs
    synthesized deterministically off the documents table — the
    clickstream/weblog ETL function family. Spark's parse_url is a
    dedicated JVM function (HOST/PATH/QUERY/QUERY:key parts); the
    oracle proves the same semantics with anchored regexes, which is
    exactly what an engine WITHOUT parse_url must write by hand —
    the query doubles as the migration recipe in both directions.

    Scale: map-only projection, no shuffle."""
    c = catalog(spark, sf_dir)
    urls = c.documents.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/docs/"),
            F.col("lang"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
            F.lit("?chars="),
            F.col("n_chars").cast("string"),
            F.lit("#frag"),
        ).alias("url"),
    )
    return urls.select(
        "doc_id",
        F.expr("parse_url(url, 'PROTOCOL')").alias("proto"),
        F.expr("parse_url(url, 'HOST')").alias("host"),
        F.expr("parse_url(url, 'PATH')").alias("path"),
        F.expr("parse_url(url, 'QUERY')").alias("query"),
        F.expr("parse_url(url, 'QUERY', 'chars')").alias("chars_param"),
    )


@REGISTRY.register(
    "q_regr_funcs",
    tags=("functions", "statistics"),
    oracle="""
SELECT l_returnflag,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
       ROUND(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
       ROUND(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
       ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
       ROUND(regr_avgx(l_extendedprice, l_quantity), 6) AS avg_x,
       ROUND(regr_avgy(l_extendedprice, l_quantity), 6) AS avg_y
FROM lineitem GROUP BY l_returnflag
""",
)
def q_regr_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in linear-regression AGGREGATES (regr_slope / intercept /
    r2 / count / avgx / avgy) — the SQL-standard one-pass OLS family
    both engines ship natively, here fitting price ~ quantity per
    return flag. Complements q_agg_regression (hand-built from power
    sums) by exercising the engine-native aggregate path: partial
    aggregation and merge come from the engine's own regr state, so
    the fit runs map-side-combinable at any scale.

    Portability: the two engines accumulate regr state differently
    (ULP-level drift observed in probes), so every statistic is
    rounded 6dp; values here are O(1)-O(1e5), far from the round
    boundary."""
    c = catalog(spark, sf_dir)
    c.lineitem.createOrReplaceTempView("lineitem")
    return spark.sql("""
      SELECT l_returnflag,
             CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
             ROUND(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
             ROUND(regr_intercept(l_extendedprice, l_quantity), 6)
               AS intercept,
             ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
             ROUND(regr_avgx(l_extendedprice, l_quantity), 6) AS avg_x,
             ROUND(regr_avgy(l_extendedprice, l_quantity), 6) AS avg_y
      FROM lineitem GROUP BY l_returnflag
    """)


@REGISTRY.register(
    "q_hof_array_lambdas",
    tags=("functions", "array", "hof"),
    oracle="""
WITH arr AS (
  SELECT l_orderkey,
         list(CAST(l_quantity AS BIGINT) ORDER BY l_linenumber, l_quantity) AS qtys
  FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey,
       array_to_string(list_sort(qtys, 'DESC'), ',') AS sorted_desc,
       array_to_string(list_transform(qtys, (x, i) -> x * i), ',')
         AS idx_weighted,
       COALESCE(array_to_string(list_filter(qtys, x -> x % 2 = 0), ','),
                '') AS evens,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), qtys),
                        (acc, x) -> (acc * 31 + x) % 1000000007)
            AS BIGINT) AS checksum,
       list_has_any(qtys, [1, 50]) AS has_extreme
FROM arr
""",
)
def q_hof_array_lambdas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order-function surface beyond q_array_funcs:
    COMPARATOR array_sort (custom (a,b) lambda, here descending),
    index-aware transform ((x, i) lambda — Spark indexes from 0 and
    DuckDB from 1, so the Spark side uses i+1 to pin ONE documented
    semantics), filter, seeded fold (aggregate with a 31x polynomial
    checksum — DuckDB's list_reduce has no seed, so the oracle
    prepends the zero seed), and arrays_overlap/list_has_any. All
    evaluate inside whole-stage codegen on the per-order array — no
    explode, no shuffle beyond the orderkey rollup."""
    c = catalog(spark, sf_dir)
    arr = c.lineitem.groupBy("l_orderkey").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(l_linenumber, "
            "CAST(l_quantity AS BIGINT) AS q))), s -> s.q)"
        ).alias("qtys")
    )
    return arr.select(
        "l_orderkey",
        F.expr(
            "array_join(array_sort(qtys, (a, b) -> CASE WHEN a < b THEN 1 "
            "WHEN a > b THEN -1 ELSE 0 END), ',')"
        ).alias("sorted_desc"),
        F.expr(
            "array_join(transform(qtys, (x, i) -> x * (i + 1)), ',')"
        ).alias("idx_weighted"),
        F.expr("array_join(filter(qtys, x -> x % 2 = 0), ',')").alias(
            "evens"
        ),
        F.expr(
            "aggregate(qtys, CAST(0 AS BIGINT),"
            " (acc, x) -> (acc * 31 + x) % 1000000007)"
        ).alias("checksum"),
        F.expr("arrays_overlap(qtys, array(1, 50))").alias("has_extreme"),
    )


@REGISTRY.register(
    "q_listagg_ordered",
    tags=("functions", "agg", "string"),
    oracle="""
SELECT n_name,
       string_agg(seg, ',' ORDER BY cents DESC, seg) AS segs_by_balance,
       string_agg(DISTINCT seg, '|' ORDER BY seg) AS segs_distinct
FROM (
  SELECT n_name, c_mktsegment AS seg,
         CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, c_mktsegment
)
GROUP BY n_name
""",
)
def q_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG ... WITHIN GROUP (ORDER BY ...) — the SQL:2016 ordered
    string aggregation Spark gained in 4.0, here emitting each
    nation's market segments ordered by total balance plus the
    DISTINCT variant. The deterministic ORDER BY inside the aggregate
    is the point: collect_list + array_join gives no ordering
    guarantee after a shuffle, while listagg's sort is part of the
    aggregate's contract on both engines (DuckDB spells it
    string_agg(... ORDER BY ...)).

    Note listagg DISTINCT requires the sort key to BE the aggregated
    expression — a distinct list can only be ordered by itself."""
    c = catalog(spark, sf_dir)
    c.customer.createOrReplaceTempView("customer")
    c.nation.createOrReplaceTempView("nation")
    return spark.sql("""
      SELECT n_name,
             listagg(seg, ',')
               WITHIN GROUP (ORDER BY cents DESC, seg) AS segs_by_balance,
             listagg(DISTINCT seg, '|')
               WITHIN GROUP (ORDER BY seg) AS segs_distinct
      FROM (
        SELECT n_name, c_mktsegment AS seg,
               CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name, c_mktsegment
      )
      GROUP BY n_name
    """)


@REGISTRY.register(
    "q_stack_inline",
    tags=("functions", "generator"),
    oracle="""
WITH per AS (
  SELECT o_orderpriority AS prio,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust
  FROM orders GROUP BY prio
)
SELECT prio, metric, val FROM (
  SELECT prio, 'n_orders' AS metric, n_orders AS val FROM per
  UNION ALL SELECT prio, 'cents', cents FROM per
  UNION ALL SELECT prio, 'n_cust', n_cust FROM per
)
""",
)
def q_stack_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STACK generator: widen-then-unpivot an aggregate row into
    (metric, value) pairs — the generator-function route to the same
    reshape q_unpivot does with the UNPIVOT clause and q_sql_pivot_
    unpivot does in SQL, completing the trio. stack(n, k1, v1, ...)
    emits n rows per input row inside whole-stage codegen (no join,
    no shuffle); the oracle is the UNION ALL it desugars to."""
    c = catalog(spark, sf_dir)
    per = c.orders.groupBy(
        F.col("o_orderpriority").alias("prio")
    ).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(half_up("o_totalprice", 100))
        .cast("bigint")
        .alias("cents"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_cust"),
    )
    return per.select(
        "prio",
        F.expr(
            "stack(3, 'n_orders', n_orders, 'cents', cents,"
            " 'n_cust', n_cust)"
        ).alias("metric", "val"),
    )


@REGISTRY.register(
    "q_binary_encoding_funcs",
    tags=("functions", "binary"),
    oracle="""
SELECT doc_id,
       md5(text) AS md5_hex,
       sha256(text) AS sha256_hex,
       base64(text::BLOB) AS b64,
       lower(hex(substr(text, 1, 8))) AS head_hex,
       CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes,
       CAST(bit_length(text) AS BIGINT) AS n_bits
FROM documents
""",
)
def q_binary_encoding_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary encoding/digest function pack: md5 + sha256 digests,
    base64 round-trip encoding, hex of a byte prefix, and byte/bit
    lengths — the content-addressing primitives under q_cas_dedup and
    every artifact checksum. Both engines emit identical digests for
    identical bytes (the fixtures are ASCII, so text == utf8 bytes);
    hex case is normalized (Spark upper, DuckDB lower), and Spark's
    base64 is the MIME variant that inserts CRLF every 76 chars —
    stripped here, since DuckDB (and RFC 4648) emit one unbroken
    line.

    Scale shape: map-only, whole-stage codegen, zero shuffle."""
    c = catalog(spark, sf_dir)
    return c.documents.select(
        "doc_id",
        F.md5("text").alias("md5_hex"),
        F.sha2(F.col("text").cast("binary"), 256).alias("sha256_hex"),
        F.regexp_replace(
            F.base64(F.col("text").cast("binary")), "[\\r\\n]", ""
        ).alias("b64"),
        F.lower(F.hex(F.substring("text", 1, 8))).alias("head_hex"),
        F.octet_length("text").cast("bigint").alias("n_bytes"),
        F.bit_length("text").cast("bigint").alias("n_bits"),
    )


@REGISTRY.register(
    "q_timestamp_delta_funcs",
    tags=("functions", "date"),
    oracle="""
SELECT event_id,
       STRFTIME(ts + INTERVAL 1 MONTH, '%Y-%m-%d %H:%M:%S') AS plus_month,
       STRFTIME(ts + INTERVAL 7 DAY, '%Y-%m-%d %H:%M:%S') AS plus_week,
       STRFTIME(ts - INTERVAL 3 HOUR, '%Y-%m-%d %H:%M:%S') AS minus_3h,
       CAST(date_sub('day', ts, TIMESTAMP '2025-01-01 00:00:00') AS BIGINT)
         AS days_to_anchor,
       CAST(date_sub('hour', ts, TIMESTAMP '2025-01-01 00:00:00') AS BIGINT)
         AS hours_to_anchor,
       CAST(date_sub('minute', ts, TIMESTAMP '2025-01-01 00:00:00') AS BIGINT)
         AS minutes_to_anchor
FROM events
""",
)
def q_timestamp_delta_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp interval arithmetic pack: ``timestampadd`` (including
    the end-of-month clamp — Jan 31 + 1 month = Feb 29, probed to agree
    with DuckDB's ``+ INTERVAL`` in both engines) and ``timestampdiff``
    in DAY/HOUR/MINUTE units against a fixed anchor, signed in both
    directions. DuckDB's complete-units counterpart is ``date_sub``
    (``date_diff`` counts boundary *crossings* — a different function).
    MONTH-unit timestampdiff is deliberately excluded: the engines
    disagree on partial-month handling (Spark compares day-of-month,
    DuckDB adds whole intervals), so a portable query must not rely
    on it — that pinned divergence is the point of this contract.

    Scale shape: map-only projection over the fact table, zero shuffle,
    whole-stage codegen throughout."""
    c = catalog(spark, sf_dir)
    anchor = "timestamp'2025-01-01 00:00:00'"
    return c.events.select(
        "event_id",
        F.date_format(
            F.expr("timestampadd(MONTH, 1, ts)"), "yyyy-MM-dd HH:mm:ss"
        ).alias("plus_month"),
        F.date_format(
            F.expr("timestampadd(DAY, 7, ts)"), "yyyy-MM-dd HH:mm:ss"
        ).alias("plus_week"),
        F.date_format(
            F.expr("timestampadd(HOUR, -3, ts)"), "yyyy-MM-dd HH:mm:ss"
        ).alias("minus_3h"),
        F.expr(f"timestampdiff(DAY, ts, {anchor})")
        .cast("bigint")
        .alias("days_to_anchor"),
        F.expr(f"timestampdiff(HOUR, ts, {anchor})")
        .cast("bigint")
        .alias("hours_to_anchor"),
        F.expr(f"timestampdiff(MINUTE, ts, {anchor})")
        .cast("bigint")
        .alias("minutes_to_anchor"),
    )


@REGISTRY.register(
    "q_str_overlay_funcs",
    tags=("functions", "string"),
    oracle="""
SELECT c_custkey,
       substr(c_name, 1, 9) || '###' || substr(c_name, 13) AS masked,
       substr(c_name, 1, 9) || 'VIP-' || substr(c_name, 10) AS inserted,
       format('{:,}', c_custkey * 1000003) AS grouped,
       format('{:,}', c_custkey) || '.4' AS money_1dp,
       c_mktsegment AS seg_from_map,
       CAST(c_custkey AS VARCHAR) AS key_from_map,
       translate(c_mktsegment, 'AEIOU', '@3!0U') AS seg_translated
FROM customer
""",
)
def q_str_overlay_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String surgery pack: ANSI ``OVERLAY`` in both replace (FOR 3)
    and pure-insertion (FOR 0) forms, locale-grouped ``format_number``
    (oracled with DuckDB's ``format('{:,}')`` — probed to group
    identically; the fractional case is pinned to a .37 fraction so
    Java's HALF_EVEN and arithmetic rounding cannot disagree),
    ``str_to_map`` round-trip lookups, and ``translate``. The masked /
    inserted columns are the PII-masking idiom (q_pseudonymize's
    lightweight cousin) expressed with the standard-SQL operator.

    Scale shape: map-only projection, zero shuffle."""
    c = catalog(spark, sf_dir)
    kv = F.expr(
        "str_to_map(concat('seg:', c_mktsegment, ',key:', c_custkey), ',', ':')"
    )
    return c.customer.select(
        "c_custkey",
        F.expr("overlay(c_name PLACING '###' FROM 10 FOR 3)").alias("masked"),
        F.expr("overlay(c_name PLACING 'VIP-' FROM 10 FOR 0)").alias("inserted"),
        F.format_number(F.col("c_custkey") * F.lit(1000003).cast("bigint"), 0).alias(
            "grouped"
        ),
        F.format_number(F.col("c_custkey") + F.lit(0.37), 1).alias("money_1dp"),
        kv.getItem("seg").alias("seg_from_map"),
        kv.getItem("key").alias("key_from_map"),
        F.translate("c_mktsegment", "AEIOU", "@3!0U").alias("seg_translated"),
    )


@REGISTRY.register(
    "q_luhn_url_codec",
    tags=("functions", "string", "etl"),
    oracle="""
WITH t AS (
  SELECT c_custkey, c_mktsegment || ' ' || c_name AS raw,
         LPAD(CAST(c_custkey * 7919 AS VARCHAR), 12, '0') AS digits
  FROM customer
)
SELECT c_custkey, digits,
       list_sum(list_transform(generate_series(1, LENGTH(digits)), i ->
         CASE WHEN (LENGTH(digits) - i) % 2 = 1
              THEN CASE WHEN CAST(digits[i] AS INT) * 2 > 9
                        THEN CAST(digits[i] AS INT) * 2 - 9
                        ELSE CAST(digits[i] AS INT) * 2 END
              ELSE CAST(digits[i] AS INT) END)) % 10 = 0 AS luhn_ok,
       replace(replace(raw, '#', '%23'), ' ', '+') AS enc,
       raw AS dec
FROM t
""",
)
def q_luhn_url_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum + URL-codec pack: ``luhn_check`` over deterministic
    12-digit account numbers (the oracle re-derives the Luhn mod-10
    sum digit-by-digit from first principles — double every second
    digit from the right, subtract 9 above 9 — so the engine's builtin
    is checked against the algorithm, not against itself), and
    ``url_encode``/``url_decode`` round-tripped over a
    restricted-charset string where form-encoding is expressible as
    two replaces (space→'+', '#'→'%23'; DuckDB has no url_encode, so
    the oracle derives it). The decode column must reproduce the
    original string exactly.

    Scale shape: map-only projection, zero shuffle."""
    c = catalog(spark, sf_dir)
    base = c.customer.select(
        "c_custkey",
        F.concat("c_mktsegment", F.lit(" "), "c_name").alias("raw"),
        F.lpad(
            (F.col("c_custkey") * F.lit(7919).cast("bigint")).cast("string"),
            12,
            "0",
        ).alias("digits"),
    )
    return base.select(
        "c_custkey",
        "digits",
        F.expr("luhn_check(digits)").alias("luhn_ok"),
        F.expr("url_encode(raw)").alias("enc"),
        F.expr("url_decode(url_encode(raw))").alias("dec"),
    )


@REGISTRY.register(
    "q_xpath_funcs",
    tags=("functions", "string", "etl"),
    oracle="""
SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
       n_name AS name_x,
       CAST(n_nationkey AS BIGINT) AS key_x,
       TRUE AS has_region,
       CAST(3 AS INT) AS n_children
FROM nation
""",
)
def q_xpath_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XPath extraction pack over per-row XML documents synthesized
    from the nation dim (names are uppercase ASCII — XML-safe by
    construction): ``xpath_string`` / ``xpath_long`` scalar extraction,
    ``xpath_boolean`` existence, and node-set counting via ``xpath``
    — the semi-structured-ingest surface for XML payloads (the
    row-level complement of the q_scan_xml source). The oracle states
    the expected values directly from the columns the XML was built
    from, so the extraction round-trip is what's under test.

    Scale shape: map-only; XML parse per row stays in the JVM."""
    c = catalog(spark, sf_dir)
    xml = F.concat(
        F.lit("<nation><name>"),
        F.col("n_name"),
        F.lit("</name><key>"),
        F.col("n_nationkey").cast("string"),
        F.lit("</key><region>"),
        F.col("n_regionkey").cast("string"),
        F.lit("</region></nation>"),
    ).alias("xml")
    base = c.nation.select(F.col("n_nationkey").cast("bigint").alias("n_nationkey"), xml)
    return base.select(
        "n_nationkey",
        F.expr("xpath_string(xml, '/nation/name')").alias("name_x"),
        F.expr("xpath_long(xml, '/nation/key')").alias("key_x"),
        F.expr("xpath_boolean(xml, '/nation/region')").alias("has_region"),
        F.size(F.expr("xpath(xml, '/nation/*/text()')")).alias("n_children"),
    )


@REGISTRY.register(
    "q_soundex_phonetic",
    tags=("functions", "string", "fuzzy"),
    oracle="""
WITH d AS (
  SELECT c_custkey, c_mktsegment AS seg,
    c_mktsegment[1] AS first_char,
    regexp_replace(
      translate(upper(c_mktsegment),
                'BFPVCGJKQSXZDTLMNRAEIOUYHW', '111122222222334556000000'),
      '(\\d)\\1+', '\\1', 'g') AS collapsed
  FROM customer
)
SELECT c_custkey, seg,
       first_char ||
         rpad(substr(replace(substr(collapsed, 2), '0', ''), 1, 3), 3, '0')
         AS seg_soundex
FROM d
""",
)
def q_soundex_phonetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic encoding (American Soundex) — the classic blocking key
    for fuzzy entity matching (the cheap sibling of
    q_fuzzy_levenshtein's brand blocks). The oracle re-derives Soundex
    from the algorithm itself: consonant classes via translate (H/W
    deleted — which, combined with adjacent-duplicate collapsing,
    implements the 'same code across h/w merges' rule), vowels to 0 as
    separators, first letter kept verbatim, zeros stripped, padded to
    4. Verified character-exact against Spark's builtin on the whole
    segment vocabulary (incl. the H-initial HOUSEHOLD case); the input
    set is restricted to alphabetic uppercase words, where the
    derivation is exact.

    Scale shape: map-only projection, zero shuffle."""
    c = catalog(spark, sf_dir)
    return c.customer.select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        F.soundex("c_mktsegment").alias("seg_soundex"),
    )


@REGISTRY.register(
    "q_regexp_advanced",
    tags=("functions", "string"),
    oracle="""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[aeiou]+')) AS INT) AS n_vowel_runs,
       CASE WHEN regexp_matches(text, '[A-Z][a-z]+')
            THEN CAST(strpos(text, regexp_extract(text, '[A-Z][a-z]+')) AS INT)
            ELSE 0 END AS first_cap_pos,
       regexp_extract(text, '[a-z]{7,}') AS first_long_word,
       regexp_matches(text, '\\.$') AS ends_with_period
FROM documents
""",
)
def q_regexp_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Advanced regex surface beyond extract/replace: ``regexp_count``
    (occurrence counting), ``regexp_instr`` (1-based match position, 0
    when absent), ``regexp_substr`` (first-match extraction, Spark's
    NULL normalized to '' to match DuckDB's no-match ''), and anchored
    ``rlike``. The oracle derives each from DuckDB's extract-all /
    strpos primitives — the portable recipe for engines without the
    counting/position variants. Patterns stay in the RE2∩Java common
    subset (no backrefs, no lookaround) so both engines parse them
    identically.

    Scale shape: map-only projection over documents, zero shuffle."""
    c = catalog(spark, sf_dir)
    return c.documents.select(
        "doc_id",
        F.expr("regexp_count(text, '[aeiou]+')").alias("n_vowel_runs"),
        F.expr("regexp_instr(text, '[A-Z][a-z]+')").alias("first_cap_pos"),
        F.coalesce(
            F.expr("regexp_substr(text, '[a-z]{7,}')"), F.lit("")
        ).alias("first_long_word"),
        F.col("text").rlike("\\.$").alias("ends_with_period"),
    )


@REGISTRY.register(
    "q_numbase_funcs",
    tags=("functions", "math"),
    oracle="""
SELECT c_custkey,
       bin(c_custkey) AS key_bin,
       to_hex(c_custkey) AS key_hex,
       CAST(('0x' || to_hex(c_custkey))::BIGINT AS VARCHAR) AS hex_roundtrip,
       ascii(c_mktsegment[1]) AS first_code,
       chr(65 + CAST(c_custkey % 26 AS INT)) AS key_letter,
       CAST((c_custkey >> 3) & 1 AS INT) AS bit3,
       CAST(bit_count(c_custkey) AS INT) AS popcount
FROM customer
""",
)
def q_numbase_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Number-base / character-code pack: binary and hex rendering
    (``bin``, ``conv`` — Spark's conv(·,10,16) emits uppercase,
    matching DuckDB's to_hex), a base-16 round-trip back to decimal,
    ``ascii``/``char`` code-point conversion, single-bit extraction
    (``getbit``, oracled as shift-and-mask — the portable form), and
    ``bit_count`` popcount. This is the key-encoding surface under
    sharding schemes (q_rendezvous_sharding renders hex shard ids;
    bitmap sketches count bits).

    Scale shape: map-only projection, zero shuffle."""
    c = catalog(spark, sf_dir)
    return c.customer.select(
        "c_custkey",
        F.bin("c_custkey").alias("key_bin"),
        F.conv(F.col("c_custkey").cast("string"), 10, 16).alias("key_hex"),
        F.conv(
            F.conv(F.col("c_custkey").cast("string"), 10, 16), 16, 10
        ).alias("hex_roundtrip"),
        F.ascii(F.substring("c_mktsegment", 1, 1)).alias("first_code"),
        F.char(F.lit(65) + (F.col("c_custkey") % 26).cast("int")).alias(
            "key_letter"
        ),
        F.expr("getbit(c_custkey, 3)").cast("int").alias("bit3"),
        F.bit_count("c_custkey").cast("int").alias("popcount"),
    )


@REGISTRY.register(
    "q_mask_redact_funcs",
    tags=("functions", "string", "privacy"),
    oracle="""
SELECT c_custkey,
       regexp_replace(regexp_replace(regexp_replace(
         c_name, '[a-z]', 'x', 'g'), '[A-Z]', 'X', 'g'), '[0-9]', 'n', 'g')
         AS masked_default,
       regexp_replace(regexp_replace(regexp_replace(
         c_name, '[a-z]', '.', 'g'), '[A-Z]', '#', 'g'), '[0-9]', '*', 'g')
         AS masked_custom,
       regexp_replace(c_name, '[0-9]', '*', 'g') AS digits_only,
       c_mktsegment || ' ' ||
         regexp_replace(c_name, '[0-9]', 'n', 'g') AS seg_tagged
FROM customer
""",
)
def q_mask_redact_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction via Spark's ``mask`` function: default X/x/n
    masking, fully-custom replacement characters, and digits-only
    masking with letters kept (NULL upper/lower args) — the
    display-layer counterpart of q_pseudonymize's irreversible hashing
    and q_pii_scan's detection. The oracle derives each mask as chained
    character-class regexp_replaces (lowercase first so the substituted
    'x' is never re-hit by the uppercase pass) — the portable recipe
    for engines without the builtin.

    Scale shape: map-only projection, zero shuffle."""
    c = catalog(spark, sf_dir)
    return c.customer.select(
        "c_custkey",
        F.expr("mask(c_name)").alias("masked_default"),
        F.expr("mask(c_name, '#', '.', '*')").alias("masked_custom"),
        F.expr("mask(c_name, NULL, NULL, '*')").alias("digits_only"),
        F.concat(
            "c_mktsegment", F.lit(" "), F.expr("mask(c_name, NULL, NULL, 'n')")
        ).alias("seg_tagged"),
    )


@REGISTRY.register(
    "q_str_slice_pack",
    tags=("functions", "string"),
    oracle="""
SELECT c_custkey,
       left(c_name, 8) AS name_left,
       right(c_name, 4) AS name_right,
       list_aggregate(list_transform(string_split(lower(c_mktsegment) ||
           ' ' || lower(c_name), ' '),
         w -> upper(w[1]) || substr(w, 2)), 'string_agg', ' ') AS title_cased,
       repeat('=', CAST(c_custkey % 5 + 1 AS INT)) AS bar,
       array_to_string(list_slice(string_split(c_name, '0'), 1, 2), '0')
         AS upto_second_zero
FROM customer
""",
)
def q_str_slice_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String slicing pack: ANSI ``left``/``right``, ``initcap`` title
    casing (oracled as a per-word transform over split — exact on the
    single-space fixtures; Spark's initcap lowercases the tail of each
    word, which the oracle reproduces by pre-lowering), data-driven
    ``repeat`` (the text-bar idiom under q_log2_histogram displays),
    and ``substring_index`` (first-N-delimited-fields extraction,
    oracled as split→slice→join — the portable form).

    Scale shape: map-only projection, zero shuffle."""
    c = catalog(spark, sf_dir)
    return c.customer.select(
        "c_custkey",
        F.expr("left(c_name, 8)").alias("name_left"),
        F.expr("right(c_name, 4)").alias("name_right"),
        F.initcap(
            F.concat(F.lower("c_mktsegment"), F.lit(" "), F.lower("c_name"))
        ).alias("title_cased"),
        F.repeat(F.lit("="), (F.col("c_custkey") % 5 + 1).cast("int")).alias(
            "bar"
        ),
        F.substring_index("c_name", "0", 2).alias("upto_second_zero"),
    )


@REGISTRY.register(
    "q_array_edit_funcs",
    tags=("functions", "array"),
    oracle="""
WITH t AS (
  SELECT c_custkey,
         [CAST(c_custkey % 7 AS BIGINT), CAST(c_custkey % 5 AS BIGINT),
          CAST(c_custkey % 3 AS BIGINT)] AS arr,
         [CAST(c_custkey % 7 AS BIGINT), NULL,
          CAST(c_custkey % 3 AS BIGINT), NULL] AS holey
  FROM customer
)
SELECT c_custkey,
       array_to_string(list_concat(list_slice(arr, 1, 1),
                   list_concat([CAST(99 AS BIGINT)], list_slice(arr, 2, 3))),
         ',') AS inserted_at_2,
       array_to_string(list_append(arr, CAST(-1 AS BIGINT)), ',')
         AS appended_via_neg_insert,
       array_to_string(list_filter(holey, x -> x IS NOT NULL), ',')
         AS compacted,
       array_to_string(list_prepend(CAST(0 AS BIGINT), arr), ',')
         AS prepended,
       array_to_string([CAST(c_custkey % 7 AS BIGINT),
                        CAST(c_custkey % 7 AS BIGINT),
                        CAST(c_custkey % 7 AS BIGINT)], ',') AS repeated
FROM t
""",
)
def q_array_edit_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array editing pack: positional ``array_insert`` (oracled as
    slice-concat-slice; Spark's NEGATIVE index -1 APPENDS at the end —
    a pinned-by-probe semantic, not splice-before-last as one might
    expect), NULL-stripping ``array_compact``, ``array_prepend`` /
    ``array_append``, and ``array_repeat`` (oracled as an explicit
    list literal — DuckDB's list_resize raises bad_array_new_length
    on column-valued pad arguments, a pinned engine defect).
    Arrays are synthesized deterministically from key residues so every
    row exercises different content.

    Scale shape: map-only projection, zero shuffle."""
    c = catalog(spark, sf_dir)
    k = F.col("c_custkey")
    arr = F.array(
        (k % 7).cast("bigint"), (k % 5).cast("bigint"), (k % 3).cast("bigint")
    )
    holey = F.array(
        (k % 7).cast("bigint"),
        F.lit(None).cast("bigint"),
        (k % 3).cast("bigint"),
        F.lit(None).cast("bigint"),
    )
    return c.customer.select(
        "c_custkey",
        F.array_join(
            F.array_insert(arr, 2, F.lit(99).cast("bigint")), ","
        ).alias("inserted_at_2"),
        F.array_join(
            F.array_insert(arr, -1, F.lit(-1).cast("bigint")), ","
        ).alias("appended_via_neg_insert"),
        F.array_join(F.array_compact(holey), ",").alias("compacted"),
        F.array_join(
            F.array_prepend(arr, F.lit(0).cast("bigint")), ","
        ).alias("prepended"),
        F.array_join(F.array_repeat((k % 7).cast("bigint"), 3), ",").alias(
            "repeated"
        ),
    )


@REGISTRY.register(
    "q_try_agg_funcs",
    tags=("functions", "aggregate", "semantics"),
    oracle="""
SELECT c_mktsegment,
       CAST(SUM(c_custkey) AS BIGINT) AS sum_ok,
       CAST(NULL AS BIGINT) AS sum_overflowed,
       ROUND(AVG(c_custkey), 4) AS avg_ok,
       c_mktsegment AS seg_any
FROM customer GROUP BY c_mktsegment
""",
)
def q_try_agg_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe aggregate contract: ``try_sum`` returns the exact sum
    on clean data but NULL (instead of raising) when the BIGINT
    accumulator overflows — demonstrated by summing Long.MAX_VALUE
    across every group — while ``try_avg`` survives the same input
    because it accumulates in double; ``any_value`` is pinned on a
    column constant within each group, the only shape where its result
    is deterministic. At 100 TB this is the difference between a
    2-hour aggregation job dying at 99% on one dirty partition and it
    completing with an auditable NULL; the oracle states the overflow
    outcome literally (DuckDB would promote to HUGEINT instead — a
    pinned engine divergence).

    Scale shape: standard two-phase hash aggregate, one shuffle on the
    group key."""
    c = catalog(spark, sf_dir)
    return (
        c.customer.groupBy("c_mktsegment")
        .agg(
            F.expr("try_sum(c_custkey)").cast("bigint").alias("sum_ok"),
            F.expr("try_sum(9223372036854775807L)")
            .cast("bigint")
            .alias("sum_overflowed"),
            F.round(F.expr("try_avg(c_custkey)"), 4).alias("avg_ok"),
            F.any_value("c_mktsegment").alias("seg_any"),
        )
    )
