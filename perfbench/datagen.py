"""Seeded input generator for the benchmark.

Writes the ten tables the engine's catalog reads (``catalog.TABLES``)
at the row counts of the engine's sf0.1 scale, with the same schemas
and categorical domains, plus the at-least-once delivery log that the
``stream_link`` workload replays. The same seed always gives the same
files; the engine sees only these files.

Shapes that matter for the measured queries:

- ``events`` are time-ordered over 30 days for 1500 users, so the
  tumbling-window replay has the same batch and window counts at every
  seed; about 5% of values are exactly 0 so ``value > 0`` filters.
- ``documents`` are word salad over a 31-word vocabulary with
  ``N_PLANTED_PAIRS`` planted near-duplicate pairs (one word changed in
  a long document) and as many exact-duplicate pairs. Random documents
  share almost no word 3-grams, so the pairs a MinHash dedup must find
  are known by construction (``planted_pairs``).
- ``deliveries`` repeats every event 2-8 times; the first copy arrives
  at its event time and each redelivery after a seeded delay.

Run as a script to generate a directory::

    python3 perfbench/datagen.py OUT_DIR --seed 7
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
N_NATIONS = 25
MKTSEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ORDERSTATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURNFLAGS = ["A", "N", "R"]
LINESTATUS = ["F", "O"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
SOURCES = [f"src{i}" for i in range(20)]
P_ADJS = ["small", "blue", "cold", "new", "hot", "old", "red", "large"]
P_NOUNS = ["widget", "rod", "ring", "anvil", "bolt", "plate", "gizmo", "gear"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
DOC_VOCAB = (
    "the a fast slow big small key order sort table scan merge part "
    "window hash join batch stream spark dup group query row data "
    "filter customer line value column vector agg"
).split()
EMB_DIM = 64

#: rows per table (lineitem follows from orders: 1-7 lines each)
SIZES = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
N_USERS = 1_500
N_PLANTED_PAIRS = 25
#: redeliveries per event are uniform on [MIN, MAX]
MIN_DELIVERIES, MAX_DELIVERIES = 2, 8
#: mean delay of a redelivery after its event time
REDELIVERY_MEAN_S = 600.0

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000
_ORDERS_DAY0 = int((np.datetime64("1995-01-01") - np.datetime64("1970-01-01")).astype(int))
_ORDERS_DAYN = int((np.datetime64("2001-08-01") - np.datetime64("1970-01-01")).astype(int))
_EVENTS_US0 = int((np.datetime64("2024-01-01T00:00:00", "us") - _EPOCH).astype("int64"))


def _ts(us: np.ndarray) -> np.ndarray:
    return _EPOCH + np.asarray(us, dtype="int64").astype("timedelta64[us]")


def _write(dst: str, name: str, fields: list[tuple[str, pa.DataType]], cols: dict) -> pa.Table:
    table = pa.Table.from_pydict(cols, schema=pa.schema(fields))
    pq.write_table(table, os.path.join(dst, f"{name}.parquet"))
    return table


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    """n seeded draws from ``values`` as a string array."""
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def events_columns(rng: np.random.Generator) -> dict:
    n = SIZES["events"]
    span_us = 30 * _DAY_US
    ts = _EVENTS_US0 + np.sort(rng.integers(0, span_us, n))
    value = np.round(rng.uniform(0.0, 560.0, n), 2)
    value[rng.random(n) < 0.05] = 0.0
    return {
        "event_id": np.arange(n, dtype="int64"),
        "ts": _ts(ts),
        "user_id": rng.integers(0, N_USERS, n).astype("int64"),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": value,
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
    }


EVENTS_FIELDS = [
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
]


def customer_columns(rng: np.random.Generator) -> dict:
    n = SIZES["customer"]
    return {
        "c_custkey": np.arange(n, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, N_NATIONS, n).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": _pick(rng, MKTSEGMENTS, n),
    }


CUSTOMER_FIELDS = [
    ("c_custkey", pa.int64()),
    ("c_name", pa.string()),
    ("c_nationkey", pa.int32()),
    ("c_acctbal", pa.float64()),
    ("c_mktsegment", pa.string()),
]


def delivery_pattern(seed: int, ts_us: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """At-least-once delivery of ``len(ts_us)`` events.

    Returns ``(event_index, arrival_us)`` with one entry per delivery,
    sorted by arrival. Every event arrives 2-8 times: first at its own
    event time, then after exponential delays (mean
    ``REDELIVERY_MEAN_S``). A pure function of ``seed`` and the event
    times."""
    rng = np.random.default_rng([seed, 1])
    n = len(ts_us)
    copies = rng.integers(MIN_DELIVERIES, MAX_DELIVERIES + 1, n)
    idx = np.repeat(np.arange(n), copies)
    first = np.ones(len(idx), dtype=bool)
    first[1:] = idx[1:] != idx[:-1]
    delay = rng.exponential(REDELIVERY_MEAN_S * 1e6, len(idx)).astype("int64") + 1
    arrival = np.asarray(ts_us, dtype="int64")[idx] + np.where(first, 0, delay)
    order = np.argsort(arrival, kind="stable")
    return idx[order], arrival[order]


def planted_pairs(seed: int) -> list[tuple[int, int]]:
    """(doc_id, doc_id) pairs planted as duplicates by ``generate``:
    ``N_PLANTED_PAIRS`` exact copies followed by as many near copies."""
    rng = np.random.default_rng([seed, 2])
    ids = rng.choice(SIZES["documents"] // 2, 2 * N_PLANTED_PAIRS, replace=False)
    return [(2 * int(i), 2 * int(i) + 1) for i in sorted(ids)]


def _documents(rng: np.random.Generator, seed: int) -> dict:
    n = SIZES["documents"]
    vocab = np.asarray(DOC_VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]) for _ in range(n)]
    pairs = planted_pairs(seed)
    for k, (a, b) in enumerate(pairs):
        words = texts[a].split()
        if len(words) < 60:
            words = words + list(vocab[rng.integers(0, len(vocab), 60 - len(words))])
            texts[a] = " ".join(words)
        if k >= N_PLANTED_PAIRS:  # near copy: one word in the middle changed
            words = list(words)
            words[len(words) // 2] = "neardup"
        texts[b] = " ".join(words)
    return {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": _pick(rng, LANGS, n),
        "source": _pick(rng, SOURCES, n),
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


def generate(dst: str, seed: int) -> str:
    """Write the tables and the delivery log into ``dst``; returns ``dst``."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(seed)
    events = events_columns(rng)
    table = _write(dst, "events", EVENTS_FIELDS, events)
    _write(dst, "customer", CUSTOMER_FIELDS, customer_columns(rng))
    idx, arrival = delivery_pattern(seed, (events["ts"] - _EPOCH).astype("int64"))
    # the replay source reads an ``events`` table, so the delivery log
    # is one in a directory of its own
    os.makedirs(os.path.join(dst, "deliveries"), exist_ok=True)
    pq.write_table(
        table.take(pa.array(idx)).append_column(
            pa.field("arrival", pa.timestamp("us")), pa.array(_ts(arrival))
        ),
        os.path.join(dst, "deliveries", "events.parquet"),
    )
    _write(
        dst,
        "region",
        [("r_regionkey", pa.int32()), ("r_name", pa.string())],
        {"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS},
    )
    _write(
        dst,
        "nation",
        [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())],
        {
            "n_nationkey": np.arange(N_NATIONS, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
            "n_regionkey": rng.integers(0, 5, N_NATIONS).astype("int32"),
        },
    )
    ns = SIZES["supplier"]
    _write(
        dst,
        "supplier",
        [
            ("s_suppkey", pa.int64()),
            ("s_name", pa.string()),
            ("s_nationkey", pa.int32()),
            ("s_acctbal", pa.float64()),
        ],
        {
            "s_suppkey": np.arange(ns, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, N_NATIONS, ns).astype("int32"),
            "s_acctbal": np.round(rng.uniform(500.0, 6100.0, ns), 2),
        },
    )
    npart = SIZES["part"]
    adjs, nouns = np.asarray(P_ADJS, dtype=object), np.asarray(P_NOUNS, dtype=object)
    _write(
        dst,
        "part",
        [
            ("p_partkey", pa.int64()),
            ("p_name", pa.string()),
            ("p_brand", pa.string()),
            ("p_type", pa.string()),
            ("p_size", pa.int32()),
            ("p_retailprice", pa.float64()),
        ],
        {
            "p_partkey": np.arange(npart, dtype="int64"),
            "p_name": adjs[rng.integers(0, len(adjs), npart)] + " " + nouns[rng.integers(0, len(nouns), npart)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": _pick(rng, P_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype("int32"),
            "p_retailprice": np.round(900.0 + rng.uniform(0, 19.9, npart), 2),
        },
    )
    no, nc = SIZES["orders"], SIZES["customer"]
    days = rng.integers(_ORDERS_DAY0, _ORDERS_DAYN + 1, no)
    _write(
        dst,
        "orders",
        [
            ("o_orderkey", pa.int64()),
            ("o_custkey", pa.int64()),
            ("o_orderstatus", pa.string()),
            ("o_totalprice", pa.float64()),
            ("o_orderdate", pa.timestamp("us")),
            ("o_orderpriority", pa.string()),
        ],
        {
            "o_orderkey": np.arange(no, dtype="int64"),
            "o_custkey": rng.integers(0, nc, no).astype("int64"),
            "o_orderstatus": _pick(rng, ORDERSTATUS, no),
            "o_totalprice": np.round(rng.uniform(1320.0, 499706.0, no), 2),
            "o_orderdate": _ts(days * _DAY_US),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        },
    )
    lines_per = rng.integers(1, 8, no)
    l_orderkey = np.repeat(np.arange(no, dtype="int64"), lines_per)
    nl = len(l_orderkey)
    starts = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
    shuffle = rng.permutation(nl)
    _write(
        dst,
        "lineitem",
        [
            ("l_orderkey", pa.int64()),
            ("l_partkey", pa.int64()),
            ("l_suppkey", pa.int64()),
            ("l_linenumber", pa.int32()),
            ("l_quantity", pa.float64()),
            ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()),
            ("l_tax", pa.float64()),
            ("l_returnflag", pa.string()),
            ("l_linestatus", pa.string()),
            ("l_shipdate", pa.timestamp("us")),
        ],
        {
            "l_orderkey": l_orderkey[shuffle],
            "l_partkey": rng.integers(0, npart, nl).astype("int64")[shuffle],
            "l_suppkey": rng.integers(0, ns, nl).astype("int64")[shuffle],
            "l_linenumber": (np.arange(nl) - starts + 1).astype("int32")[shuffle],
            "l_quantity": rng.integers(1, 51, nl).astype("float64")[shuffle],
            "l_extendedprice": np.round(rng.uniform(914.0, 104999.0, nl), 2)[shuffle],
            "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2)[shuffle],
            "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2)[shuffle],
            "l_returnflag": _pick(rng, RETURNFLAGS, nl).take(pa.array(shuffle)),
            "l_linestatus": _pick(rng, LINESTATUS, nl).take(pa.array(shuffle)),
            "l_shipdate": _ts((days[l_orderkey] + rng.integers(1, 121, nl)) * _DAY_US)[shuffle],
        },
    )
    _write(
        dst,
        "documents",
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ],
        _documents(rng, seed),
    )
    nv = SIZES["embeddings"]
    vecs = rng.standard_normal((nv, EMB_DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(
        dst,
        "embeddings",
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())],
        {
            "vec_id": np.arange(nv, dtype="int64"),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, nv).astype("int32"),
        },
    )
    return dst


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dst")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    generate(a.dst, a.seed)
