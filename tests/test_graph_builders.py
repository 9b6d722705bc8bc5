"""The shared graph builders in ``operators/graph.py``.

Pins the builders' contracts on tiny in-memory frames, and keeps two
kinds of copies from coming back: leaked ``.cache()`` / ``.persist()``
sites (a cached DataFrame stays in the CacheManager until
``clearCache``, and every query build adds an entry) and inline
brand-pair self-joins.
"""

from __future__ import annotations

import ast
import collections
import os
import re

from catenae_kafka_spark.operators.graph import brand_pairs, symmetric, top_edges

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = os.path.join(REPO, "catenae_kafka_spark")

# the reuse each remaining site is for is documented at the site
CACHE_SITES = {
    "catenae_kafka_spark/operators/llm_dedup.py": 3,
    "catenae_kafka_spark/operators/llm_similarity.py": 1,
    "catenae_kafka_spark/sources/scans.py": 1,
}
# Spark `x.join(y, "l_orderkey")` basket self-joins: the brand-pair
# builder, plus q_itemset_triples' three-way chain (a-b, then b-c)
SPARK_SELF_JOINS = {
    ("catenae_kafka_spark/operators/graph.py", "brand_pairs"): 1,
    ("catenae_kafka_spark/operators/composites.py", "q_itemset_triples"): 2,
}
# oracle SQL brand-pair self-joins: graph.py's shared CTE, q_basket_lift's
# own (brand_a, brand_b, n_ab) CTE, and q_itemset_triples' first leg
SQL_PAIR = re.compile(
    r"a\.l_orderkey\s*=\s*b\.l_orderkey\s+AND\s+a\.p_brand\s*<\s*b\.p_brand"
)
SQL_SELF_JOINS = {
    ("catenae_kafka_spark/operators/graph.py", "_pairs_sql"): 1,
    ("catenae_kafka_spark/operators/composites.py", "q_basket_lift"): 1,
    ("catenae_kafka_spark/operators/composites.py", "q_itemset_triples"): 1,
}


def _nodes(root: str):
    """(path relative to the repo, enclosing top-level def or
    ``<module>``, node) for every AST node under ``root``."""
    for dirpath, _, files in os.walk(root):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            rel = os.path.relpath(path, REPO)
            for top in tree.body:
                name = getattr(top, "name", "<module>")
                for n in ast.walk(top):
                    yield rel, name, n


def _is_call(n: ast.AST, attr: str) -> bool:
    return (
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == attr
    )


def _census():
    cache, spark_joins, sql_joins = [], [], []
    for rel, name, n in _nodes(ENGINE):
        where = f"{rel}:{getattr(n, 'lineno', '?')} ({name})"
        if _is_call(n, "cache") or _is_call(n, "persist"):
            cache.append((rel, where))
        if (
            _is_call(n, "join")
            and len(n.args) == 2
            and isinstance(n.args[1], ast.Constant)
            and n.args[1].value == "l_orderkey"
        ):
            spark_joins.append(((rel, name), where))
        if isinstance(n, ast.Constant) and isinstance(n.value, str):
            for _ in SQL_PAIR.finditer(n.value):
                sql_joins.append(((rel, name), where))
    return cache, spark_joins, sql_joins


def _check(sites: list, expected: dict, what: str) -> None:
    got = collections.Counter(key for key, _ in sites)
    assert got == collections.Counter(expected), (
        f"{what}: expected {dict(expected)}, found:\n"
        + "\n".join(where for _, where in sites)
    )


def test_cache_sites_and_brand_pair_self_join_written_once():
    cache, spark_joins, sql_joins = _census()
    _check(cache, CACHE_SITES, "`.cache()` / `.persist(` sites (use materialize)")
    _check(spark_joins, SPARK_SELF_JOINS, "Spark basket self-joins (use graph.brand_pairs)")
    _check(sql_joins, SQL_SELF_JOINS, "oracle brand-pair self-joins (use graph._pairs_sql)")


def test_symmetric_keeps_extra_columns_on_both_halves(spark):
    edges = spark.createDataFrame([("a", "b", 5), ("a", "c", 7)], "u string, v string, cost long")
    sym = symmetric(edges)
    assert sym.columns == ["u", "v", "cost"]
    assert sorted(map(tuple, sym.collect())) == [
        ("a", "b", 5), ("a", "c", 7), ("b", "a", 5), ("c", "a", 7),
    ]


def test_top_edges_breaks_weight_ties_by_u_then_v(spark):
    weighted = spark.createDataFrame(
        [("b", "c", 3), ("a", "d", 3), ("x", "y", 1), ("a", "c", 3), ("z", "q", 5)],
        "u string, v string, w long",
    )
    # of the three w = 3 edges, (a, c) has the smallest u and then v
    got = sorted(tuple(r) for r in top_edges(weighted, 2).collect())
    assert got == [("a", "c"), ("z", "q")]


def test_brand_pairs_counts_each_order_once_with_u_below_v(spark):
    baskets = spark.createDataFrame(
        [(1, "B"), (1, "A"), (1, "C"), (2, "B"), (2, "A"), (3, "C")],
        "l_orderkey long, p_brand string",
    )
    got = sorted(map(tuple, brand_pairs(baskets).collect()))
    assert got == [("A", "B", 2), ("A", "C", 1), ("B", "C", 1)]
