"""The one half-up quantization policy, ``compat.half_up``.

Pins the rounding contract on both engines (Spark ``half_up`` equals the
oracles' ``FLOOR(x*k + 0.5)``, and differs from DuckDB ``ROUND`` on
negative midpoints) and keeps the inline copies from coming back.
"""

from __future__ import annotations

import ast
import os

import duckdb

from catenae_kafka_spark.functions.compat import half_up

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = os.path.join(REPO, "catenae_kafka_spark")
HELPER = os.path.join(ENGINE, "functions", "compat.py")

MIDPOINTS = [-2.5, -1.5, -0.5, 0.5, 2.5]
CENTS = [1.005, -1.005, 49.002]


def _duck(expr: str, xs: list[float]) -> list[int]:
    vals = ", ".join(f"({i}, {x}::DOUBLE)" for i, x in enumerate(xs))
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT CAST({expr} AS BIGINT) FROM (VALUES {vals}) t(i, x) ORDER BY i"
        ).fetchall()
    finally:
        con.close()
    return [r[0] for r in rows]


def test_half_up_matches_oracle_floor_not_round(spark):
    df = spark.createDataFrame([(x,) for x in MIDPOINTS], "v double")
    got = [r[0] for r in df.select(half_up("v")).collect()]
    assert got == [-2, -1, 0, 1, 3]
    assert got == _duck("FLOOR(x + 0.5)", MIDPOINTS)
    # DuckDB ROUND takes midpoints away from zero: an oracle must not
    # ROUND what the Spark side quantizes with half_up on signed input
    assert _duck("ROUND(x)", MIDPOINTS) == [-3, -2, -1, 1, 3]

    df = spark.createDataFrame([(x,) for x in CENTS], "v double")
    q = df.select(half_up(df.v, 100).alias("c"))
    assert dict(q.dtypes) == {"c": "bigint"}
    got = [r[0] for r in q.collect()]
    assert got == [100, -100, 4900]
    assert got == _duck("FLOOR(x * 100 + 0.5)", CENTS)


def _is_half(node: ast.AST) -> bool:
    if isinstance(node, ast.Constant):
        return node.value == 0.5
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "lit"
        and len(node.args) == 1
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value == 0.5
    )


def inline_half_up_sites(root: str) -> list[str]:
    """``file:line`` of every ``F.floor(<expr> + 0.5)`` or
    ``F.floor(<expr> + F.lit(0.5))`` under ``root``."""
    hits = []
    for dirpath, _, files in os.walk(root):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for n in ast.walk(tree):
                if (
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "floor"
                    and isinstance(n.func.value, ast.Name)
                    and n.func.value.id == "F"
                    and len(n.args) == 1
                    and isinstance(n.args[0], ast.BinOp)
                    and isinstance(n.args[0].op, ast.Add)
                    and _is_half(n.args[0].right)
                ):
                    hits.append(f"{os.path.relpath(path, REPO)}:{n.lineno}")
    return sorted(hits)


def test_no_inline_half_up_outside_the_helper():
    hits = inline_half_up_sites(ENGINE)
    helper = os.path.relpath(HELPER, REPO)
    assert [h for h in hits if h.startswith(helper + ":")], "scan lost the helper"
    stray = [h for h in hits if not h.startswith(helper + ":")]
    assert not stray, "use compat.half_up instead of:\n" + "\n".join(stray)
