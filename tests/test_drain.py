"""``sinks.drain``, the one way a finite stream is run to completion.

Every drain runs on a clone of the stream's session, so drains that
overlap in one session never write the caller's shuffle-partition
count, and no module outside ``streaming/sinks.py`` blocks on a query
or overrides that count itself.
"""

from __future__ import annotations

import ast
import os
import threading
from concurrent.futures import ThreadPoolExecutor

from catenae_kafka_spark.operators import sketches
from catenae_kafka_spark.streaming import sinks
from catenae_kafka_spark.streaming.sources import replay_events

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = os.path.join(REPO, "catenae_kafka_spark")
SINKS = os.path.join("catenae_kafka_spark", "streaming", "sinks.py")
SESSION = os.path.join("catenae_kafka_spark", "session.py")

SF = "/root/testdata/sf0.001"
SHUFFLE = "spark.sql.shuffle.partitions"
WAIT_S = 300


def drain_sites(root: str) -> list[str]:
    """``file:line: call`` of every ``processAllAvailable`` /
    ``awaitTermination`` call and every ``<x>.conf.set`` of
    ``spark.sql.shuffle.partitions`` under ``root``, except the session
    default that ``session.tune`` sets."""
    hits = []
    for dirpath, _, files in os.walk(root):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, REPO)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            exempt = set()
            if rel == SESSION:
                for n in ast.walk(tree):
                    if isinstance(n, ast.FunctionDef) and n.name == "tune":
                        exempt.update(id(x) for x in ast.walk(n))
            for n in ast.walk(tree):
                if (
                    not isinstance(n, ast.Call)
                    or not isinstance(n.func, ast.Attribute)
                    or id(n) in exempt
                ):
                    continue
                attr = n.func.attr
                if attr in ("processAllAvailable", "awaitTermination"):
                    hits.append((rel, n.lineno, attr))
                elif (
                    attr == "set"
                    and isinstance(n.func.value, ast.Attribute)
                    and n.func.value.attr == "conf"
                    and n.args
                    and isinstance(n.args[0], ast.Constant)
                    and n.args[0].value == SHUFFLE
                ):
                    hits.append((rel, n.lineno, f"conf.set {SHUFFLE}"))
    return [f"{rel}:{line}: {what}" for rel, line, what in sorted(hits)]


def test_only_drain_runs_a_stream_to_completion():
    hits = drain_sites(ENGINE)
    assert [h for h in hits if h.startswith(SINKS + ":")], "scan lost drain"
    stray = [h for h in hits if not h.startswith(SINKS + ":")]
    assert not stray, "run finite streams through sinks.drain instead of:\n" + "\n".join(
        stray
    )


def _gate(fn, entered: threading.Event, go: threading.Event):
    """``fn`` that, on its first call, signals ``entered`` and blocks
    until ``go`` is set."""

    def gated(*args, **kwargs):
        if not entered.is_set():
            entered.set()
            go.wait(WAIT_S)
        return fn(*args, **kwargs)

    return gated


def test_overlapping_drains_keep_the_callers_partition_count(spark, monkeypatch):
    """A ``run_available_now`` drain blocks in its collector; a
    ``q_stream_heavy_hitters`` fold starts inside it, blocks in its
    first merge, and ends after the first drain has returned. The
    caller's shuffle-partition count must read its own value during
    both drains, between them and after them. A shared set-and-restore
    override fails this: the fold records the first drain's temporary
    value as the one to restore and leaves it in the session."""
    own = spark.conf.get(SHUFFLE)
    first_in, first_go, fold_in, fold_go = (threading.Event() for _ in range(4))
    monkeypatch.setattr(
        sinks, "materialize", _gate(sinks.materialize, first_in, first_go)
    )
    monkeypatch.setattr(
        sketches,
        "misra_gries_partials",
        _gate(sketches.misra_gries_partials, fold_in, fold_go),
    )
    seen = {}
    try:
        with ThreadPoolExecutor(max_workers=2) as pool:
            first = pool.submit(
                sinks.run_available_now,
                replay_events(spark, SF, n_files=4).select("event_id"),
            )
            assert first_in.wait(WAIT_S), "first drain never reached its collector"
            seen["first drain"] = spark.conf.get(SHUFFLE)
            folded = pool.submit(sketches.q_stream_heavy_hitters, spark, SF)
            assert fold_in.wait(WAIT_S), "fold never reached its merge"
            seen["both drains"] = spark.conf.get(SHUFFLE)
            first_go.set()
            assert first.result(WAIT_S).count() > 0
            seen["between"] = spark.conf.get(SHUFFLE)
            fold_go.set()
            assert folded.result(WAIT_S).count() > 0
    finally:
        first_go.set()
        fold_go.set()
    seen["after"] = spark.conf.get(SHUFFLE)
    assert seen == dict.fromkeys(seen, own)
