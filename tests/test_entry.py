"""Driver-contract smoke tests: entry(), queries(), oracle_sql()."""

from __future__ import annotations

import importlib.util
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(ROOT, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_flagship_rows(spark):
    mod = _load_entry()
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "revenue" in df.columns and "n_name" in df.columns


def test_queries_oracle_contract():
    mod = _load_entry()
    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert len(qs) > 0
    # every oracle key must have a matching query
    assert set(oracles) <= set(qs)
    for name, fn in qs.items():
        assert callable(fn), name
    for name, sql in oracles.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_all_queries_run_at_smoke_sf(spark, built_queries):
    """Every registered query must at least build AND execute at
    sf0.001. Uses the session-shared build (conftest.built_queries —
    one build of the registry instead of four, VERDICT r12 #3) and
    executes on a small driver thread pool (guide §2.6): limit(5)
    keeps the smoke fast; correctness is tools/check.py's job.
    Failures are collected per query so one bad query names itself
    instead of aborting the pool."""
    from concurrent.futures import ThreadPoolExecutor

    mod = _load_entry()
    assert set(built_queries) == set(mod.queries())

    def smoke(item):
        name, df = item
        try:
            if isinstance(df, Exception):
                raise df
            assert df.limit(5).collect() is not None
            return None
        except Exception as exc:  # noqa: BLE001 — reported below
            return f"{name}: {type(exc).__name__}: {exc}"

    with ThreadPoolExecutor(max_workers=8) as pool:
        failures = [f for f in pool.map(smoke, built_queries.items()) if f]
    assert not failures, failures


def test_oracle_column_names_match_spark_schema(spark, sf_dir, built_queries):
    """Alias-drift guard: the driver's compare sorts columns BY NAME
    before hashing, so a Spark result named (sum_qty) and an oracle
    named (sum(l_quantity)) hash-mismatch even with identical values.
    Catch it statically: DuckDB DESCRIBE of each oracle vs the Spark
    DataFrame's analyzed schema — no data execution on the oracle side,
    LIMIT-0 semantics."""
    import duckdb

    from catenae_kafka_spark.catalog import TABLES, table_path

    mod = _load_entry()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{table_path(sf_dir, t)}')"
        )
    oracles = mod.oracle_sql()

    # Spark side: the session-shared build (conftest.built_queries) —
    # before r13 this test re-built all 512 queries for .columns alone
    # (182 s of the suite, VERDICT r12 #3). Oracle side: DESCRIBE is
    # limit-0 DuckDB parsing, cheap serially.
    mismatches = {}
    for name, sql in oracles.items():
        df = built_queries[name]
        if isinstance(df, Exception):
            continue  # already red in the smoke test, with its error
        oracle_cols = sorted(
            r[0] for r in con.execute(f"DESCRIBE ({sql})").fetchall()
        )
        spark_cols = sorted(df.columns)
        if oracle_cols != spark_cols:
            mismatches[name] = (spark_cols, oracle_cols)
    assert not mismatches, f"column-name drift: {mismatches}"


def _raw_rows_by_query() -> dict[str, list[int]]:
    """Every driver round that recorded a row for each query, ignoring
    rewrite cutoffs (the raw CORRECTNESS_r*.json contents)."""
    import json
    import re
    from pathlib import Path

    rows: dict[str, list[int]] = {}
    for p in Path(ROOT).glob("CORRECTNESS_r*.json"):
        m = re.search(r"CORRECTNESS_r(\d+)", p.name)
        try:
            names = json.loads(p.read_text()).keys()
        except Exception:  # noqa: BLE001
            continue
        for name in names:
            rows.setdefault(name, []).append(int(m.group(1)))
    return rows


def test_rotation_reverifies_rewritten_queries():
    """Evidence-policy guard (ADVICE r5, mechanized per VERDICT r11 #1):
    a driver-correctness row RECORDED BEFORE a query's rewrite round —
    now derived from git per defining file, merged over the static
    floor — must not count as coverage; the rotation must resurface the
    query ahead of the covered tail until a round >= the rewrite round
    re-establishes Spark-vs-oracle equality."""
    mod = _load_entry()
    order = list(mod.queries())
    covered = mod._covered_in_prior_rounds()
    pos = {n: i for i, n in enumerate(order)}
    n_uncovered = len(order) - len(covered)
    raw = _raw_rows_by_query()
    for name, rnd in mod._reverify_rounds().items():
        if name not in pos:
            continue
        rows = raw.get(name, [])
        if rows and max(rows) < rnd:
            # stale evidence only -> must NOT be covered, and must sit
            # in the uncovered (front) segment, ahead of the covered tail
            assert name not in covered, name
            assert pos[name] < n_uncovered, name
        elif rows and max(rows) >= rnd:
            assert name in covered, name
    # every uncovered query precedes every covered one
    statuses = [n in covered for n in order]
    assert statuses == sorted(statuses), (
        "rotation must order uncovered before covered"
    )


def test_mechanical_reverify_supersedes_manual_floor():
    """The git-derived map must actually be PRESENT and stricter than
    the hand-maintained floor — not merely merged over it. (The
    max-merge makes `merged >= floor` a tautology; the teeth are the
    direct assertions on the mechanical map itself: total coverage of
    the registry, recent rounds represented, and at least one manual
    entry strictly raised by a later file touch.)"""
    mod = _load_entry()
    merged = mod._reverify_rounds()
    from catenae_kafka_spark.evidence import (
        current_round,
        query_source_files,
        reverify_rounds,
    )

    src = query_source_files()
    assert set(src) >= set(mod.queries()), "every query must map to a file"
    mech = reverify_rounds()  # raises on path-normalization breakage
    assert set(mech) >= set(mod.queries()), "mechanical map must be total"
    # git history is being read for real: recent rounds appear
    assert max(mech.values()) >= current_round() - 1
    assert min(mech.values()) >= 1
    for name, rnd in mod._REVERIFY_FROM_ROUND.items():
        assert merged.get(name, 0) >= rnd, (name, merged.get(name), rnd)
    # the mechanical derivation strictly supersedes the floor somewhere
    # (files keep being touched after their manual rewrite round)
    assert any(
        mech.get(name, 0) > rnd
        for name, rnd in mod._REVERIFY_FROM_ROUND.items()
    ), "mechanical map never exceeds the manual floor — git scan broken?"


def test_rotation_orders_uncovered_streams_before_batch():
    """VERDICT r9 #3 + r12 recency policy: within the uncovered (front)
    segment, every streaming-tagged query comes before the batch
    remainder; within the stream and batch groups the most recently
    REWRITTEN queries lead (this round's code changes carry the real
    regression risk), ties cheapest-first. If nothing relevant is
    uncovered anymore, the invariant holds vacuously."""
    from catenae_kafka_spark.registry import all_specs

    mod = _load_entry()
    order = list(mod.queries())
    covered = mod._covered_in_prior_rounds()
    specs = all_specs()
    tail = [n for n in order if n not in covered]
    is_stream = ["streaming" in specs[n].tags for n in tail]
    # all True (streams) must precede all False (batch)
    assert is_stream == sorted(is_stream, reverse=True), (
        "uncovered streaming queries must precede uncovered batch queries"
    )
    # recency: within each group the rewrite round must be non-increasing
    reverify = mod._reverify_rounds()
    for group in (
        [n for n in tail if "streaming" in specs[n].tags],
        [n for n in tail if "streaming" not in specs[n].tags],
    ):
        rounds = [reverify.get(n, 0) for n in group]
        assert rounds == sorted(rounds, reverse=True), (
            "uncovered groups must order most-recently-rewritten first"
        )


def test_rotation_coverage_shrinks_monotonically():
    """VERDICT r10 #6: the set `registry − ∪CORRECTNESS_r*` must shrink
    every round until empty — a rotation bug that re-runs covered
    queries while uncovered ones remain would otherwise strand them
    silently. History (r01–r10) newly covered 49–50 queries per 50-row
    round; the law asserts ≥ NEW_MIN new coverages per round while that
    many remain (slack for reverification pins re-spending rows), and
    ALL remaining once fewer than NEW_MIN are left."""
    import json
    import re
    from pathlib import Path

    NEW_MIN = 40  # 50-row driver budget minus generous pin/reverify slack
    mod = _load_entry()
    reg = set(mod.queries())
    files = sorted(
        Path(ROOT).glob("CORRECTNESS_r*.json"),
        key=lambda p: int(re.search(r"r(\d+)", p.name).group(1)),
    )
    cum: set = set()
    for p in files:
        try:
            keys = set(json.loads(p.read_text()))
        except ValueError:
            continue  # a corrupt driver file is not a rotation bug
        before = len(reg - cum)
        cum |= keys
        after = len(reg - cum)
        newly = before - after
        if before > 0:
            assert newly >= min(before, NEW_MIN), (
                f"{p.name}: only {newly} newly covered queries with "
                f"{before} still uncovered — rotation is re-stranding "
                "queries (check _covered_in_prior_rounds / queries() order)"
            )
        assert after <= before


def test_rotation_covered_tail_is_stalest_first():
    """Round 11+: once every query is covered, the driver's 50-row
    budget must cyclically REFRESH the oldest evidence — the covered
    tail is ordered by ascending last-verified round (then cost), so a
    regression in any covered query surfaces within one refresh cycle
    instead of the same fixed 50 queries being re-checked forever."""
    mod = _load_entry()
    order = list(mod.queries())
    last = mod._last_verified_round()
    covered_tail = [n for n in order if n in last]
    rounds = [last[n] for n in covered_tail]
    assert rounds == sorted(rounds), "covered tail must be stalest-first"
    # consistency: _covered_in_prior_rounds is exactly the keyset
    assert mod._covered_in_prior_rounds() == set(last)
    # sanity on the data: multiple distinct staleness levels exist
    assert len(set(rounds)) >= 2


def test_every_weak_query_has_a_weakcheck_recorder():
    """Static completeness for the WEAKCHECK artifact (VERDICT r11 #5):
    every oracle-less query must be recorded by some property test via
    the weakcheck fixture — grep the test sources for the recorder's
    first argument and compare against the registry. A weak query
    without a recorder would stay invisible in WEAKCHECK_r{N}.json
    forever, the exact gap the artifact exists to close."""
    import re
    from pathlib import Path

    from catenae_kafka_spark.registry import all_specs

    weak = {n for n, s in all_specs().items() if s.oracle is None}
    assert weak, "registry lost its weak queries?"
    recorded: set[str] = set()
    for p in Path(__file__).parent.glob("test_*.py"):
        recorded |= set(re.findall(r'weakcheck\(\s*\n?\s*"(q_\w+)"', p.read_text()))
    missing = weak - recorded
    assert not missing, f"weak queries without a WEAKCHECK recorder: {missing}"
