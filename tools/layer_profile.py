"""Profile registry queries: build/exec split, plan shape, scale steps.

Prints one JSON document with, per ``--sf-dir`` and query: ``scans`` /
``exchanges`` / ``reused`` (parquet scans, Exchanges net of reuse and
ReusedExchanges in the executed plan, the perfbench harness method);
``build_min`` (the driver-side ``fn(spark, sf_dir)`` call, py4j plan
construction plus any eager materialization job) and ``exec_min`` (the
noop-sink execution), min over ``--reps`` interleaved runs; and
``total_min`` / ``total_med`` of build + exec. With two or more dirs,
``step_ratio`` is each query's ``total_min`` at the last dir over the
dir before it (bench.py gates that step at ``SCALE_STEP_SLACK``). A
query that raises is recorded as ``{"error": ...}``; the run goes on.

Plans are built and counted first, 8 at a time; ``--reps 0`` stops
there, so ``--queries all --reps 0`` is the registry plan census that
finds subtree duplication (Catalyst does not deduplicate a reused
DataFrame subtree). ``--explain DIR`` writes ``explain("formatted")``
per query at the last dir, with run-local ids (``#123``, ``plan_id=``,
``id=``, RDD and lambda ids) and RDD call sites replaced by fixed
tokens, so dumps from two checkouts compare with a plain ``diff -r``.

Usage: python tools/layer_profile.py [--queries bench|all|q_a,q_b] [--reps N]
           [--sf-dir DIR ...] [--explain DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from catenae_kafka_spark.catalog import DEFAULT_SF_DIR
from catenae_kafka_spark.registry import all_specs
from catenae_kafka_spark.session import get_spark


def select(specs: dict, queries: str) -> list[str]:
    """``bench``: the batch headline set; ``all``: every batch query;
    otherwise a comma list of names (unknown names error per query)."""
    if queries in ("bench", "all"):
        return sorted(
            n for n, s in specs.items()
            if "streaming" not in s.tags and (queries == "all" or s.bench)
        )
    return [q.strip() for q in queries.split(",") if q.strip()]


def _stable(plan: str) -> str:
    """``plan`` with run-local numbers (expression, plan, RDD and lambda
    ids) and RDD call sites replaced by fixed tokens."""
    plan = re.sub(r"(#|\bplan_id=|\bid=|\blambda \w_|RDD\[)\d+", r"\1N", plan)
    return re.sub(r"(RDD\[N\]) at \S+ at [^\s,]+", r"\1", plan)


def _error(exc: Exception) -> dict:
    return {"error": f"{type(exc).__name__}: {exc}"[:300]}


def profile(spark, specs: dict, names: list[str], sf_dirs: list[str],
            reps: int, explain_dir: str | None = None) -> dict:
    """The JSON document the module docstring describes."""
    if explain_dir:
        os.makedirs(explain_dir, exist_ok=True)

    def shape(job):
        """Build once; count the executed plan's scans and Exchanges."""
        d, n = job
        try:
            qe = specs[n].fn(spark, d)._jdf.queryExecution()  # noqa: SLF001
            if explain_dir and d == sf_dirs[-1]:
                with open(os.path.join(explain_dir, f"{n}.txt"), "w") as fh:
                    fh.write(_stable(spark._jvm.PythonSQLUtils.explainString(qe, "formatted")))  # noqa: SLF001
            plan = qe.executedPlan().toString()
        except Exception as exc:  # noqa: BLE001 — recorded, the run goes on
            return _error(exc)
        reused = plan.count("ReusedExchange")
        return {"scans": plan.count("Scan parquet"),
                "exchanges": plan.count("Exchange") - reused, "reused": reused}

    jobs = [(d, n) for d in sf_dirs for n in names]
    with ThreadPoolExecutor(max_workers=8) as pool:
        recs = dict(zip(jobs, pool.map(shape, jobs)))
    runs: dict[tuple, list[tuple[float, float]]] = {j: [] for j in jobs}
    if reps:
        spark.range(1000).write.format("noop").mode("overwrite").save()
    for _ in range(reps):
        for (d, n), rec in recs.items():
            if "error" in rec:
                continue
            try:
                t0 = time.perf_counter()
                df = specs[n].fn(spark, d)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                runs[d, n].append((t1 - t0, time.perf_counter() - t1))
            except Exception as exc:  # noqa: BLE001
                recs[d, n] = _error(exc)
    for job, r in runs.items():
        if r and "error" not in recs[job]:
            totals = sorted(b + e for b, e in r)
            recs[job].update(
                build_min=round(min(b for b, _ in r), 3),
                exec_min=round(min(e for _, e in r), 3),
                total_min=round(totals[0], 3),
                total_med=round(totals[len(totals) // 2], 3),
            )

    by_dir = {d: {n: recs[d, n] for n in names} for d in sf_dirs}
    out: dict = {"reps": reps, "sf_dirs": by_dir}
    if len(sf_dirs) > 1:
        top, base = by_dir[sf_dirs[-1]], by_dir[sf_dirs[-2]]
        out["step_ratio"] = {
            n: round(top[n]["total_min"] / base[n]["total_min"], 2)
            for n in names
            if top[n].get("total_min") and base[n].get("total_min")
        }
    return out


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--queries", default="bench")
    ap.add_argument("--sf-dir", action="append", dest="sf_dirs")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--explain", default=None)
    args = ap.parse_args(argv)
    if args.reps < 0:
        ap.error("--reps must be >= 0")
    specs = all_specs()
    out = profile(
        get_spark("profile"), specs, select(specs, args.queries),
        args.sf_dirs or [DEFAULT_SF_DIR], args.reps, args.explain,
    )
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
