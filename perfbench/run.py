"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload headline_sf0.1 --seed 1 --seconds 10 --trace 0

Run from the root of a repository checkout. The run generates its
inputs from ``--seed`` (``datagen.py``), starts one engine session at
``local[<cpus>]``, checks every operation's output once (cold, outside
the timed window), warms every operation up, then runs passes over the workload's operations in
a seeded order until ``--seconds`` have elapsed and at least two
passes have run. It prints a readable
summary and, as its last stdout line, a JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
alternates untraced and traced passes, so the tracing overhead is the
difference between the two; its span tree is written under
``.perfbench/traces/``. Everything else the run writes lives in
``.perfbench/run-<pid>/`` and is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: engine and harness sources the benchmark drives
REQUIRED = ("catenae_kafka_spark/registry.py", "catenae_kafka_spark/session.py", "tools/check.py")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="engine benchmark (see perfbench/README.md)")
    ap.add_argument("--workload", required=True, choices=["headline_sf0.1", "stream_link"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def driver_mem_mb() -> int:
    """A quarter of physical memory, at most 4 GiB."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return min(4096, total_kb // 4096)


def configure_env(work: str) -> None:
    """Size the session to this host and keep every scratch file in
    ``work``. Must run before pyspark or tempfile are first used."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mem_mb()}m",
        PYSPARK_PYTHON=sys.executable,
        DUCKDB_MEMORY_LIMIT_GB="2",
    )


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    configure_env(work)
    try:
        from harness import Run

        result = Run(args, work).go()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
