"""Local oracle harness: mimic the driver's Spark-vs-DuckDB comparison.

Usage:
    python tools/check.py                 # all registered queries @ sf0.01
    python tools/check.py q_join_inner    # subset
    python tools/check.py --jobs 8        # parallel sweep (one Spark
                                          # session, N worker threads,
                                          # per-thread DuckDB oracles)
    SF_DIR=/root/testdata/sf0.001 python tools/check.py

The sweep is fixed-cost dominated (planner + micro-batch spin-up per
query, not data), so a parallel sweep overlaps those fixed costs on one
local[32] session. Per-query costs are only recorded into
query_costs.json from SEQUENTIAL runs — under --jobs the wall times
include scheduler contention and would corrupt the driver's
cheapest-first ordering.

For each query with an oracle: run the Spark callable and the DuckDB SQL
on the same parquet tables, then compare row count, column-name set, and
order-insensitive values (exact for strings/ints, tiny-tolerance check
reported for floats so near-miss rounding issues surface loudly).
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from catenae_kafka_spark.catalog import TABLES, table_path
from catenae_kafka_spark.registry import all_specs
from catenae_kafka_spark.session import get_spark


#: the scale the DRIVER verifies at; cost recording and spill hygiene
#: key off it (keep in sync with the SF_DIR default in main()).
DRIVER_SF = "sf0.01"


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    return True


def _reclaim_stale_spill_dirs(max_age_s: float = 6 * 3600) -> None:
    """Remove orphaned duck_spill_* dirs from crashed runs.

    The atexit cleanup only covers clean process exits — DuckDB's
    uncatchable C++ abort (and SIGKILL/OOM) strands the spill dir with
    everything in it, and those stranded dirs are what actually filled
    the disk. Reclamation is pid-based (ADVICE r7): dirs are named
    duck_spill_<pid>_* and reclaimed when that pid is dead — directory
    mtime only moves on file create/delete, so a long-lived connection
    writing into existing spill files looks "stale" by mtime alone.
    Legacy unnamed dirs (no pid segment) fall back to the mtime check."""
    import glob
    import re as _re
    import shutil
    import tempfile

    now = time.time()
    for d in glob.glob(os.path.join(tempfile.gettempdir(), "duck_spill_*")):
        try:
            m = _re.match(r"duck_spill_(\d+)_", os.path.basename(d))
            if m is not None:
                if not _pid_alive(int(m.group(1))):
                    shutil.rmtree(d, ignore_errors=True)
            elif now - os.path.getmtime(d) > max_age_s:
                shutil.rmtree(d, ignore_errors=True)
        except OSError:
            continue


def duck_connection(sf_dir: str, jobs: int = 1) -> duckdb.DuckDBPyConnection:
    import tempfile

    con = duckdb.connect()
    # Cap the oracle engine so a pathological plan fails loudly instead
    # of thrashing the host: q_pagerank's pre-round-6 oracle re-inlined
    # its CTE chain exponentially at sf0.1 and ate 105 GB before the
    # fix (AS MATERIALIZED). Override with DUCKDB_MEMORY_LIMIT_GB. Under
    # --jobs the cap is divided across workers so N connections cannot
    # oversubscribe the host together.
    cap_gb = int(os.environ.get("DUCKDB_MEMORY_LIMIT_GB", "24"))
    con.execute(f"SET memory_limit='{max(cap_gb // max(jobs, 1), 2)}GB'")
    # Every connection must get its OWN spill directory: the default is
    # the cwd-relative '.tmp', and two concurrent connections spilling
    # there race on the same duckdb_temp_storage-*.tmp files — observed
    # as an uncatchable C++ abort ("Could not remove file ... .tmp/
    # duckdb_temp_storage-0.tmp") that killed a whole sf0.1 sweep.
    _reclaim_stale_spill_dirs()
    spill_dir = tempfile.mkdtemp(prefix=f"duck_spill_{os.getpid()}_")
    con.execute(f"SET temp_directory='{spill_dir}'")
    # Spill dirs must be reclaimed at process exit: a quadratic oracle
    # can spill tens of GB, and a sweep that leaks them fills the root
    # filesystem within a few runs (observed: 27 GB of orphaned
    # duck_spill_* dirs → "No space left on device" killed 4 queries of
    # an sf0.1 sweep). DuckDB removes its temp files on clean close but
    # not the directory, and nothing removed either on abort.
    import atexit
    import shutil

    atexit.register(shutil.rmtree, spill_dir, ignore_errors=True)
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize values for comparison."""
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<null>"
        if pd.isna(v):
            return "<null>"
        if isinstance(v, float):
            return f"{v:.6f}"
        if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
            try:
                return str([norm(x) for x in list(v)])
            except Exception:
                return str(v)
        return str(v)

    out = df.map(norm)
    out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)
    return out


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return problems
    if len(sdf) != len(odf):
        problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
    cs, co = canon(sdf), canon(odf)
    if len(cs) == len(co):
        neq = (cs != co)
        bad_cells = int(neq.to_numpy().sum())
        if bad_cells:
            cols = [c for c in cs.columns if neq[c].any()]
            sample_rows = neq.any(axis=1)
            idx = list(cs.index[sample_rows])[:3]
            detail = []
            for i in idx:
                for col in cols[:3]:
                    if neq.at[i, col]:
                        detail.append(f"[{i}]{col}: {cs.at[i, col]!r} vs {co.at[i, col]!r}")
            problems.append(f"{bad_cells} mismatched cells in {cols[:6]}; e.g. {detail[:4]}")
    return problems


def _run_one(spark, sf_dir: str, name: str, spec, con) -> tuple[str, str, float]:
    """Run one query + oracle comparison. Returns (status, line, secs)
    where status is 'ok' | 'weak' | 'fail'."""
    t0 = time.time()
    try:
        sdf = spec.fn(spark, sf_dir).toPandas()
    except Exception as exc:  # noqa: BLE001
        return "fail", f"FAIL {name}: spark raised {type(exc).__name__}: {exc}", time.time() - t0
    if spec.oracle is None:
        dt = time.time() - t0
        return "weak", f"weak {name}: rows={len(sdf)} ({dt:.1f}s)", dt
    try:
        odf = con.execute(spec.oracle).df()
    except Exception as exc:  # noqa: BLE001
        return "fail", f"FAIL {name}: duckdb raised {type(exc).__name__}: {exc}", time.time() - t0
    problems = compare(name, sdf, odf)
    dt = time.time() - t0
    if problems:
        return "fail", f"FAIL {name}: " + " | ".join(problems), dt
    return "ok", f"ok   {name}: rows={len(sdf)} ({dt:.1f}s)", dt


def main() -> int:
    sf_dir = os.environ.get("SF_DIR", f"/root/testdata/{DRIVER_SF}")
    args = sys.argv[1:]
    jobs = int(os.environ.get("CHECK_JOBS", "1"))
    if "--jobs" in args:
        i = args.index("--jobs")
        jobs = int(args[i + 1])
        del args[i : i + 2]
    wanted = set(args)
    specs = all_specs()
    unknown = wanted - specs.keys()
    if unknown:
        print(f"unknown queries: {sorted(unknown)}", file=sys.stderr)
        return 2
    if wanted:
        specs = {k: v for k, v in specs.items() if k in wanted}
    spark = get_spark("oracle-check")
    # Warm the session BEFORE timing: the first Spark job pays one-time
    # codegen/classloading/parquet-footer costs (~5s) that otherwise get
    # booked against whichever query sorts first (q_ab_srm_check was
    # carrying a 5.03s cost that is really 0.56s warm — VERDICT r5 #4).
    spark.range(1).count()
    spark.read.parquet(table_path(sf_dir, "events")).limit(1).collect()
    n_pass = n_fail = n_weak = 0
    failures: list[str] = []
    times: dict[str, float] = {}

    if jobs <= 1:
        con = duck_connection(sf_dir)
        results = (
            (name, *_run_one(spark, sf_dir, name, spec, con))
            for name, spec in sorted(specs.items())
        )
    else:
        # one Spark session shared by N worker threads (Spark job
        # submission is thread-safe; streaming query names are uuid-unique;
        # every drain runs on its own session clone); DuckDB
        # connections are NOT thread-safe -> one per worker thread.
        import threading
        from concurrent.futures import ThreadPoolExecutor

        tls = threading.local()

        def worker(item):
            name, spec = item
            if not hasattr(tls, "con"):
                tls.con = duck_connection(sf_dir, jobs)
            return (name, *_run_one(spark, sf_dir, name, spec, tls.con))

        from concurrent.futures import as_completed

        pool = ThreadPoolExecutor(max_workers=jobs)
        futures = [pool.submit(worker, item) for item in sorted(specs.items())]
        # as_completed, not map: map yields in submission order, so one
        # slow query silently freezes the progress log even while later
        # queries finish
        results = (f.result() for f in as_completed(futures))

    def count(name: str, status: str, dt: float) -> None:
        nonlocal n_pass, n_weak, n_fail
        if status == "ok":
            n_pass += 1
            times[name] = dt
        elif status == "weak":
            n_weak += 1
            times[name] = dt
        else:
            n_fail += 1
            failures.append(name)

    # Oracle spill-disk failures under --jobs are retried SEQUENTIALLY:
    # N concurrent DuckDB connections each get cap/N memory, so the
    # heavy graph/recursive-CTE oracles at sf0.1 all spill to disk at
    # once and can exhaust /tmp together ("No space left on device" —
    # observed round 7: 4 such fails in a --jobs 8 sf0.1 sweep, all 4
    # pass sequentially with the full memory budget). A genuine
    # mismatch is NOT retried — only the oracle-side disk failure.
    spill_failed: list[str] = []
    for name, status, line, dt in results:
        if (
            jobs > 1
            and status == "fail"
            and (
                "No space left on device" in line
                # Concurrency-only failure class, not a correctness
                # signal: Python data-source registration raced under
                # --jobs (DATA_SOURCE_NOT_FOUND for a format registered
                # moments earlier) — serialized in sources/synthetic.py,
                # retried here in case Spark's registry races internally.
                or "DATA_SOURCE_NOT_FOUND" in line
            )
        ):
            spill_failed.append(name)
            print(line + "  [queued for sequential retry]", flush=True)
            continue
        print(line, flush=True)
        count(name, status, dt)
    if spill_failed:
        retry_con = duck_connection(sf_dir)
        for name in sorted(spill_failed):
            status, line, dt = _run_one(
                spark, sf_dir, name, specs[name], retry_con
            )
            print(line + "  [sequential retry]", flush=True)
            count(name, status, dt)
    if not _record_costs(times, sf_dir=sf_dir, jobs=jobs) and jobs <= 1 and times:
        print(
            f"(costs not recorded: {sf_dir} is not the driver scale {DRIVER_SF})"
        )
    print(f"\n{n_pass} ok, {n_weak} weak, {n_fail} fail" + (f": {failures}" if failures else ""))
    return 1 if n_fail else 0


def _record_costs(
    times: dict[str, float], *, sf_dir: str, jobs: int
) -> bool:
    """Merge measured per-query wall times (Spark + oracle, sf0.01) into
    tools/query_costs.json. __spark_entry__.queries() orders the driver's
    never-covered group cheapest-first from this file, so the driver's
    global time budget covers the maximum number of queries per round.

    The recording POLICY is enforced here, not at the call site (VERDICT
    r7 #8): costs are valid only from a SEQUENTIAL run at the driver's
    scale. min-merge means one sequential sf0.001 sweep would clobber
    every entry with near-zero times and invert the rotation ordering
    (sf0.1 runs are merely ineffective — larger times lose the min —
    but the small-sf direction silently corrupts); parallel-sweep wall
    times include scheduler contention. Returns True iff recorded."""
    import json

    if jobs > 1 or os.path.basename(os.path.normpath(sf_dir)) != DRIVER_SF:
        return False
    if not times:
        return True
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "query_costs.json")
    try:
        costs = json.load(open(path))
    except Exception:  # noqa: BLE001
        costs = {}
    for name, sec in times.items():
        costs[name] = round(min(sec, costs.get(name, sec)), 2)
    json.dump(costs, open(path, "w"), indent=0, sort_keys=True)
    return True


if __name__ == "__main__":
    raise SystemExit(main())
