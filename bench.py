"""Benchmark runner (driver contract: one JSON line to stdout).

Runs the headline query set (bench=True specs: flagship join-agg, fact
join, TPC-H Q1 agg, as-of join, window rank, MinHash dedup, KNN cosine,
language-ID, streaming tumbling window) at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS], forcing full execution JVM-side via the noop
sink (no rows cross to Python).

Record handoff (VERDICT r10 #1): the driver tail-captures a bounded
window of stdout, and round 10's single final JSON line (queries +
medians + sfx1 + sfx10 + host blocks) outgrew it — BENCH_r10 recorded
``"parsed": null`` with the numbers surviving only in a truncated tail
string. So stdout's ONE final line is now a COMPACT summary (see
``_compact_record``; bounded by ``MAX_FINAL_LINE_BYTES``):

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {per-query mins}, "sf": <sf>, "value_median": ...,
     "stream_events_per_s": ..., "sfx1": {"worst_ratio", "guard_failed"},
     "sfx10": {...}, "host": {"steal_pct_max", ...}, "full_record": path}

while the FULL record goes to $BENCH_FULL_PATH (default:
bench_full.json next to this file) and, belt-and-braces, to stderr.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from catenae_kafka_spark.registry import all_specs
from catenae_kafka_spark.session import get_spark


def sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def _host_sample(label: str) -> dict:
    """One host-load observation: 1-min load average plus cumulative
    steal/total jiffies from /proc/stat. VERDICT r9 #4: the r9 bench
    regression (+13% uniform across untouched queries) was attributed
    to hypervisor contention only via cross-round min/median forensics;
    sampling these around each query set puts the attribution IN the
    bench record."""
    d: dict = {"label": label}
    try:
        with open("/proc/loadavg") as fh:
            d["load1"] = float(fh.read().split()[0])
    except Exception:  # noqa: BLE001 — /proc may be absent (non-Linux)
        d["load1"] = None
    try:
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:]]
        # cpu: user nice system idle iowait irq softirq steal ...
        d["_steal"] = v[7] if len(v) > 7 else 0
        d["_total"] = sum(v)
    except Exception:  # noqa: BLE001
        d["_steal"] = None
        d["_total"] = None
    return d


def _host_block(samples: list[dict]) -> dict:
    """Fold the labeled samples into the JSON ``host`` block: load1 per
    sample point and steal%% over each adjacent interval (guard-exempt
    telemetry — see BASELINE.md)."""
    block: dict = {
        "cpus": os.cpu_count(),
        "load1": {s["label"]: s["load1"] for s in samples},
        "steal_pct": {},
    }
    for a, b in zip(samples, samples[1:]):
        if (
            a.get("_total") is not None
            and b.get("_total") is not None
            and b["_total"] > a["_total"]
        ):
            block["steal_pct"][f"{a['label']}->{b['label']}"] = round(
                100.0 * (b["_steal"] - a["_steal"]) / (b["_total"] - a["_total"]),
                2,
            )
    return block


#: hard bound on the final stdout line. The driver's tail capture keeps
#: ~2000 chars; round 10's full record was truncated MID-LINE there and
#: the round lost its machine-readable bench row. 1500 leaves headroom
#: for the driver's own wrapping. tests/test_bench_guard.py asserts a
#: representative full record compacts under this bound with every
#: driver-contract key (metric/value/unit/queries/sf) intact; on
#: pathological records _emit sheds optional fields and, as the very
#: last resort, the per-query map — the scalar contract keys are never
#: dropped and the bound is enforced unconditionally.
MAX_FINAL_LINE_BYTES = 1500


def _compact_record(out: dict) -> dict:
    """Project the full bench record onto the compact stdout summary:
    driver-contract keys (metric, value, unit, queries, sf) plus the
    headline evidence a round needs at a glance — value_median, stream
    rates, per-rung worst_ratio/guard_failed, max steal/load — and the
    path of the full record. Everything bulky (per-query medians and
    sample counts, per-rung per-query timings/ratios, per-interval host
    samples, retry samples) lives only in the full record."""
    c: dict = {
        "metric": out.get("metric"),
        "value": out.get("value"),
        "unit": out.get("unit"),
        "stat": out.get("stat"),
        "sf": out.get("sf"),
        "queries": out.get("queries"),
        "value_median": out.get("value_median"),
    }
    for k in ("stream_events_per_s", "stream_events_per_s_sustained"):
        if k in out:
            c[k] = out[k]
    sg = out.get("stream_guard")
    if sg:
        c["stream_guard"] = {
            "breached": sorted(sg.get("breached") or {}),
            "contention_suspect": sg.get("contention_suspect"),
        }
    if out.get("errors"):
        c["errors"] = {n: str(e)[:80] for n, e in out["errors"].items()}
    for rung in ("sfx1", "sfx10"):
        r = out.get(rung)
        if not isinstance(r, dict):
            continue
        if "skipped" in r:
            c[rung] = {"skipped": True}
        else:
            c[rung] = {
                "worst_ratio": r.get("worst_ratio"),
                "guard_failed": r.get("guard_failed"),
                "value": r.get("value"),
            }
    for k in ("sfx1_error", "sfx10_error"):
        if k in out:
            c[k] = str(out[k])[:120]
    host = out.get("host") or {}
    steals = [v for v in (host.get("steal_pct") or {}).values() if v is not None]
    loads = [v for v in (host.get("load1") or {}).values() if v is not None]
    c["host"] = {
        "cpus": host.get("cpus"),
        "steal_pct_max": max(steals) if steals else None,
        "load1_max": max(loads) if loads else None,
    }
    if out.get("full_record_path"):
        c["full_record"] = out["full_record_path"]
    return c


def _emit(out: dict) -> None:
    """Write the FULL record to $BENCH_FULL_PATH and stderr, then print
    the compact summary as the one stdout line. A line over
    ``MAX_FINAL_LINE_BYTES`` sheds optional fields — full_record (the
    env-controlled path is the one unbounded string), then errors,
    host, and as the very last resort the per-query mins (everything
    else is bounded: rung error strings are pre-truncated, the rung
    blocks and contract scalars are fixed-shape) — and the bound is
    re-checked after every shed so an over-long line can never reach
    stdout, where the driver's tail capture would truncate it mid-line
    (the exact r10 ``parsed: null`` failure)."""
    full_path = os.environ.get(
        "BENCH_FULL_PATH",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_full.json"),
    )
    try:
        # default=str: a non-JSON-native value (numpy scalar, exception
        # object) must degrade to its repr, not raise TypeError and kill
        # the stdout contract line this function exists to protect
        # (ADVICE r11). Serialize FULLY before opening: json.dump would
        # truncate-then-stream, so a mid-serialization failure (circular
        # ref) would clobber the previous good record with partial JSON.
        payload = json.dumps(out, default=str)
        with open(full_path, "w") as fh:
            fh.write(payload)
        out["full_record_path"] = full_path
    except (OSError, TypeError, ValueError) as exc:
        print(f"bench full-record write failed: {exc}", file=sys.stderr, flush=True)
    try:
        print(json.dumps({"bench_full": out}, default=str), file=sys.stderr, flush=True)
    except ValueError as exc:  # circular reference survives default=str
        print(f"bench full-record stderr dump failed: {exc}", file=sys.stderr, flush=True)
    compact = _compact_record(out)
    line = json.dumps(compact, default=str)
    for victim in ("full_record", "errors", "host", "queries"):
        if len(line.encode()) <= MAX_FINAL_LINE_BYTES:
            break
        compact.pop(victim, None)
        line = json.dumps(compact, default=str)
    if len(line.encode()) > MAX_FINAL_LINE_BYTES:
        # unreachable by construction (see docstring), but the bound is
        # the contract: fall back to the bare driver-contract scalars
        # rather than ever printing a truncatable line
        compact = {
            k: compact.get(k) for k in ("metric", "value", "unit", "stat", "sf")
        }
        line = json.dumps(compact, default=str)
    print(line, flush=True)


N_RUNS = 3  # streaming queries (per-run cost ~1-4 s)
N_RUNS_BATCH = 5  # batch queries (cheap; more samples for a stable min)
#: streaming-floor re-measures before declaring a breach (VERDICT r12
#: #1: two retries were not enough to ride out a multi-minute
#: contention burst; each retry costs ~2-6 s)
N_GUARD_RETRIES = 4
#: steal%% at or above which a floor breach is attributed to host
#: contention rather than code. Quiet-host rounds record <=0.1-0.5%%;
#: every documented false breach (r12, r13 baseline) ran at >=2%%.
STEAL_SUSPECT_PCT = 1.0
#: streaming-throughput floors (events/s), calibrated at sf0.1 (VERDICT
#: r5 #7): well below the measured record (e2e 95.8k, sustained 315k)
#: but well above any pre-fix number, so a regression to the old
#: fixed-cost behavior fails the bench run loudly instead of drifting
STREAM_FLOORS = {
    "stream_events_per_s": 60_000,
    "stream_events_per_s_sustained": 250_000,
}
# Primary stat is the per-query MIN (timeit's convention): round-7
# measured the driver host stealing up to 23% CPU with 70% sys-time
# spikes (vCPU descheduling + guest spinlock contention) — the same
# code swung q_dedup_minhash 4.3 s -> 31.7 s between consecutive runs
# with zero code change. Under that noise the median still absorbs
# contention slices; the min estimates what the code costs when it
# actually gets the CPU, which is the property BENCH is meant to track
# round-over-round. The median is still reported (queries_median /
# value_median) so the noise level itself stays visible.


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    # warm up the JVM/codegen paths on a trivial action so the first
    # timed query doesn't absorb session spin-up
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()
    # pre-stage the streaming replay layout outside the timed window:
    # the benchmark measures stream PROCESSING, not the one-time
    # fixture re-layout (a production stream's data is already in the
    # source system)
    from catenae_kafka_spark.streaming.sources import replay_events

    try:
        replay_events(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001
        # staging failure degrades the streaming queries, not the bench
        print(f"replay pre-stage failed: {exc}", file=sys.stderr, flush=True)
    host_samples = [_host_sample("start")]
    specs = {n: s for n, s in all_specs().items() if s.bench}
    # INTERLEAVED rounds: run the whole query set once per round and
    # repeat, instead of running one query's N repeats back-to-back.
    # The host's contention arrives in multi-second bursts (measured:
    # 23% steal / 70% sys-time slices), so consecutive repeats of one
    # query all land inside the same burst and even the min is poisoned
    # (q_window_rank: 3.48 s min consecutive vs 0.43 s true cost).
    # Interleaving puts ~a full round (~30-60 s) between a query's
    # samples, decorrelating bursts from queries.
    runs_by_query: dict[str, list[float]] = {n: [] for n in specs}
    errors: dict[str, str] = {}
    ordered = sorted(specs.items())
    for rnd in range(N_RUNS_BATCH):
        for name, spec in ordered:
            n_runs = N_RUNS if name.startswith("q_stream") else N_RUNS_BATCH
            if rnd >= n_runs or name in errors:
                continue
            # Per-query isolation: one raising query must NOT abort the
            # run and erase every already-measured timing (round 2 lost
            # the entire bench record to a single streaming failure).
            try:
                t0 = time.perf_counter()
                df = spec.fn(spark, sf_dir)
                # noop sink executes the complete plan, zero sink overhead
                df.write.format("noop").mode("overwrite").save()
                runs_by_query[name].append(time.perf_counter() - t0)
            except Exception as exc:  # noqa: BLE001
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
        # incremental flush: a crashed/killed run still leaves per-round
        # evidence on stderr (stdout stays reserved for the one JSON line)
        print(
            json.dumps(
                {
                    "bench_round": rnd,
                    "mins": {
                        n: round(min(r), 3) for n, r in runs_by_query.items() if r
                    },
                }
            ),
            file=sys.stderr,
            flush=True,
        )
    timings: dict[str, float | None] = {}
    medians: dict[str, float | None] = {}
    for name in specs:
        runs = runs_by_query[name]
        # A query that succeeded in early rounds but raised later keeps
        # the min/median of its successful samples — real evidence —
        # with the error recorded alongside (ADVICE r7). Only a query
        # with ZERO successful samples reports null timings.
        if not runs:
            timings[name] = None
            medians[name] = None
            errors.setdefault(name, "no successful runs")
        else:
            timings[name] = round(min(runs), 3)
            medians[name] = round(sorted(runs)[len(runs) // 2], 3)
    host_samples.append(_host_sample("headline_done"))
    measured = [t for t in timings.values() if t is not None]
    total = round(sum(measured), 3)
    med_measured = [t for t in medians.values() if t is not None]
    out = {
        "metric": "headline query-set wall time (batch+streaming), local mode",
        "value": total,
        "unit": "sec",
        # per-class sample counts (ADVICE r7): batch queries get
        # N_RUNS_BATCH interleaved samples, streaming ones N_RUNS;
        # n_samples records what each query ACTUALLY contributed
        # (fewer if later rounds errored); floor-guard retry samples
        # are reported separately under retry_samples.
        "n": {"batch": N_RUNS_BATCH, "stream": N_RUNS},
        "n_samples": {n: len(r) for n, r in runs_by_query.items()},
        "stat": "min",
        "queries": timings,
        "value_median": round(sum(med_measured), 3),
        "queries_median": medians,
        "sf": sf_from_dir(sf_dir),
    }
    if errors:
        out["errors"] = errors
    # end-to-end streaming throughput: every event replayed through the
    # multi-micro-batch watermark-windowed agg (BASELINE.md streaming
    # target); wall time includes streaming-query spin-up + micro-batch
    # fixed cost, so this is an honest e2e number, not per-batch peak
    # A missing/unreadable events file must degrade the streaming
    # metrics, not erase the whole bench record (ADVICE r7): the one
    # JSON line on stdout is the round's only evidence.
    n_events = None
    try:
        n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    except Exception as exc:  # noqa: BLE001
        print(f"events count failed: {exc}", file=sys.stderr, flush=True)
    if n_events and timings.get("q_stream_tumbling"):
        out["stream_events_per_s"] = round(
            n_events / timings["q_stream_tumbling"]
        )
    # SUSTAINED streaming throughput: same watermark-windowed agg over a
    # 5x-replicated replay (key-shifted copies, staged once outside the
    # timed window) — amortizes query spin-up + per-batch fixed cost,
    # measuring what a long-running stream actually sustains per core.
    try:
        out["stream_events_per_s_sustained"] = _sustained_stream_rate(
            spark, sf_dir
        )
    except Exception as exc:  # noqa: BLE001
        print(f"sustained-stream bench failed: {exc}", file=sys.stderr, flush=True)
    host_samples.append(_host_sample("sustained_done"))

    # Regression guard on STREAM_FLOORS: the round-5 streaming gains
    # came from replay batching + state-partition floors; hold that
    # line. Calibrated at the driver's sf0.1 — other SFs skip.
    if abs(sf_from_dir(sf_dir) - 0.1) < 1e-9:
        # A MISSING metric is a guard failure too (ADVICE r6): the
        # streaming bench swallows its exception above, and a collapse
        # to crash must fail as loudly as a collapse in throughput.
        def _breached() -> dict:
            return {
                k: (out.get(k), floor)
                for k, floor in STREAM_FLOORS.items()
                if out.get(k) is None or out[k] < floor
            }

        # Host-noise retry: the floors detect CODE regressions, but the
        # driver host's contention bursts (measured 23% steal) can sink
        # one streaming measurement 7x with zero code change. Before
        # declaring a breach, re-measure only the breached metrics up
        # to N_GUARD_RETRIES times, keeping the best observation — a
        # real code regression stays below the floor on every attempt.
        # Every retry observation is recorded in the JSON record
        # (ADVICE r7): a metric that only passed via best-of-retries is
        # visible to the driver as retry_samples — an intermittent
        # regression (slow most runs, occasionally fast) can't hide.
        retry_samples: dict[str, list] = {}
        for attempt in range(N_GUARD_RETRIES):
            broken = _breached()
            if not broken:
                break
            print(
                f"BENCH GUARD: retry {attempt + 1} for {sorted(broken)}",
                file=sys.stderr,
                flush=True,
            )
            try:
                if "stream_events_per_s" in broken and "q_stream_tumbling" in specs:
                    t0 = time.perf_counter()
                    specs["q_stream_tumbling"].fn(spark, sf_dir).write.format(
                        "noop"
                    ).mode("overwrite").save()
                    dt = time.perf_counter() - t0
                    retry_samples.setdefault("q_stream_tumbling_sec", []).append(
                        round(dt, 3)
                    )
                    best = min(
                        dt, timings.get("q_stream_tumbling") or float("inf")
                    )
                    if n_events:
                        out["stream_events_per_s"] = round(n_events / best)
                    # keep queries/value coherent with the rescued metric
                    if dt < (timings.get("q_stream_tumbling") or float("inf")):
                        timings["q_stream_tumbling"] = round(dt, 3)
                        out["value"] = round(
                            sum(t for t in timings.values() if t is not None), 3
                        )
                if "stream_events_per_s_sustained" in broken:
                    rate = _sustained_stream_rate(spark, sf_dir)
                    retry_samples.setdefault(
                        "stream_events_per_s_sustained", []
                    ).append(rate)
                    out["stream_events_per_s_sustained"] = max(
                        rate, out.get("stream_events_per_s_sustained") or 0
                    )
            except Exception as exc:  # noqa: BLE001
                print(
                    f"BENCH GUARD: retry failed: {exc}",
                    file=sys.stderr,
                    flush=True,
                )
        if retry_samples:
            out["retry_samples"] = retry_samples
        broken = _breached()
        if broken:
            # VERDICT r12 #1: the r12 run breached this floor under 6%
            # steal and exit(1) HERE killed the run before the sfx1 /
            # sfx10 rungs — the round lost its only same-core scale
            # measurement. A breach is now RECORDED (with the sampled
            # steal so the driver can attribute it) and the rungs still
            # run; the nonzero exit moves to the end of main() and only
            # fires when the host was quiet (a breach at high steal is
            # contention, not code — annotate, don't abort).
            host_samples.append(_host_sample("guard_retries_done"))
            steals = [
                v
                for v in _host_block(host_samples)["steal_pct"].values()
                if v is not None
            ]
            steal_max = max(steals) if steals else None
            out["stream_guard"] = _stream_guard_verdict(broken, steal_max)
            for k, (got, floor) in broken.items():
                msg = (
                    f"metric missing (streaming bench failed?), floor {floor}"
                    if got is None
                    else f"{got} below floor {floor}"
                )
                print(
                    f"BENCH GUARD: {k}={msg} "
                    f"(steal_max={steal_max}%, continuing to scale rungs)",
                    file=sys.stderr,
                    flush=True,
                )
        # 10x scale rung (VERDICT r8 #6): time the batch headline set
        # once more on the 10x-replicated sf0.1 staging (~sf1, 6M
        # lineitem) so a super-linear scale regression gates the bench
        # record automatically, not just the ad-hoc ladder runs.
        if not os.environ.get("BENCH_SKIP_10X"):
            try:
                _scale_rung(
                    spark,
                    timings,
                    out,
                    key="sfx1",
                    dst=os.environ.get("SFX1_DIR", "/tmp/sfx1"),
                    k=10,
                    n_runs=N_RUNS_10X,
                )
            except Exception as exc:  # noqa: BLE001
                # a staging/measurement failure degrades the rung, not
                # the round's only bench record
                out["sfx1_error"] = f"{type(exc).__name__}: {exc}"[:500]
                print(f"sfx1 rung failed: {exc}", file=sys.stderr, flush=True)
            host_samples.append(_host_sample("sfx1_done"))
        # 100x rung (VERDICT r9 #6): one more 10x step, ratioed against
        # the sfx1 rung's timings (its true 10x-input base). Skipped
        # when the sfx1 rung failed or was skipped — without the 10x
        # base its step would be a 100x jump mislabeled as 10x.
        sfx1_ok = bool(out.get("sfx1")) and not out["sfx1"].get("guard_failed")
        if not os.environ.get("BENCH_SKIP_100X") and sfx1_ok:
            try:
                _scale_rung(
                    spark,
                    out["sfx1"]["queries"],
                    out,
                    key="sfx10",
                    dst=os.environ.get("SFX10_DIR", "/tmp/sfx10"),
                    k=100,
                    n_runs=N_RUNS_100X,
                    stage_if_missing=False,
                )
            except Exception as exc:  # noqa: BLE001
                out["sfx10_error"] = f"{type(exc).__name__}: {exc}"[:500]
                print(f"sfx10 rung failed: {exc}", file=sys.stderr, flush=True)
            host_samples.append(_host_sample("sfx10_done"))
    out["host"] = _host_block(host_samples)
    _emit(out)
    # A streaming-floor breach is fatal only when the host was quiet
    # (steal below STEAL_SUSPECT_PCT across every sampled interval): a
    # quiet-host breach is a code regression; a contended-host breach is
    # recorded evidence the driver reads from stream_guard.
    sg = out.get("stream_guard") or {}
    stream_breach_fatal = bool(sg.get("breached")) and not sg.get(
        "contention_suspect"
    )
    if (
        out.get("sfx1", {}).get("guard_failed")
        or out.get("sfx10", {}).get("guard_failed")
        or stream_breach_fatal
    ):
        sys.exit(1)


#: the no-super-linear gate: each 10x-input step (sf0.1 -> sfx1 and
#: sfx1 -> sfx10) may cost at most 15x wall; measured worst steps sit
#: under 4x at both rungs (BASELINE.md)
SCALE_STEP_SLACK = 15.0
N_RUNS_10X = 2
#: min-of-2: a single cold shot at a new scale overestimates 2-4x
#: (page cache + codegen reuse); the second run is warm
N_RUNS_100X = 2


def _scale_rung(
    spark,
    base_timings: dict,
    out: dict,
    *,
    key: str,
    dst: str,
    k: int,
    n_runs: int,
    stage_if_missing: bool = True,
) -> None:
    """Batch headline queries at the k-fold replication of sf0.1;
    min-of-n_runs wall per query, ratio against ``base_timings`` (the
    rung one 10x step below), no-super-linear guard with one re-measure
    for breached queries (host noise). Writes ``out[key]``.

    ``stage_if_missing=False`` makes the rung marker-gated: when the
    staging is absent it records a skip instead of replicating inline —
    the 100x staging writes ~1.7 GB (~200 s), enough to endanger the
    bench run's budget, and a blown bench run loses the round's only
    record."""
    import importlib.util

    here = os.path.dirname(os.path.abspath(__file__))
    spec = importlib.util.spec_from_file_location(
        "scale10x", os.path.join(here, "tools", "scale10x.py")
    )
    s10 = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(s10)
    t_stage = 0.0
    # completion marker, not a table-file probe: lineitem is written
    # mid-staging, so a file check accepts an interrupted staging
    # forever; the marker also pins WHICH k and src built the dir
    if not s10.staged(dst, k):
        if not stage_if_missing:
            # staged() is also False for a PRESENT-but-stale dir (wrong
            # k/src in the marker, or an interrupted replication) — say
            # so, or whoever debugs the skip hunts a missing directory
            out[key] = {
                "skipped": (
                    "staging absent or stale (missing/mismatched "
                    "_STAGED_OK marker — note the marker format gained "
                    "src in r10 and jitter mode in r11, so older "
                    f"stagings are stale BY DESIGN); run `python "
                    f"tools/scale10x.py {dst} --k {k}` to "
                    "(re)stage this rung"
                ),
                "k_vs_sf01": k,
                "staging_dir": dst,
            }
            print(
                f"{key} rung skipped: {dst} not staged (or marker stale)",
                file=sys.stderr,
                flush=True,
            )
            return
        t0 = time.perf_counter()
        s10.replicate(spark, dst, k)
        t_stage = round(time.perf_counter() - t0, 3)
    specs = {
        n: s
        for n, s in all_specs().items()
        if s.bench and not n.startswith("q_stream")
    }

    def measure(name) -> float:
        runs = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            specs[name].fn(spark, dst).write.format("noop").mode(
                "overwrite"
            ).save()
            runs.append(time.perf_counter() - t0)
        return round(min(runs), 3)

    # A query that CRASHES only at this scale is a scale regression and
    # must fail the guard as loudly as a super-linear wall (the
    # ADVICE-r6 discipline the streaming floors follow) — per-query
    # isolation so one crash can't erase the other queries' evidence.
    t_rung: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in sorted(specs):
        try:
            t_rung[name] = measure(name)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            continue
        print(
            json.dumps({f"{key}_query": name, "sec": t_rung[name]}),
            file=sys.stderr,
            flush=True,
        )
    # one re-measure for breached/errored queries before declaring a
    # regression: a contention burst (or a transient env hiccup) shows
    # up here first
    g = _ratio_guard(t_rung, base_timings, SCALE_STEP_SLACK)
    retry = set(g["breached"]) | set(errors)
    for n in retry:
        try:
            t = measure(n)
            t_rung[n] = min(t, t_rung.get(n, float("inf")))
            errors.pop(n, None)
        except Exception as exc:  # noqa: BLE001
            errors[n] = f"{type(exc).__name__}: {exc}"[:300]
    g = _ratio_guard(t_rung, base_timings, SCALE_STEP_SLACK)
    out[key] = {
        # input_ratio is the step vs THIS rung's base (sfx10's base is
        # sfx1); k and dst pin the absolute scale so the block stays
        # self-describing if rung keys are ever processed generically
        "input_ratio": 10,
        "k_vs_sf01": k,
        "staging_dir": dst,
        "queries": t_rung,
        "value": round(sum(t_rung.values()), 3),
        "ratio_vs_base_min": g["ratios"],
        "worst_ratio": g["worst"],
        "slack": SCALE_STEP_SLACK,
        "stage_sec": t_stage,
        # guard_breached holds FLOAT ratios only (consumers compare it
        # against slack numerically); crashed queries live in errors —
        # both fail the run via guard_failed
        "errors": errors or None,
        "guard_breached": g["breached"] or None,
        "guard_failed": bool(g["breached"] or errors),
    }
    if out[key]["guard_failed"]:
        print(
            f"BENCH GUARD: {key} scale regression "
            f"breached={g['breached']} errors={errors}",
            file=sys.stderr,
            flush=True,
        )


def _stream_guard_verdict(broken: dict, steal_max) -> dict:
    """Pure breach-attribution block (unit-testable): which floors are
    breached, the max interval steal%% sampled during the run, and
    whether the breach is contention-suspect (steal at/above
    STEAL_SUSPECT_PCT, or unmeasurable). A contention-suspect breach is
    recorded but does not fail the run; a quiet-host breach does."""
    return {
        "breached": {
            k: {"got": got, "floor": floor} for k, (got, floor) in broken.items()
        },
        "steal_pct_max": steal_max,
        "contention_suspect": steal_max is None or steal_max >= STEAL_SUSPECT_PCT,
    }


def _ratio_guard(
    t_big: dict[str, float], t_base: dict[str, float], slack: float
) -> dict:
    """Pure ratio/guard computation (unit-testable): per-query
    big-scale/base-scale wall ratios and the set over ``slack``.
    Queries with no (or zero/None) base timing are excluded — an
    errored base query must not divide by zero or None here."""
    ratios = {
        n: round(t_big[n] / t_base[n], 2) for n in t_big if t_base.get(n)
    }
    return {
        "ratios": ratios,
        "worst": max(ratios.values()) if ratios else None,
        "breached": {n: r for n, r in ratios.items() if r > slack},
    }


def _sustained_stream_rate(spark, sf_dir: str, copies: int = 5) -> int:
    """Best-of-N events/s of the tumbling watermark agg over a replicated
    stream (copies x events, event_id/user_id key-shifted to stay
    disjoint, ts preserved so window/watermark behavior is unchanged).
    Min wall time across runs for the same host-noise-robustness reason
    as the batch timings (see N_RUNS comment)."""
    import os as _os

    from pyspark.sql import functions as F

    from catenae_kafka_spark.streaming import ops
    from catenae_kafka_spark.streaming.sinks import run_available_now

    big_dir = _os.path.join(
        "/tmp", "catenae_kafka_spark", f"bench_big_{sf_from_dir(sf_dir)}_{copies}x"
    )
    marker = _os.path.join(big_dir, "_STAGED")
    if not _os.path.exists(marker):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        copies_df = ev.select(
            "*", F.explode(F.array(*[F.lit(i) for i in range(copies)])).alias("_i")
        )
        shifted = (
            copies_df.withColumn(
                "event_id", F.col("event_id") + F.col("_i") * 100_000_000
            )
            .withColumn("user_id", F.col("user_id") + F.col("_i") * 100_000_000)
            .drop("_i")
        )
        shifted.write.mode("overwrite").parquet(big_dir)
        with open(marker, "w") as fh:
            fh.write("ok")
    n_events = spark.read.parquet(big_dir).count()
    runs = []
    for _ in range(N_RUNS):
        stream = _load_replay_dir(spark, big_dir)
        agg = ops.tumbling_window_agg(
            stream,
            "1 hour",
            [F.count("*").alias("n")],
            keys=["event_type"],
        )
        t0 = time.perf_counter()
        run_available_now(agg, "complete", f"bench_sustained_{time.monotonic_ns()}")
        runs.append(time.perf_counter() - t0)
    return round(n_events / min(runs))


def _load_replay_dir(spark, parquet_dir: str):
    """Multi-batch ordered replay of an arbitrary parquet dir (the
    FileReplaySource staging path, minus the catalog table indirection)."""
    import os as _os

    from catenae_kafka_spark.streaming.sources import FileReplaySource

    staged = parquet_dir + "_replay"
    marker = _os.path.join(staged, "_REPLAY_READY")
    if not _os.path.exists(marker):
        df = spark.read.parquet(parquet_dir)
        df.repartitionByRange(8, "ts").write.mode("overwrite").parquet(staged)
        FileReplaySource._enforce_replay_order(staged)
        with open(marker, "w") as fh:
            fh.write("ok")
    schema = spark.read.parquet(staged).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(staged)
    )


if __name__ == "__main__":
    main()
