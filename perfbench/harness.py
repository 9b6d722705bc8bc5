"""One benchmark run: inputs, sessions, the checked cold pass, the
timed passes and the metrics computed from them. ``run.py`` configures
the environment first, because pyspark reads it on import."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

from pyspark import SparkContext

import verify
from metrics import Tally, geomean, median, seeded_order, self_times, subtree, tail_percentile
from spans import BatchListener, RssSampler, SparkCounters, Tracer
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "catenae_kafka_spark"
#: session set-ups measured after the first (JVM-launching) one
N_SETUPS = 3
#: untimed executions of every operation after the cold pass, run on
#: one thread per core: per-operation times keep falling for several
#: executions while the JIT compiles
WARM_REPS = 2
#: timed passes per run, at least
MIN_PASSES = 2

#: state-operator progress fields summed over operators per batch
_STATE = ("numRowsTotal", "numRowsUpdated", "memoryUsedBytes", "commitTimeMs", "numRowsDroppedByWatermark")


def host_sample() -> tuple[float, int, int]:
    """(load1, steal jiffies, total jiffies), as ``bench._host_sample``."""
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return load1, v[7], sum(v)


def _declared(section: str) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def _as_metrics(values: dict[str, float], section: str) -> dict:
    units = _declared(section)
    if set(values) != set(units):
        raise RuntimeError(f"{section} metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(units))}")
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def _purge_engine_modules() -> None:
    for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[name]


def _stop(spark) -> None:
    """Stop the session (if any) and the JVM behind it, and wait for the JVM."""
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001


def _plan_counts(df) -> tuple[int, int, int]:
    """Scans, Exchanges and ReusedExchanges in the executed-plan string
    (the ``tools/plan_census.py`` method)."""
    if df is None:
        return 0, 0, 0
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    reused = plan.count("ReusedExchange")
    return plan.count("Scan parquet"), plan.count("Exchange") - reused, reused


class Run:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.data_dir = os.path.join(work, "data")
        self.tally = Tally()
        self.layer: dict[str, float] = {}
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.tracer = Tracer(enabled=bool(args.trace))
        self.off = Tracer(enabled=False)
        self.spark = None

    # ---- set-up ------------------------------------------------------
    def _datagen(self) -> float:
        t0 = time.perf_counter()
        subprocess.run(
            [sys.executable, os.path.join(HERE, "datagen.py"), self.data_dir, "--seed", str(self.args.seed)],
            check=True,
        )
        return time.perf_counter() - t0

    def _setup_once(self) -> dict[str, float]:
        """Stop any session, re-import the engine, start a session,
        load the registry and run the warm-up action."""
        if self.spark is not None:
            self.spark.stop()
        _purge_engine_modules()
        t0 = time.perf_counter()
        from catenae_kafka_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}"},
        )
        t1 = time.perf_counter()
        from catenae_kafka_spark.registry import all_specs

        all_specs()
        t2 = time.perf_counter()
        self.spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        return {"total": t3 - t0, "get_spark": t1 - t0, "registry": t2 - t1, "warmup": t3 - t2}

    def setup(self) -> list[float]:
        samples = [self._setup_once() for _ in range(N_SETUPS)]
        for key, metric in (
            ("get_spark", "session.get_spark_s"),
            ("registry", "registry.all_specs_s"),
            ("warmup", "session.warmup_s"),
        ):
            self.layer[metric] = median([s[key] for s in samples])
        return [s["total"] for s in samples]

    # ---- passes --------------------------------------------------------
    def checked_pass(self) -> None:
        """Cold pass that collects every operation's output and checks
        it. Operations run on one thread per core (the cold pass is
        mostly driver-side compilation, which overlaps); the checks run
        after, on this thread."""
        ops = seeded_order(self.w.ops, self.args.seed, 0)
        with ThreadPoolExecutor(max_workers=self.cores) as pool:
            futures = {op: pool.submit(self.w.collect, op) for op in ops}
        con = self.check.duck_connection(self.data_dir)
        try:
            for op in ops:
                try:
                    problems = self.w.verify(op, futures[op].result(), con)
                except Exception as exc:  # noqa: BLE001 — a raising operation is a counted failure
                    self.tally.fail(f"{op}: raised {type(exc).__name__}: {str(exc)[:200]}")
                    continue
                if problems:
                    self.tally.fail(f"{op}: {problems[:2]}")
                else:
                    self.tally.ok()
        finally:
            con.close()
        self.listener.take_finished()

    def warm_up(self) -> None:
        """``WARM_REPS`` untimed executions of every operation, one
        thread per core; each still counts as attempted and is checked
        like a timed one."""
        ops = [op for _ in range(WARM_REPS) for op in self.w.ops]
        with ThreadPoolExecutor(max_workers=self.cores) as pool:
            futures = [(op, pool.submit(lambda op=op: self.w.execute(self.w.build(op)))) for op in ops]
        for op, fut in futures:
            try:
                problems = self.w.check_timed(op, fut.result())
            except Exception as exc:  # noqa: BLE001 — a raising operation is a counted failure
                problems = [f"raised {type(exc).__name__}: {str(exc)[:200]}"]
            if problems:
                self.tally.fail(f"warm-up {op}: {problems}")
            else:
                self.tally.ok()
        self.listener.take_finished()

    def _run_op(self, pass_no: int, op: str, traced: bool, plans: list[int]):
        """Build then execute ``op``: ``(build_s, exec_s, total_s, out)``,
        or None when it raised (counted as failed). A traced run also
        tags its Spark jobs and takes its plan census."""
        tr = self.tracer if traced else self.off
        with tr.span(op, "query"):
            try:
                if traced:
                    self.counters.tag(f"pb{pass_no}:{op}:build")
                with tr.span("build", "build"):
                    t0 = time.perf_counter()
                    built = self.w.build(op)
                    t1 = time.perf_counter()
                if traced:
                    self.counters.tag(f"pb{pass_no}:{op}:exec")
                with tr.span("execute", "execute"):
                    out = self.w.execute(built)
                    t2 = time.perf_counter()
                if traced:
                    with tr.span("census", "census"):
                        plans[:] = [a + b for a, b in zip(plans, _plan_counts(self.w.plan_of(built)))]
            except Exception as exc:  # noqa: BLE001 — a raising operation is a counted failure
                self.tally.fail(f"pass {pass_no} {op}: {type(exc).__name__}: {str(exc)[:200]}")
                return None
            finally:
                if traced:
                    self.counters.untag()
        return t1 - t0, t2 - t1, time.perf_counter() - t0, out

    def timed_pass(self, pass_no: int, paired: bool) -> dict:
        """Every operation once, in the seeded order of this pass. A
        paired pass (traced runs) runs each operation twice back to back,
        traced and untraced, alternating which goes first, so the
        tracing overhead is measured operation by operation."""
        ops: dict[str, tuple] = {}
        traced_ops: dict[str, tuple] = {}
        outs = []
        plans = [0, 0, 0]
        tr = self.tracer if paired else self.off
        with tr.span(f"pass {pass_no}", "pass") as pass_span:
            t_pass = time.perf_counter()
            for i, op in enumerate(seeded_order(self.w.ops, self.args.seed, pass_no)):
                order = ((True, False) if (i + pass_no) % 2 else (False, True)) if paired else (False,)
                for traced in order:
                    # _run_op opens the traced execution's own query span
                    with nullcontext() if traced else tr.span(op, "untraced"):
                        r = self._run_op(pass_no, op, traced, plans)
                    if r is not None:
                        (traced_ops if traced else ops)[op] = r[:3]
                        outs.append((op, r[3]))
            wall = time.perf_counter() - t_pass
        for op, out in outs:
            problems = self.w.check_timed(op, out)
            if problems:
                self.tally.fail(f"pass {pass_no}: {problems}")
            else:
                self.tally.ok()
        rec = {
            "pass": pass_no,
            "traced": paired,
            # a paired pass has no untraced wall of its own
            "wall": sum(t for _, _, t in ops.values()) if paired else wall,
            "ops": ops,
            "streams": self.listener.take_finished(),
        }
        if paired:
            rec["layer"] = self._pass_layer(rec, traced_ops, pass_span, plans)
        return rec

    # ---- per-layer metrics of one traced pass ------------------------------
    def _pass_layer(self, rec: dict, traced_ops: dict, pass_span: int, plans: list[int]) -> dict:
        # only the traced executions' streams sit inside build/execute spans
        streams = [(run, prog) for run, prog in rec["streams"] if self.tracer.add_stream(prog)]
        self.counters.settle()
        groups = [f"pb{rec['pass']}:{op}" for op in traced_ops]
        build = self.counters.read([g + ":build" for g in groups])
        ex = self.counters.read([g + ":exec" for g in groups] + [run for run, _ in streams])
        spans = self.tracer.spans
        idx = subtree(spans, pass_span)
        selfs = self_times(spans)
        by_kind: dict[str, float] = {}
        for i in idx:
            by_kind[spans[i].kind] = by_kind.get(spans[i].kind, 0.0) + selfs[i]
        residual = max(
            (abs(spans[i].dur - sum(selfs[j] for j in subtree(spans, i))) for i in idx if spans[i].kind in ("query", "batch")),
            default=0.0,
        )
        exec_s = sum(e for _, e, _ in traced_ops.values())
        untraced = sum(rec["ops"][op][2] for op in traced_ops if op in rec["ops"])
        overhead = sum(traced_ops[op][2] for op in traced_ops if op in rec["ops"]) - untraced
        stream_in_build = sum(
            spans[i].dur for i in idx if spans[i].kind == "stream" and spans[spans[i].parent].kind == "build"
        )
        out = {
            "build.s": sum(b for b, _, _ in traced_ops.values()),
            "build.jobs": build["jobs"],
            "exec.s": exec_s,
            "exec.jobs": ex["jobs"],
            "exec.stages": ex["stages"],
            "exec.tasks": ex["numCompleteTasks"],
            "exec.task_run_s": ex["executorRunTime"] / 1e3,
            "exec.task_cpu_s": ex["executorCpuTime"] / 1e9,
            "exec.gc_s": ex["jvmGcTime"] / 1e3,
            "exec.core_busy_frac": ex["executorRunTime"] / 1e3 / ((exec_s + stream_in_build) * self.cores),
            "exec.input_mb": ex["inputBytes"] / 2**20,
            "exec.shuffle_write_mb": ex["shuffleWriteBytes"] / 2**20,
            "exec.shuffle_read_mb": ex["shuffleReadBytes"] / 2**20,
            "exec.spill_mb": (ex["memoryBytesSpilled"] + ex["diskBytesSpilled"]) / 2**20,
            "plan.scans": plans[0],
            "plan.exchanges": plans[1],
            "plan.reused_exchanges": plans[2],
            "self.pass_s": by_kind.get("pass", 0.0),
            "self.query_s": by_kind.get("query", 0.0),
            "self.build_s": by_kind.get("build", 0.0),
            "self.execute_s": by_kind.get("execute", 0.0),
            "self.census_s": by_kind.get("census", 0.0),
            "self.stream_s": by_kind.get("stream", 0.0),
            "self.batch_s": by_kind.get("batch", 0.0),
            "trace.self_residual_ms": residual * 1e3,
            "trace.overhead_s": overhead,
            "trace.overhead_frac": overhead / untraced,
        }
        out.update(_stream_layer(streams))
        return out

    # ---- the run -----------------------------------------------------------
    def go(self) -> dict:
        load0, steal0, total0 = host_sample()
        try:
            # inputs are written while the JVM launches; both finish
            # before the measured set-ups start
            with ThreadPoolExecutor(max_workers=1) as pool:
                datagen = pool.submit(self._datagen)
                self.layer["session.jvm_launch_s"] = self._setup_once()["total"]
                self.layer["stage.datagen_s"] = datagen.result()
            setup = self.setup()
            self.check = verify.load_check(ROOT)
            self.listener = BatchListener()
            self.spark.streams.addListener(self.listener)
            self.counters = SparkCounters(self.spark)
            self.w = WORKLOADS[self.args.workload](self.spark, self.data_dir, self.args.seed, self.check)
            for stage, step in (
                ("stage.replay_s", self.w.prepare),
                ("stage.cold_pass_s", self.checked_pass),
                ("stage.warm_up_s", self.warm_up),
            ):
                t0 = time.perf_counter()
                step()
                self.layer[stage] = time.perf_counter() - t0
            passes = self.timed_passes()
        finally:
            _stop(self.spark)
        load1, steal1, total1 = host_sample()
        steal_pct = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)
        self.layer.update({"host.steal_pct": steal_pct, "host.load1": load1, "host.peak_rss_mb": self.peak_rss_mb})
        e2e, counts = self.end_to_end(setup, passes)
        self.report(e2e, counts, steal_pct, load1)
        if self.args.trace:
            path = os.path.join(ROOT, ".perfbench", "traces", f"{self.args.workload}-seed{self.args.seed}.json")
            self.tracer.write(path)
            print(f"spans: {path}")
            metrics = _as_metrics(self.per_layer(passes), "per_layer")
        else:
            metrics = _as_metrics(e2e, "end_to_end")
        return {
            "correct": self.tally.failed == 0,
            "attempted": self.tally.attempted,
            "failed": self.tally.failed,
            "metrics": metrics,
        }

    def timed_passes(self) -> list[dict]:
        """Passes until ``--seconds`` have elapsed and ``MIN_PASSES`` have
        run (paired passes in a traced run)."""
        passes: list[dict] = []
        jvm = getattr(SparkContext._gateway, "proc", None)  # noqa: SLF001
        with RssSampler(jvm.pid if jvm else None) as rss, self.tracer.span(self.args.workload, "workload"):
            t0 = time.perf_counter()
            pass_no = 1
            while True:
                passes.append(self.timed_pass(pass_no, paired=bool(self.args.trace)))
                if time.perf_counter() - t0 >= self.args.seconds and len(passes) >= MIN_PASSES:
                    break
                pass_no += 1
        self.peak_rss_mb = rss.peak_mb
        self.passes = passes
        return passes

    def end_to_end(self, setup: list[float], passes: list[dict]) -> tuple[dict, dict]:
        """Values and sample counts, from the untraced executions (in a
        traced run, the untraced half of each pair, and ``pass_s``
        without the time between operations)."""
        per_op = {op: [p["ops"][op][2] for p in passes if op in p["ops"]] for op in self.w.ops}
        stream = per_op[self.w.stream_op]
        self.latencies = [
            float(prog.durationMs["triggerExecution"])
            for p in passes
            for _, progress in p["streams"]
            for prog in progress
            if prog.numInputRows
        ]
        self.tail = tail_percentile(self.latencies)
        values = {
            "setup_s": (median(setup), len(setup)),
            "pass_s": (median([p["wall"] for p in passes]), len(passes)),
            "query_geomean_s": (geomean([median(v) for v in per_op.values()]), len(passes)),
            "stream_events_per_s": (self.w.stream_events / median(stream), len(stream)),
            "batch_latency_p50_ms": (median(self.latencies), len(self.latencies)),
        }
        return {k: v for k, (v, _) in values.items()}, {k: n for k, (_, n) in values.items()}

    def per_layer(self, passes: list[dict]) -> dict:
        vals = dict(self.layer)
        for key in passes[0]["layer"]:
            vals[key] = median([p["layer"][key] for p in passes])
        pct, value = self.tail or (50.0, median(self.latencies))
        vals.update({
            "stream.batch_latency_tail_pct": pct,
            "stream.batch_latency_tail_ms": value,
            "stream.batch_samples": len(self.latencies),
        })
        return vals

    def report(self, e2e: dict, counts: dict, steal_pct: float, load1: float) -> None:
        t = self.tally
        print(
            f"perfbench {self.args.workload} seed={self.args.seed} trace={self.args.trace}: "
            f"correct={t.failed == 0} attempted={t.attempted} failed={t.failed} "
            f"failed_frac={t.failed_frac:.4f} steal={steal_pct:.2f}% load1={load1:.2f}"
        )
        for p in t.problems[:10]:
            print(f"  FAILED {p}")
        stages = ("session.jvm_launch_s", "stage.datagen_s", "stage.replay_s", "stage.cold_pass_s", "stage.warm_up_s")
        print("  " + "  ".join(f"{k}={self.layer[k]:.2f}" for k in stages))
        units = _declared("end_to_end")
        for k, v in e2e.items():
            print(f"  {k:<22} {v:>14.4f} {units[k]:<4} (n={counts[k]})")
        print(f"  {'peak_rss_mb':<22} {self.peak_rss_mb:>14.4f} MB")
        for p in self.passes:
            ops = " ".join(f"{op}={t[2]:.3f}" for op, t in sorted(p["ops"].items()))
            print(f"  pass {p['pass']}{' traced' if p['traced'] else ''}: {p['wall']:.3f} s  {ops}")
        if self.tail:
            print(f"  batch_latency_p{self.tail[0]:g}_ms {self.tail[1]:.1f} ms (n={len(self.latencies)})")


def _stream_layer(streams: list) -> dict:
    """Streaming coordination, operator and state counters of one pass:
    phase times are per-data-batch medians; state figures are summed
    over the pass's drains (peaks: the largest batch)."""
    data = [prog for _, progress in streams for prog in progress if prog.numInputRows]
    allb = [prog for _, progress in streams for prog in progress]
    out = {"stream.batches": len(allb)}
    for ph in ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets", "addBatch"):
        out[f"stream.{ph}_ms"] = median([prog.durationMs.get(ph, 0) for prog in data]) if data else 0.0
    trig = sum(prog.durationMs.get("triggerExecution", 0) for prog in allb)
    out["stream.coord_frac"] = 1 - sum(prog.durationMs.get("addBatch", 0) for prog in allb) / trig if trig else 0.0
    state = [{f: sum(getattr(op, f) or 0 for op in prog.stateOperators) for f in _STATE} for prog in allb]
    out["state.rows_total_peak"] = max((s["numRowsTotal"] for s in state), default=0)
    out["state.rows_updated"] = sum(s["numRowsUpdated"] for s in state)
    out["state.memory_mb_peak"] = max((s["memoryUsedBytes"] for s in state), default=0) / 2**20
    out["state.commit_ms"] = sum(s["commitTimeMs"] for s in state)
    out["state.rows_dropped_by_watermark"] = sum(s["numRowsDroppedByWatermark"] for s in state)
    rows_in = sum(prog.numInputRows for prog in allb)
    out["stream.rows_out_per_in"] = sum(prog.sink.numOutputRows for prog in allb) / rows_in if rows_in else 0.0
    return out
