"""What the benchmark observes around its calls into the engine.

- ``Tracer``: in-memory span tree (workload → pass → query → build /
  execute, and stream → micro-batch → phase), written out when the run
  ends. A disabled tracer records nothing.
- ``BatchListener``: a ``StreamingQueryListener`` owned by the benchmark
  that keeps every micro-batch progress report.
- ``SparkCounters``: per-job-group task and stage counters read from the
  Spark status store through py4j.
- ``RssSampler``: peak resident memory of this process plus the JVM it
  launched, sampled from ``/proc``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

from metrics import Span

#: micro-batch phases in the order MicroBatchExecution runs them
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        # perf_counter() + offset = wall-clock seconds, to place JVM
        # progress timestamps on the span clock
        self._wall_offset = time.time() - time.perf_counter()

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, kind, time.perf_counter(), 0.0, parent, attrs))
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def add_stream(self, progress: list) -> bool:
        """Attach one streaming query's micro-batches under the innermost
        build or execute span that contains its first batch: a
        ``stream`` span from the first batch start to the last batch
        end, one ``batch`` span per progress report, and its phases laid
        end to end. JVM timestamps have millisecond resolution, so
        batches are clipped to the parent and to each other. Returns
        whether a host span was found."""
        if not self.enabled or not progress:
            return False
        first = _wall(progress[0].timestamp) - self._wall_offset
        hosts = [
            i for i, s in enumerate(self.spans)
            if s.kind in ("build", "execute") and s.start - 0.002 <= first <= s.end
        ]
        if not hosts:
            return False
        parent = max(hosts, key=lambda i: self.spans[i].start)
        p = self.spans[parent]
        batches = []
        floor = p.start
        for prog in progress:
            start = _wall(prog.timestamp) - self._wall_offset
            dur = prog.durationMs.get("triggerExecution", 0) / 1000
            start = min(max(start, floor), p.end)
            end = min(start + dur, p.end)
            batches.append((start, end, prog))
            floor = end
        stream = len(self.spans)
        self.spans.append(Span("stream", "stream", batches[0][0], batches[-1][1], parent))
        for start, end, prog in batches:
            b = len(self.spans)
            self.spans.append(
                Span(f"batch {prog.batchId}", "batch", start, end, stream, {"rows": prog.numInputRows})
            )
            t = start
            for ph in PHASES:
                d = prog.durationMs.get(ph, 0) / 1000
                ph_end = min(t + d, end)
                self.spans.append(Span(ph, "phase", t, ph_end, b))
                t = ph_end
        return True

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                [
                    {"id": i, "parent": s.parent, "name": s.name, "kind": s.kind,
                     "start": s.start, "end": s.end, **s.attrs}
                    for i, s in enumerate(self.spans)
                ],
                fh,
            )


def _wall(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class BatchListener(StreamingQueryListener):
    """Keeps every progress report, grouped by query id, and lets the
    caller wait until a query's reports have all been delivered."""

    def __init__(self) -> None:
        self._cv = threading.Condition()
        self._progress: dict[str, list] = {}
        self._runs: dict[str, str] = {}
        self._done: set[str] = set()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        # delivered before ``start()`` returns, so a drain that has
        # returned is always known here
        with self._cv:
            self._progress.setdefault(str(event.id), [])
            self._runs[str(event.id)] = str(event.runId)

    def onQueryProgress(self, event) -> None:  # noqa: N802
        with self._cv:
            self._progress.setdefault(str(event.progress.id), []).append(event.progress)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._cv:
            self._done.add(str(event.id))
            self._cv.notify_all()

    def take_finished(self, timeout: float = 30.0) -> list[tuple[str, list]]:
        """Wait until every started query has terminated, then hand over
        (and forget) their ``(run_id, progress)`` lists."""
        deadline = time.monotonic() + timeout
        with self._cv:
            while not set(self._progress) <= self._done:
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError("streaming query never reported termination")
                self._cv.wait(left)
            out = [(self._runs[q], self._progress[q]) for q in self._progress]
            self._progress.clear()
            self._runs.clear()
            self._done.clear()
        return out


#: StageData getters summed per phase; times in ms except cpu (ns)
_STAGE_FIELDS = (
    "numCompleteTasks",
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "inputBytes",
    "shuffleWriteBytes",
    "shuffleReadBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


class SparkCounters:
    """Job, stage and task counters of one job group, from the status
    store. Call ``settle`` once before reading so the listener bus has
    delivered every task-end event."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()  # noqa: SLF001
        self._store = self._jsc.statusStore()

    def tag(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def untag(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)

    def settle(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def read(self, groups: list[str]) -> dict:
        tracker = self._sc.statusTracker()
        jobs = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
        infos = [tracker.getJobInfo(j) for j in jobs]
        stages = sorted({s for info in infos if info for s in info.stageIds})
        out = {"jobs": len(jobs), "stages": 0, **{f: 0 for f in _STAGE_FIELDS}}
        for sid in stages:
            try:
                data = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a stage the store already evicted
                continue
            if str(data.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            for f in _STAGE_FIELDS:
                out[f] += getattr(data, f)()
        return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples VmRSS of this process plus ``jvm_pid`` every ``period``
    seconds while running; ``peak_mb`` is the largest sum seen."""

    def __init__(self, jvm_pid: int | None, period: float = 0.05) -> None:
        self._pids = [os.getpid()] + ([jvm_pid] if jvm_pid else [])
        self._period = period
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_kb = 0

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self._pids))
            self._stop.wait(self._period)

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self._pids))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024
