"""Arbitrary stateful streaming operators (SURVEY §2B streaming:
``applyInPandasWithState``) — the escape hatch for state machines that
built-in windowed aggregation cannot express.

Catenae analog: ``Link`` instance attributes mutated per message plus
``CircularOrderedDict/Set`` bounded structures (A9). Here state is
explicit, per-key, checkpointed in the state store, and processed in
Arrow batches:

- ``streaming_ema``: per-user exponential moving average — inherently
  order-dependent (no builtin agg can express it), carried across
  micro-batches via GroupState.
- ``circular_dedup``: catenae's CircularOrderedSet semantics exactly —
  first-seen-wins dedup over a FIFO-bounded capacity window (capacity
  eviction, unlike the watermark eviction of
  dropDuplicatesWithinWatermark).

Scale: state is (key → a few floats / a short list), sharded by the
groupBy shuffle, in Spark's default HDFS-backed state store (RocksDB
only for transformWithState, which requires it).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EMA_ALPHA = 0.1

EMA_OUTPUT_SCHEMA = "user_id long, ema double, n_seen long"
EMA_STATE_SCHEMA = "ema double, n_seen long"

DEDUP_OUTPUT_SCHEMA = "user_id long, event_id long, event_type string"
DEDUP_STATE_SCHEMA = "recent array<string>"


def streaming_ema(events: DataFrame) -> DataFrame:
    """Per-user EMA over the value column; one row per (user, batch)
    with the state so far — the latest n_seen row per user is the final
    answer.

    The state function is a CLOSURE on purpose: module-level functions
    are cloudpickled by reference, and Python workers (which do not
    inherit the driver's sys.path insertions) then fail with
    ModuleNotFoundError when the engine is driven from outside the repo.
    """
    alpha = EMA_ALPHA

    def ema_fn(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        ema, n_seen = state.get if state.exists else (None, 0)
        for pdf in batches:
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            for v in pdf["value"]:
                ema = float(v) if ema is None else (1 - alpha) * ema + alpha * float(v)
                n_seen += 1
        state.update((ema, n_seen))
        yield pd.DataFrame({"user_id": [key[0]], "ema": [ema], "n_seen": [n_seen]})

    return events.groupBy("user_id").applyInPandasWithState(
        ema_fn,
        outputStructType=EMA_OUTPUT_SCHEMA,
        stateStructType=EMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def tws_available() -> bool:
    """True when transformWithState's python-side dependency (protobuf,
    used by its state-server protocol) is importable. Not bundled in
    this container, so the TWS query registers only where it can run —
    same gating discipline as the Kafka connector edge."""
    try:
        import pyspark.sql.streaming.proto.StateMessage_pb2  # noqa: F401

        return True
    except ImportError:
        return False


def streaming_ema_tws(events: DataFrame) -> DataFrame:
    """Same per-user EMA, on Spark 4's transformWithState API v2
    (``transformWithStateInPandas``): named state variables created in
    ``init`` instead of one opaque state tuple, plus (unused here)
    timers, TTL, list/map state. Requires the RocksDB state store
    provider — the caller sets
    spark.sql.streaming.stateStore.providerClass — and protobuf
    (``tws_available``; raises a clear error when absent). The
    processor class is defined inside this function so cloudpickle
    serializes it by value (same worker-import reason as the closures
    above)."""
    if not tws_available():
        raise RuntimeError(
            "transformWithStateInPandas needs the 'protobuf' package for "
            "its state-server protocol; it is not installed in this "
            "environment. Use streaming_ema (applyInPandasWithState) — "
            "identical semantics, no protobuf dependency."
        )
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    alpha = EMA_ALPHA

    class EmaProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("ema", EMA_STATE_SCHEMA)

        def handleInputRows(
            self, key: tuple[Any, ...], rows: Iterator[pd.DataFrame], timerValues: Any
        ) -> Iterator[pd.DataFrame]:
            ema, n_seen = self._state.get() if self._state.exists() else (None, 0)
            for pdf in rows:
                pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
                for v in pdf["value"]:
                    ema = (
                        float(v)
                        if ema is None
                        else (1 - alpha) * ema + alpha * float(v)
                    )
                    n_seen += 1
            self._state.update((ema, n_seen))
            yield pd.DataFrame(
                {"user_id": [key[0]], "ema": [ema], "n_seen": [n_seen]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=EmaProcessor(),
        outputStructType=EMA_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def circular_dedup(events: DataFrame, capacity: int = 3) -> DataFrame:
    """Bounded-capacity FIFO dedup: catenae CircularOrderedSet.add
    semantics per key — emit a row iff its signature is not in the set;
    insertion evicts the oldest entry beyond capacity. (Closure for the
    same worker-import reason as streaming_ema.)"""

    def dedup_fn(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (recent,) = state.get if state.exists else ([],)
        recent = list(recent)
        out: list[tuple[int, int, str]] = []
        for pdf in batches:
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            for row in pdf.itertuples(index=False):
                sig = row.event_type
                if sig not in recent:
                    out.append((key[0], row.event_id, sig))
                    recent.append(sig)
                    if len(recent) > capacity:
                        recent.pop(0)
        state.update((recent,))
        yield pd.DataFrame(out, columns=["user_id", "event_id", "event_type"])

    return events.groupBy("user_id").applyInPandasWithState(
        dedup_fn,
        outputStructType=DEDUP_OUTPUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


TTL_OUTPUT_SCHEMA = "user_id long, n_events long, last_us long"
TTL_STATE_SCHEMA = "n long, last_us long"


def ttl_sessions(events: DataFrame, ttl_ms: int = 2 * 3600 * 1000) -> DataFrame:
    """Event-time TTL state eviction (GroupStateTimeout.EventTimeTimeout):
    per-user session accumulator whose state is dropped — emitting a
    final "session closed" row — when either (a) the next event arrives
    more than TTL after the last one (in-batch split), or (b) the
    watermark passes last-seen + TTL with no new data (timeout path).

    This is the state-lifecycle pattern an always-on 100 TB stream
    needs: without TTL, per-key state grows with the keyspace forever;
    with it, state size tracks the *active* keyset. The closed-row
    output is the catenae analog of a Link flushing a per-key
    accumulator when a key goes quiet (timer loop + CircularOrderedDict
    eviction, A8+A9).

    Because the replay source delivers micro-batches in event-time
    order, the cross-batch timeout path fires between two events of one
    key only when their gap really exceeds TTL (an event within TTL of
    its predecessor but behind an already-advanced watermark would have
    to time-travel: it belongs to an earlier slice). Combined with the
    in-batch gap split, the emitted sessions are EXACTLY the event-time
    TTL-gap partition — so the streaming result has a full batch SQL
    oracle, while still exercising real timeout eviction (quiet keys
    are closed by the watermark, and trailing sessions by the sentinel
    batches).

    The timeout timestamp is clamped to watermark+1: Spark rejects
    timeouts at or behind the current watermark outright.
    """
    ttl_us = ttl_ms * 1000

    def ttl_fn(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            n, last_us = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "last_us": [last_us]}
            )
            return
        n, last_us = state.get if state.exists else (0, 0)
        closed_n: list[int] = []
        closed_last: list[int] = []
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            ts = (
                pdf["ts"].astype("datetime64[ns]").astype("int64").to_numpy()
                // 1000
            )  # exact µs
            prev = np.concatenate(([last_us if n > 0 else ts[0]], ts[:-1]))
            starts = np.flatnonzero(ts - prev > ttl_us)
            prev_end = 0
            for b in starts:
                closed_n.append(n + int(b) - prev_end)
                closed_last.append(last_us if b == 0 else int(ts[b - 1]))
                n = 0
                prev_end = int(b)
            n += len(ts) - prev_end
            last_us = int(ts[-1])
        if closed_n:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(closed_n),
                    "n_events": closed_n,
                    "last_us": closed_last,
                }
            )
        state.update((n, last_us))
        state.setTimeoutTimestamp(
            max(last_us // 1000 + ttl_ms, state.getCurrentWatermarkMs() + 1)
        )

    return events.groupBy("user_id").applyInPandasWithState(
        ttl_fn,
        outputStructType=TTL_OUTPUT_SCHEMA,
        stateStructType=TTL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


FUNNEL_OUTPUT_SCHEMA = "user_id long, s_ts_us long, p_ts_us long"
FUNNEL_STATE_SCHEMA = "s_ts_us long, p_ts_us long, errored boolean"


def funnel_state_machine(events: DataFrame) -> DataFrame:
    """Per-user conversion state machine (the stateful-streaming twin of
    the batch q_pattern_negation): track first signup, then the first
    subsequent purchase, poisoned by any error in between — A (NOT B)* C
    with per-key state carried across micro-batches. Emits one row per
    user per batch ONCE converted; the converted state is immutable, so
    the emitted rows for a user are identical and a distinct() yields
    the final answer. State is three scalars per user, evicted with the
    query (finite replay) or by TTL in an always-on deployment.

    Closure on purpose — see streaming_ema's note on cloudpickle and
    worker sys.path."""

    def fsm(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        s_ts, p_ts, errored = state.get if state.exists else (None, None, False)
        for pdf in batches:
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            for ts, etype in zip(pdf["ts"], pdf["event_type"]):
                ts_us = int(pd.Timestamp(ts).value // 1000)
                if s_ts is None:
                    if etype == "signup":
                        s_ts = ts_us
                elif p_ts is None:
                    if etype == "error":
                        errored = True
                    elif etype == "purchase" and not errored:
                        p_ts = ts_us
        state.update((s_ts, p_ts, bool(errored)))
        if s_ts is not None and p_ts is not None:
            yield pd.DataFrame(
                {"user_id": [key[0]], "s_ts_us": [s_ts], "p_ts_us": [p_ts]}
            )

    return events.groupBy("user_id").applyInPandasWithState(
        fsm,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


ANOMALY_OUTPUT_SCHEMA = "user_id long, n_events long, n_anomalies long"
ANOMALY_STATE_SCHEMA = "n long, s long, ss long, anomalies long"
ANOMALY_WARMUP = 10


def streaming_anomaly(events: DataFrame) -> DataFrame:
    """Per-user prequential z-score anomaly detector: each event is
    scored against the running mean/variance of the user's PRIOR
    events (Welford-style via exact integer sums), then folded into
    the state. Inherently order-dependent — the same value is normal
    early (wide prior) and anomalous late (tight prior) — so no
    builtin aggregate expresses it.

    Parity discipline: values quantize to integer cents, state is
    exact BIGINT (n, sum, sum-of-squares, anomaly count), and the
    mean/variance floats are derived from exact integers with the
    same expression shape as the DuckDB oracle — bit-identical, no
    tolerance. State per key is four longs; the only shuffle is the
    groupBy(user_id).
    """
    warmup = ANOMALY_WARMUP

    def anomaly_fn(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, s, ss, anomalies = state.get if state.exists else (0, 0, 0, 0)
        import math

        for pdf in batches:
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            for v in pdf["value"]:
                c = int(math.floor(float(v) * 100 + 0.5))
                if n >= warmup:
                    mean = float(s) / n
                    var = (float(ss) - float(s) * s / n) / (n - 1)
                    diff = c - mean
                    if var > 0 and diff * diff > 9.0 * var:
                        anomalies += 1
                n += 1
                s += c
                ss += c * c
        state.update((n, s, ss, anomalies))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "n_anomalies": [anomalies],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        anomaly_fn,
        outputStructType=ANOMALY_OUTPUT_SCHEMA,
        stateStructType=ANOMALY_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SAMPLE_K_OUTPUT_SCHEMA = (
    "event_type string, n_seen long, ranks array<string>, ids array<long>"
)
SAMPLE_K_STATE_SCHEMA = "n_seen long, ranks array<string>, ids array<long>"


def streaming_sample_k(events: DataFrame, k: int = 20) -> DataFrame:
    """Bounded-state EXACT-k deterministic sample per key: maintain the
    k events with the smallest md5(event_id) rank — a streaming
    reservoir whose result is ORDER-INDEPENDENT (min-k of a fixed hash
    is the same whatever the arrival order), hence exactly
    SQL-oracleable, unlike a classic randomized reservoir. State is
    exactly k (rank, id) pairs per key however long the stream runs —
    catenae's CircularOrderedDict capacity bound, but with a
    deterministic, restart-stable membership rule. md5 is the one hash
    both engines share bit-for-bit (environment fact #21)."""
    import hashlib

    def sample_fn(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n_seen, ranks, ids = (
            state.get if state.exists else (0, [], [])
        )
        pairs = list(zip(ranks, ids))
        for pdf in batches:
            n_seen += len(pdf)
            for eid in pdf["event_id"]:
                r = hashlib.md5(str(int(eid)).encode()).hexdigest()
                pairs.append((r, int(eid)))
            pairs.sort()
            del pairs[k:]
        ranks = [p[0] for p in pairs]
        ids = [p[1] for p in pairs]
        state.update((n_seen, ranks, ids))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_seen": [n_seen],
                "ranks": [ranks],
                "ids": [ids],
            }
        )

    return events.groupBy("event_type").applyInPandasWithState(
        sample_fn,
        outputStructType=SAMPLE_K_OUTPUT_SCHEMA,
        stateStructType=SAMPLE_K_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CUSUM_OUTPUT_SCHEMA = (
    "user_id long, n_events long, max_cusum long, n_over_threshold long"
)
CUSUM_STATE_SCHEMA = "s long, mx long, n long, over long"
CUSUM_K = 5000
CUSUM_H = 50000


def streaming_cusum(events: DataFrame) -> DataFrame:
    """Per-user streaming CUSUM (reference CUSUM_K cents, threshold
    CUSUM_H): S = max(0, S + (cents - k)) folded across micro-batches
    as four exact BIGINT counters per key. The batch twin
    (q_cusum_alarm) evaluates the same recursion via the prefix-sum
    closed form; HERE the sequential fold is the natural shape because
    state lives across micro-batches anyway — the two must agree
    exactly on the ordered replay, which is what the shared oracle
    asserts.

    State per key is four longs; the only shuffle is groupBy(user)."""

    def cusum_fn(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import math

        s, mx, n, over = state.get if state.exists else (0, 0, 0, 0)
        for pdf in batches:
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            for v in pdf["value"]:
                c = int(math.floor(float(v) * 100 + 0.5))
                s = max(0, s + (c - CUSUM_K))
                mx = max(mx, s)
                over += s > CUSUM_H
                n += 1
        state.update((s, mx, n, over))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "max_cusum": [mx],
                "n_over_threshold": [over],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        cusum_fn,
        outputStructType=CUSUM_OUTPUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


GAP_OUTPUT_SCHEMA = "event_type string, gap_start_us long, gap_s long"
GAP_STATE_SCHEMA = "last_us long"
GAP_THRESHOLD_S = 600


def streaming_gap_alarm(events: DataFrame) -> DataFrame:
    """Heartbeat-gap detector: per event type, remember only the last
    event time (8 bytes of state per key) and emit an alarm row for
    every inter-event silence longer than GAP_THRESHOLD_S — the
    source-outage monitor every ingestion pipeline runs beside its
    data stream. Exact on the ordered replay: the emitted gaps equal
    the batch LAG query's, because state carries the last timestamp
    across micro-batch boundaries."""

    def gap_fn(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (last_us,) = state.get if state.exists else (None,)
        starts: list[int] = []
        gaps: list[int] = []
        for pdf in batches:
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            for ts in pdf["ts"]:
                us = int(pd.Timestamp(ts).value // 1000)
                if last_us is not None:
                    gap = (us - last_us) // 1_000_000
                    if gap > GAP_THRESHOLD_S:
                        starts.append(last_us)
                        gaps.append(gap)
                last_us = us
        state.update((last_us,))
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(starts),
                "gap_start_us": starts,
                "gap_s": gaps,
            }
        )

    return events.groupBy("event_type").applyInPandasWithState(
        gap_fn,
        outputStructType=GAP_OUTPUT_SCHEMA,
        stateStructType=GAP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


DRAWDOWN_OUTPUT_SCHEMA = (
    "user_id long, n_flows long, peak_cents long, max_drawdown_cents long"
)
DRAWDOWN_STATE_SCHEMA = "balance long, peak long, maxdd long, n long"


def streaming_drawdown(events: DataFrame) -> DataFrame:
    """Per-user streaming maximum drawdown over the credit/debit ledger
    (purchase = +cents, click = -cents): state is four exact BIGINTs
    (balance, high-water mark, deepest fall, count) folded across
    micro-batches — the live risk monitor whose batch twin
    (q_max_drawdown) is the backfill path; the shared ledger
    definition makes them agree exactly on the ordered replay.

    Peak initializes to the FIRST observed balance (not zero) to match
    the batch window semantics, where the running max ranges over
    observed balances only. State per key is 32 bytes; the only
    shuffle is groupBy(user)."""

    def dd_fn(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import math

        if state.exists:
            balance, peak, maxdd, n = state.get
        else:
            balance, peak, maxdd, n = 0, None, 0, 0
        for pdf in batches:
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            for et, v in zip(pdf["event_type"], pdf["value"]):
                c = int(math.floor(float(v) * 100 + 0.5))
                if et == "purchase":
                    balance += c
                elif et == "click":
                    balance -= c
                peak = balance if peak is None else max(peak, balance)
                maxdd = max(maxdd, peak - balance)
                n += 1
        state.update((balance, peak, maxdd, n))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_flows": [n],
                "peak_cents": [peak],
                "max_drawdown_cents": [maxdd],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        dd_fn,
        outputStructType=DRAWDOWN_OUTPUT_SCHEMA,
        stateStructType=DRAWDOWN_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


DRIFT_REF_N = 500
DRIFT_OUTPUT_SCHEMA = "n_ref long, n_cur long, tvd_micro long"
DRIFT_STATE_SCHEMA = (
    "types array<string>, ref_counts array<long>, cur_counts array<long>,"
    " n_seen long"
)


def streaming_drift_monitor(events: DataFrame) -> DataFrame:
    """Reference-window drift monitor: the first DRIFT_REF_N events of
    the stream (in event order) freeze the reference event-type
    distribution; every later event accrues to the current window; the
    emitted statistic is the exact total-variation distance between
    the two distributions in micro units — the live "did traffic mix
    shift after the deploy?" alarm, whose batch twin is a rank-split
    GROUP BY.

    State is the category->count vectors as parallel arrays plus the
    global event counter; a single state key sees the ordered replay,
    so the ref/cur split is deterministic (production shards the
    monitor per feature/segment key; the global mix monitor is
    inherently one key). TVD uses the same floored micro-shares on
    both sides, so the hash match is exact."""

    def drift_fn(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            types, refc, curc, n_seen = state.get
            types = list(types)
            refc = list(refc)
            curc = list(curc)
        else:
            types, refc, curc, n_seen = [], [], [], 0
        idx = {t: i for i, t in enumerate(types)}
        for pdf in batches:
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            for et in pdf["event_type"]:
                if et not in idx:
                    idx[et] = len(types)
                    types.append(et)
                    refc.append(0)
                    curc.append(0)
                if n_seen < DRIFT_REF_N:
                    refc[idx[et]] += 1
                else:
                    curc[idx[et]] += 1
                n_seen += 1
        state.update((types, refc, curc, n_seen))
        nr, nc = sum(refc), sum(curc)
        if nr > 0 and nc > 0:
            tvd = (
                sum(
                    abs((r * 1000000) // nr - (c * 1000000) // nc)
                    for r, c in zip(refc, curc)
                )
                // 2
            )
        else:
            tvd = 0
        yield pd.DataFrame(
            {"n_ref": [nr], "n_cur": [nc], "tvd_micro": [tvd]}
        )

    from pyspark.sql import functions as F

    return (
        events.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandasWithState(
            drift_fn,
            outputStructType=DRIFT_OUTPUT_SCHEMA,
            stateStructType=DRIFT_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
