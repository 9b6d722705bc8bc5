"""Unit tests for bench.py's pure guard computations — the 10x-rung
ratio/no-super-linear gate must behave under errored/missing base
timings without dividing by zero or None."""

from __future__ import annotations

import importlib.util
import json
import os


def _bench():
    p = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")
    spec = importlib.util.spec_from_file_location("bench_mod", p)
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def test_ratio_guard_flags_only_super_linear():
    m = _bench()
    g = m._ratio_guard(
        {"a": 2.0, "b": 40.0, "c": 1.0},
        {"a": 1.0, "b": 2.0, "c": 1.0},
        slack=15.0,
    )
    assert g["ratios"] == {"a": 2.0, "b": 20.0, "c": 1.0}
    assert g["worst"] == 20.0
    assert g["breached"] == {"b": 20.0}


def test_ratio_guard_skips_missing_and_zero_base():
    m = _bench()
    g = m._ratio_guard(
        {"a": 2.0, "b": 3.0, "c": 4.0},
        {"a": 1.0, "b": None, "d": 9.9},  # b errored, c never measured
        slack=15.0,
    )
    assert g["ratios"] == {"a": 2.0}
    assert g["breached"] == {}
    g0 = m._ratio_guard({"a": 1.0}, {"a": 0.0}, slack=15.0)
    assert g0["ratios"] == {} and g0["worst"] is None


def test_sf_from_dir():
    m = _bench()
    assert m.sf_from_dir("/root/testdata/sf0.1") == 0.1
    assert m.sf_from_dir("/nowhere") == -1.0


def test_host_block_reports_load_and_interval_steal():
    """VERDICT r9 #4: the bench JSON must carry in-record host-load
    attribution. steal% is computed over each adjacent sample interval
    from cumulative /proc/stat jiffies; missing /proc data degrades to
    absent keys, never a crash."""
    m = _bench()
    live = m._host_sample("probe")
    assert live["label"] == "probe"  # on this Linux host both facets exist
    assert live["load1"] is not None and live["_total"] is not None
    s = [
        {"label": "start", "load1": 1.0, "_steal": 100, "_total": 10_000},
        {"label": "mid", "load1": 2.0, "_steal": 150, "_total": 10_500},
        {"label": "end", "load1": 1.5, "_steal": 150, "_total": 11_500},
    ]
    b = m._host_block(s)
    assert b["load1"] == {"start": 1.0, "mid": 2.0, "end": 1.5}
    assert b["steal_pct"] == {"start->mid": 10.0, "mid->end": 0.0}
    # a sample with unreadable /proc/stat contributes no interval
    s[1]["_total"] = None
    assert m._host_block(s)["steal_pct"] == {}
    # non-monotonic totals (counter reset) are skipped, not negative
    s2 = [
        {"label": "a", "load1": None, "_steal": 500, "_total": 9_000},
        {"label": "b", "load1": None, "_steal": 100, "_total": 5_000},
    ]
    assert m._host_block(s2)["steal_pct"] == {}


def test_scale_rung_skips_unstaged_dir_when_gated():
    """The 100x rung must never replicate 1.7 GB inside the driver's
    bench run — a blown budget there loses the round's only bench
    record. With stage_if_missing=False an absent staging records a
    skip (with the restore command) and returns before touching Spark."""
    m = _bench()
    out: dict = {}
    m._scale_rung(
        None,  # spark unused on the skip path
        {},
        out,
        key="sfx10",
        dst="/tmp/definitely-not-staged-xyz",
        k=100,
        n_runs=1,
        stage_if_missing=False,
    )
    blk = out["sfx10"]
    assert "tools/scale10x.py" in blk["skipped"]
    assert blk["k_vs_sf01"] == 100
    assert not blk.get("guard_failed")  # a skip is not a guard failure


def _scale10x():
    p = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "scale10x.py",
    )
    spec = importlib.util.spec_from_file_location("scale10x_mod", p)
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def test_replicate_rejects_k_below_one():
    """ADVICE r9: k=0 builds F.sequence(0, -1) — a DESCENDING sequence
    staging two copies with negative key offsets — and would then write
    a marker recording the bogus dir as a valid staging."""
    import pytest

    m = _scale10x()
    for k in (0, -3):
        with pytest.raises(ValueError, match="must be >= 1"):
            m.replicate(None, "/tmp/never-written", k)


def test_staged_rejects_wrong_src_k_or_jitter(tmp_path):
    """ADVICE r9 + VERDICT r10 #4: the marker records WHICH source
    fixture, k AND documents-jitter mode built the dir; a staging of a
    different src/k/corpus must not pass as complete or it gets
    silently timed against the wrong baseline. Pre-r11 markers (no
    jitter key — legacy exact-clone documents) are stale BY DESIGN."""
    m = _scale10x()
    marker = tmp_path / m.MARKER
    marker.write_text(json.dumps({"k": 10, "src": "/some/other/fixture",
                                  "jitter": m.JITTER_MODE}))
    assert not m.staged(str(tmp_path), 10)
    marker.write_text(json.dumps({"k": 100, "src": m.SRC,
                                  "jitter": m.JITTER_MODE}))
    assert not m.staged(str(tmp_path), 10)
    # pre-r11 marker: right k/src but exact-clone documents
    marker.write_text(json.dumps({"k": 10, "src": m.SRC}))
    assert not m.staged(str(tmp_path), 10)
    marker.write_text(json.dumps({"k": 10, "src": m.SRC,
                                  "jitter": m.JITTER_MODE}))
    assert m.staged(str(tmp_path), 10)
    marker.unlink()
    assert not m.staged(str(tmp_path), 10)


def _full_record(m) -> dict:
    """A representative FULL bench record shaped like round 10's (the
    one whose single stdout line outgrew the driver's tail capture):
    11 headline queries with mins+medians+sample counts, both scale
    rungs with per-query timings and ratios, multi-interval host block,
    streaming rates, retry samples."""
    names = [
        "q_window_rank", "q_join_asof", "q_stream_tumbling",
        "q_flagship_revenue", "q_agg_groupby", "q_top_unshipped",
        "q_llm_pipeline", "q_join_inner", "q_knn_cosine", "q_lang_id",
        "q_dedup_minhash",
    ]
    batch = [n for n in names if not n.startswith("q_stream")]
    rung = lambda: {  # noqa: E731
        "input_ratio": 10,
        "k_vs_sf01": 10,
        "staging_dir": "/tmp/sfx1",
        "queries": {n: 3.217 for n in batch},
        "value": 32.17,
        "ratio_vs_base_min": {n: 3.94 for n in batch},
        "worst_ratio": 3.94,
        "slack": 15.0,
        "stage_sec": 21.7,
        "errors": None,
        "guard_breached": None,
        "guard_failed": False,
    }
    labels = [
        "start", "headline_done", "sustained_done", "sfx1_done", "sfx10_done",
    ]
    return {
        "metric": "headline query-set wall time (batch+streaming), local mode",
        "value": 9.517,
        "unit": "sec",
        "n": {"batch": 5, "stream": 3},
        "n_samples": {n: 5 for n in names},
        "stat": "min",
        "queries": {n: 0.994 for n in names},
        "value_median": 10.846,
        "queries_median": {n: 1.203 for n in names},
        "sf": 0.1,
        "stream_events_per_s": 76_900,
        "stream_events_per_s_sustained": 364_000,
        "retry_samples": {"stream_events_per_s_sustained": [311_000, 364_000]},
        "sfx1": rung(),
        "sfx10": rung(),
        "host": {
            "cpus": 32,
            "load1": {lbl: 3.21 for lbl in labels},
            "steal_pct": {
                f"{a}->{b}": 6.7 for a, b in zip(labels, labels[1:])
            },
        },
        "full_record_path": "/root/repo/bench_full.json",
    }


def test_compact_record_fits_driver_tail_window():
    """VERDICT r10 #1: round 10's full record serialized to ~4 KB and
    was truncated MID-LINE by the driver's ~2 KB tail capture, costing
    the round its machine-readable bench row. The compact stdout
    projection of a representative full record must fit MAX_FINAL_LINE
    _BYTES with every driver-contract key intact."""
    m = _bench()
    full = _full_record(m)
    # the guard is only meaningful if the full record genuinely exceeds
    # the driver window — otherwise this test would pass vacuously
    assert len(json.dumps(full)) > 2000
    c = m._compact_record(full)
    line = json.dumps(c)
    assert len(line) <= m.MAX_FINAL_LINE_BYTES, len(line)
    # driver contract: metric/value/unit/queries/sf survive verbatim
    assert c["metric"] == full["metric"]
    assert c["value"] == 9.517 and c["unit"] == "sec" and c["sf"] == 0.1
    assert c["queries"] == full["queries"]
    # round-at-a-glance evidence survives in compact form
    assert c["value_median"] == 10.846
    assert c["stream_events_per_s"] == 76_900
    assert c["sfx1"] == {
        "worst_ratio": 3.94, "guard_failed": False, "value": 32.17,
    }
    assert c["sfx10"]["guard_failed"] is False
    assert c["host"] == {"cpus": 32, "steal_pct_max": 6.7, "load1_max": 3.21}
    assert c["full_record"] == "/root/repo/bench_full.json"
    # bulky sections must NOT leak into the compact line
    for bulky in ("queries_median", "n_samples", "retry_samples"):
        assert bulky not in c


def test_compact_record_degraded_paths():
    """Error/skip variants stay compact AND informative: per-query
    errors truncate to 80 chars, rung skips collapse to a flag, rung
    errors to 120 chars."""
    m = _bench()
    full = _full_record(m)
    full["errors"] = {"q_stream_tumbling": "X" * 500}
    full["sfx1"] = {"skipped": "staging absent ...", "k_vs_sf01": 10}
    del full["sfx10"]
    full["sfx10_error"] = "Y" * 400
    c = m._compact_record(full)
    assert c["errors"] == {"q_stream_tumbling": "X" * 80}
    assert c["sfx1"] == {"skipped": True}
    assert "sfx10" not in c
    assert c["sfx10_error"] == "Y" * 120
    assert len(json.dumps(c)) <= m.MAX_FINAL_LINE_BYTES


def test_emit_final_stdout_line_is_bounded_compact_json(tmp_path, capsys, monkeypatch):
    """End-to-end _emit contract: stdout carries EXACTLY ONE line, it
    parses as JSON, it is under the byte bound, and the full record
    lands at $BENCH_FULL_PATH (plus stderr, belt-and-braces)."""
    m = _bench()
    full_path = tmp_path / "bench_full.json"
    monkeypatch.setenv("BENCH_FULL_PATH", str(full_path))
    out = _full_record(m)
    out.pop("full_record_path")
    m._emit(out)
    cap = capsys.readouterr()
    lines = [ln for ln in cap.out.splitlines() if ln.strip()]
    assert len(lines) == 1
    assert len(lines[0].encode()) <= m.MAX_FINAL_LINE_BYTES
    c = json.loads(lines[0])
    assert c["value"] == 9.517 and c["queries"]["q_join_asof"] == 0.994
    assert c["full_record"] == str(full_path)
    stored = json.loads(full_path.read_text())
    assert stored["queries_median"]["q_join_asof"] == 1.203  # bulk preserved
    assert json.loads(cap.err.splitlines()[-1])["bench_full"]["value"] == 9.517


def test_emit_sheds_optional_fields_never_contract_scalars(tmp_path, capsys, monkeypatch):
    """Last-resort shedding: a pathological record (hundreds of errored
    queries) still yields a parseable line under the bound, dropping
    errors -> host -> queries but never the contract scalars."""
    m = _bench()
    monkeypatch.setenv("BENCH_FULL_PATH", str(tmp_path / "f.json"))
    out = _full_record(m)
    out["errors"] = {f"q_{i:03d}": "boom " * 16 for i in range(200)}
    out["queries"] = {f"q_{i:03d}": 1.0 for i in range(200)}
    m._emit(out)
    line = [ln for ln in capsys.readouterr().out.splitlines() if ln.strip()][-1]
    assert len(line.encode()) <= m.MAX_FINAL_LINE_BYTES
    c = json.loads(line)
    for k in ("metric", "value", "unit", "sf", "value_median"):
        assert k in c
    assert "errors" not in c  # shed first


def test_neardup_jitter_caps_clone_cliques(spark):
    """VERDICT r10 #4: the replicated documents corpus must not hand
    every doc k-1 EXACT clones (C(k,2) near-dup pairs per clique made
    the k=100 minhash rung measure pair materialization, not the plan).
    Properties of the copy-keyed token jitter:

    - copy 0 is pristine (each rung still contains the true corpus);
    - identical source texts get identical jitter at the same copy
      index (exact dups WITHIN a copy stay exact -> linear replication);
    - cross-copy 3-shingle Jaccard lands near the designed ~0.14, far
      below both the verify threshold (0.7) and the 16x4-band LSH
      candidate knee (~0.5);
    - end-to-end: a jittered 12-clique yields ZERO verified pairs and
      (nearly) no candidates, where exact clones yield all C(12,2).
    """
    from pyspark.sql import functions as F

    m = _scale10x()
    base = " ".join(f"w{i % 31}" for i in range(54))  # fixture-like doc
    rows = [(i, base) for i in range(12)]
    df = spark.createDataFrame(rows, "_i int, text string")
    jit = df.withColumn(
        "text", m._jitter_text(F.split(F.col("text"), " "))
    )
    texts = {r._i: r.text for r in jit.collect()}
    assert texts[0] == base  # copy 0 pristine
    toks1 = texts[1].split(" ")
    assert toks1[0] == "jt1" and toks1[4] == "jt5" and toks1[1] == "w1"
    assert len(toks1) == 54

    def shingles(t):
        w = t.split(" ")
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    def jacc(a, b):
        sa, sb = shingles(a), shingles(b)
        return len(sa & sb) / len(sa | sb)

    js = [jacc(texts[i], texts[j]) for i in range(12) for j in range(i + 1, 12)]
    assert max(js) < 0.30 and min(js) > 0.0, (min(js), max(js))
    # determinism: same text + same copy index -> same jitter
    again = {r._i: r.text for r in jit.collect()}
    assert again == texts
    # vocab boundedness: jitter adds at most JITTER_ALPHABET new tokens
    # (vocab-bounded ops like q_ngram_lm must grow by O(1) words, not
    # O(corpus))
    jitter_vocab = {
        t for txt in texts.values() for t in txt.split(" ") if t.startswith("jt")
    }
    assert len(jitter_vocab) <= m.JITTER_ALPHABET
    assert all(t[2:].isdigit() and int(t[2:]) < m.JITTER_ALPHABET
               for t in jitter_vocab)

    # end-to-end clique cap through the real minhash pipeline
    from catenae_kafka_spark.operators.llm_dedup import (
        minhash_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    signed = minhash_signatures(docs).cache()
    cands = minhash_candidate_pairs(signed)
    n_cands = cands.count()
    assert n_cands <= 11, n_cands  # exact clones would give C(12,2)=66
    verified = (
        cands.join(signed.select(F.col("doc_id").alias("id_a"),
                                 F.col("shingles").alias("sh_a")), "id_a")
        .join(signed.select(F.col("doc_id").alias("id_b"),
                            F.col("shingles").alias("sh_b")), "id_b")
        .filter(
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b"))
            >= 0.7
        )
    )
    assert verified.count() == 0
    signed.unpersist()


def test_replicate_rejects_k_beyond_jitter_alphabet():
    """Code-review r11: copies i and i+JITTER_ALPHABET replace the same
    positions with IDENTICAL tokens — exact clones again, i.e. the
    clique pathology back at a bigger k while the marker vouches for
    the jittered corpus. replicate() must refuse, not silently stage."""
    import pytest

    m = _scale10x()
    with pytest.raises(ValueError, match="jitter alphabet"):
        m.replicate(None, "/tmp/never-written", m.JITTER_ALPHABET + 1)


def test_emit_sheds_unbounded_full_record_path(tmp_path, capsys, monkeypatch):
    """Code-review r11: $BENCH_FULL_PATH is the one unbounded string in
    the compact record; a pathologically long path must be shed (first)
    and the bound re-checked, or the driver tail capture truncates the
    line mid-JSON — the exact failure the compact record exists for."""
    m = _bench()
    deep = tmp_path
    for i in range(60):
        deep = deep / f"deeply-nested-ci-workspace-{i:03d}"
    deep.mkdir(parents=True)
    full_path = deep / "bench_full.json"
    assert len(str(full_path)) > m.MAX_FINAL_LINE_BYTES  # genuinely oversized
    monkeypatch.setenv("BENCH_FULL_PATH", str(full_path))
    out = _full_record(m)
    out.pop("full_record_path")
    m._emit(out)
    line = [ln for ln in capsys.readouterr().out.splitlines() if ln.strip()][-1]
    assert len(line.encode()) <= m.MAX_FINAL_LINE_BYTES
    c = json.loads(line)
    assert "full_record" not in c  # shed
    assert c["value"] == 9.517 and c["queries"]  # everything else intact
    assert json.loads(full_path.read_text())["value"] == 9.517


def test_emit_round_trips_simulated_driver_tail_capture(tmp_path, capsys, monkeypatch):
    """VERDICT r11 #6: the driver keeps only ~2 KB of stdout TAIL.
    Round 11 was the first round whose record parsed end-to-end; pin
    that property structurally — simulate the capture (preceding log
    noise, truncate the stream to its last 2048 bytes, take the last
    full line) and the compact record must parse with the contract
    scalars intact, so a future field addition can never regrow the
    r10 parsed:null failure."""
    m = _bench()
    # structural precondition: one full compact line + newline always
    # fits the capture window
    assert m.MAX_FINAL_LINE_BYTES + 1 <= 2048
    monkeypatch.setenv("BENCH_FULL_PATH", str(tmp_path / "f.json"))
    out = _full_record(m)
    out.pop("full_record_path")
    # field growth in the FULL record (legitimately unbounded there)
    out["future_diag"] = {f"stage_{i}": "x" * 50 for i in range(100)}
    print("spark noise line\n" * 120, end="")  # stdout the window clips
    m._emit(out)
    stream = capsys.readouterr().out.encode()
    tail = stream[-2048:]  # the driver's capture window
    last = tail.decode(errors="ignore").strip().splitlines()[-1]
    c = json.loads(last)  # r10 failed exactly here
    for k in ("metric", "value", "unit", "sf", "queries"):
        assert k in c
    assert c["value"] == 9.517


def test_emit_degrades_on_unserializable_full_record(tmp_path, capsys, monkeypatch):
    """ADVICE r11: non-JSON-native values in the full record (numpy
    scalars, exception objects) must degrade via default=str — the full
    file still lands, stringified — and even a circular reference
    (which no default= can save) must only cost the full-record copies,
    never the stdout contract line."""
    m = _bench()
    monkeypatch.setenv("BENCH_FULL_PATH", str(tmp_path / "f.json"))
    out = _full_record(m)
    out.pop("full_record_path")
    out["oops"] = ValueError("boom")
    m._emit(out)
    cap = capsys.readouterr()
    line = [ln for ln in cap.out.splitlines() if ln.strip()][-1]
    assert json.loads(line)["value"] == 9.517
    stored = json.loads((tmp_path / "f.json").read_text())
    assert "boom" in stored["oops"]  # stringified, not lost

    out2 = _full_record(m)
    out2.pop("full_record_path")
    out2["cycle"] = out2  # circular: json raises ValueError regardless
    m._emit(out2)
    cap2 = capsys.readouterr()
    line2 = [ln for ln in cap2.out.splitlines() if ln.strip()][-1]
    assert json.loads(line2)["metric"] == out2["metric"]
    assert "failed" in cap2.err  # degradation is loud on stderr
    # and the PREVIOUS good full record was not clobbered with partial
    # JSON (serialization completes before the file is opened)
    assert json.loads((tmp_path / "f.json").read_text())["value"] == 9.517


def test_stream_guard_verdict_attributes_contention():
    """VERDICT r12 #1: a streaming-floor breach under host contention
    killed the bench run BEFORE the sfx1/sfx10 rungs. The breach is now
    attributed via the sampled interval steal: at/above
    STEAL_SUSPECT_PCT (or unmeasurable) it is contention-suspect —
    recorded, rungs still run, rc stays 0; below it the breach is a
    quiet-host code regression and main() exits 1 at the END (after the
    rungs)."""
    m = _bench()
    broken = {"stream_events_per_s": (59_445, 60_000)}
    noisy = m._stream_guard_verdict(broken, steal_max=4.27)
    assert noisy["contention_suspect"] is True
    assert noisy["breached"]["stream_events_per_s"] == {
        "got": 59_445,
        "floor": 60_000,
    }
    quiet = m._stream_guard_verdict(broken, steal_max=0.05)
    assert quiet["contention_suspect"] is False
    # unmeasurable steal (no /proc) must not be treated as quiet-host
    assert m._stream_guard_verdict(broken, steal_max=None)["contention_suspect"]
    # threshold boundary: exactly at the threshold counts as suspect
    at = m._stream_guard_verdict(broken, steal_max=m.STEAL_SUSPECT_PCT)
    assert at["contention_suspect"] is True


def test_compact_record_carries_stream_guard_breach():
    """A recorded breach must survive into the one stdout line (the
    driver's tail capture is the round's only evidence) in compact
    form: breached metric names + attribution, not the full block."""
    m = _bench()
    full = _full_record(m)
    full["stream_guard"] = m._stream_guard_verdict(
        {"stream_events_per_s_sustained": (233_061, 250_000)}, steal_max=6.05
    )
    c = m._compact_record(full)
    assert c["stream_guard"] == {
        "breached": ["stream_events_per_s_sustained"],
        "contention_suspect": True,
    }
    assert len(json.dumps(c)) <= m.MAX_FINAL_LINE_BYTES
    # absent breach adds no key
    assert "stream_guard" not in m._compact_record(_full_record(m))


def test_main_emits_record_through_unreachable_stream_floor(
    tmp_path, capsys, monkeypatch
):
    """ADVICE r13: the breach print interpolated an unassigned
    ``steal_max``, so a breach that survived its retries raised
    NameError before ``_emit`` and the round lost its whole bench
    record. Drive main() through a breach with floors nobody can reach
    (stubbed session and query work, quiet-host steal samples): the
    record must still be emitted, carrying the breach, before the
    quiet-host exit(1)."""
    from types import SimpleNamespace
    from unittest import mock

    import pytest

    import catenae_kafka_spark.streaming.sources as sources

    m = _bench()
    spark = mock.MagicMock()
    spark.read.parquet.side_effect = OSError("no events fixture")
    spec = SimpleNamespace(bench=True, fn=lambda s, sf: mock.MagicMock())
    ticks = iter(range(0, 10**9, 1000))

    def quiet_sample(label):
        return {"label": label, "load1": 0.1, "_steal": 0, "_total": next(ticks)}

    monkeypatch.setattr(m, "get_spark", lambda name: spark)
    monkeypatch.setattr(m, "all_specs", lambda: {"q_stream_tumbling": spec})
    monkeypatch.setattr(m, "_sustained_stream_rate", lambda s, sf: 1)
    monkeypatch.setattr(m, "_host_sample", quiet_sample)
    monkeypatch.setattr(m, "N_GUARD_RETRIES", 1)
    monkeypatch.setattr(sources, "replay_events", lambda s, sf: None)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path / "sf0.1"))
    monkeypatch.setattr(
        m, "STREAM_FLOORS", dict.fromkeys(m.STREAM_FLOORS, 10**12)
    )
    monkeypatch.setenv("BENCH_SKIP_10X", "1")
    monkeypatch.setenv("BENCH_FULL_PATH", str(tmp_path / "full.json"))
    with pytest.raises(SystemExit) as exit_info:
        m.main()
    assert exit_info.value.code == 1  # quiet-host breach stays fatal
    cap = capsys.readouterr()
    line = [ln for ln in cap.out.splitlines() if ln.strip()][-1]
    c = json.loads(line)
    assert c["stream_guard"] == {
        "breached": ["stream_events_per_s", "stream_events_per_s_sustained"],
        "contention_suspect": False,
    }
    full = json.loads((tmp_path / "full.json").read_text())
    assert full["stream_guard"]["steal_pct_max"] == 0.0
    assert "steal_max=0.0%, continuing to scale rungs" in cap.err
