"""tools/layer_profile.py: the one measurement CLI (build/exec split, plan
counts, scale-step ratio, per-query error isolation)."""

from __future__ import annotations

import importlib.util
import os
import re
from types import SimpleNamespace

import pytest

from catenae_kafka_spark.registry import all_specs

TIMINGS = {"build_min", "exec_min", "total_min", "total_med"}
COUNTS = {"scans", "exchanges", "reused"}


def _profile_tool():
    p = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "layer_profile.py",
    )
    spec = importlib.util.spec_from_file_location("profile_tool", p)
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def test_one_rep_reports_every_field_and_explain(spark, sf_dir, tmp_path):
    m = _profile_tool()
    out = m.profile(
        spark, all_specs(), ["q_agg_groupby"], [sf_dir], reps=1,
        explain_dir=str(tmp_path),
    )
    rec = out["sf_dirs"][sf_dir]["q_agg_groupby"]
    assert set(rec) == TIMINGS | COUNTS
    assert rec["scans"] >= 1 and rec["exchanges"] >= 1
    assert rec["total_min"] == pytest.approx(rec["build_min"] + rec["exec_min"], abs=2e-3)
    assert "step_ratio" not in out  # one dir: no step
    plan = (tmp_path / "q_agg_groupby.txt").read_text()
    assert "== Physical Plan ==" in plan
    # two builds in one session get fresh expression and plan ids; the
    # written dumps must still be byte-identical (plain diff across runs)
    again = tmp_path / "again"
    m.profile(spark, all_specs(), ["q_agg_groupby"], [sf_dir], reps=0,
              explain_dir=str(again))
    assert (again / "q_agg_groupby.txt").read_bytes() == plan.encode()
    assert "plan_id=N" in plan and not re.search(r"#\d", plan)


def test_zero_reps_is_a_census_without_timings(spark, sf_dir):
    m = _profile_tool()
    specs = all_specs()
    names = m.select(specs, "bench")
    assert len(names) == 10 and not any(n.startswith("q_stream") for n in names)
    assert set(names) < set(m.select(specs, "all"))
    out = m.profile(spark, specs, names[:3], [sf_dir], reps=0)
    for rec in out["sf_dirs"][sf_dir].values():
        assert set(rec) == COUNTS


def test_two_dirs_give_a_step_ratio(spark, sf_dir):
    step = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(step):
        pytest.skip("sf0.01 fixture absent")
    m = _profile_tool()
    out = m.profile(spark, all_specs(), ["q_agg_groupby"], [sf_dir, step], reps=1)
    top = out["sf_dirs"][step]["q_agg_groupby"]["total_min"]
    base = out["sf_dirs"][sf_dir]["q_agg_groupby"]["total_min"]
    assert out["step_ratio"] == {"q_agg_groupby": round(top / base, 2)}


def test_raising_query_is_recorded_not_raised(spark, sf_dir):
    def boom(spark, sf_dir):
        raise RuntimeError("planted failure")

    m = _profile_tool()
    specs = {
        "q_boom": SimpleNamespace(fn=boom, tags=(), bench=True),
        "q_agg_groupby": all_specs()["q_agg_groupby"],
    }
    out = m.profile(spark, specs, ["q_boom", "q_agg_groupby", "q_nope"], [sf_dir], reps=1)
    recs = out["sf_dirs"][sf_dir]
    assert recs["q_boom"] == {"error": "RuntimeError: planted failure"}
    assert recs["q_nope"]["error"].startswith("KeyError")
    assert set(recs["q_agg_groupby"]) == TIMINGS | COUNTS
