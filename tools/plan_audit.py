"""Global physical-plan audit: every registered batch query's executed
plan is checked against repo-wide scale invariants.

Invariants (the 100 TB discipline the per-family tests assert locally,
enforced globally here so a NEW query can't silently regress them):

- no CartesianProduct / BroadcastNestedLoopJoin lacking a provably
  scalar side (ungrouped-aggregate/constant-limit builds auto-pass —
  plans/shape.py:unbounded_nested_loop_joins) except where a query is
  explicitly whitelisted with a reason (<=25-row dimension cross,
  constant spine, deliberate brute-force baseline);
- no row-at-a-time Python UDF (BatchEvalPython) outside the UDF-surface
  demos — Arrow/Pandas evaluation (ArrowEvalPython / FlatMapsInPandas
  etc.) is the allowed Python path;
- no UNPARTITIONED window whose input is raw fact-table rows (a global
  single-partition sort of the corpus) — global windows must run over
  aggregate summaries (the q_auc_rank two-phase bucketed prefix sum);
  see plans/shape.py.

Streaming queries execute inside their fns (sinks.drain), so the
audit inspects the RETURNED batch DataFrame's plan — the post-sink
shape — and their streaming internals stay covered by
tests/test_streaming.py; queries tagged 'streaming' are skipped here
unless AUDIT_STREAMING=1 (they cost a full replay each).

Usage: python tools/plan_audit.py [query ...]   (default: all batch)
Exit code 1 when any un-whitelisted violation is found.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from catenae_kafka_spark.registry import all_specs
from catenae_kafka_spark.session import get_spark

from catenae_kafka_spark.plans.audit_whitelist import (  # noqa: E402
    GW_WHITELIST,
    NL_WHITELIST,
    PYUDF_WHITELIST,
)
from catenae_kafka_spark.plans.shape import (  # noqa: E402
    global_windows_over_fact_rows,
    unbounded_nested_loop_joins,
)

def main() -> None:
    names = sys.argv[1:]
    specs = all_specs()
    if names:
        specs = {n: specs[n] for n in names}
    audit_streaming = os.environ.get("AUDIT_STREAMING") == "1"
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.001")
    spark = get_spark("plan_audit")
    bad: list[str] = []
    n_checked = 0
    for name, spec in sorted(specs.items()):
        if "streaming" in spec.tags and not audit_streaming:
            continue
        t0 = time.perf_counter()
        try:
            df = spec.fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001
            bad.append(f"{name}: PLAN BUILD FAILED: {type(exc).__name__}: {exc}")
            continue
        n_checked += 1
        nl = unbounded_nested_loop_joins(df)
        nested = (
            "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan
        )
        if nl and name not in NL_WHITELIST:
            bad.append(f"{name}: un-whitelisted {nl[0]}")
        if "BatchEvalPython" in plan and name not in PYUDF_WHITELIST:
            bad.append(f"{name}: row-at-a-time Python UDF in plan")
        gw = global_windows_over_fact_rows(df)
        if gw and name not in GW_WHITELIST:
            bad.append(f"{name}: {gw[0]}")
        dt = time.perf_counter() - t0
        flag = " NL" if nested else ""
        print(f"ok   {name}{flag} ({dt:.1f}s)", flush=True)
    print(f"\n{n_checked} plans checked, {len(bad)} violations")
    for b in bad:
        print("VIOLATION:", b)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
