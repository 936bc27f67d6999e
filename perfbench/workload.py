"""One workload run in its own process; ``run.py`` starts it.

Writes one JSON record to ``--out``: the run stamp, the end-to-end
numbers, the per-layer numbers of a traced run, and the output checks.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import harness  # noqa: E402

MODULES = {
    "gateway_mixed": "wl_gateway",
    "stream_drain": "wl_stream",
    "analytics_queries": "wl_analytics",
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(MODULES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--corrupt", default=None)
    a = ap.parse_args()
    ctx = harness.Context(a.workload, a.seed, a.seconds, bool(a.trace), a.work, a.corrupt)
    stamp = {
        "workload": a.workload,
        "seed": a.seed,
        "seconds": a.seconds,
        "trace": a.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "revision": harness.source_revision(),
        "load1_before": harness.loadavg1(),
    }
    cpu0 = harness.cpu_times()
    module = __import__(MODULES[a.workload])
    result = module.run(ctx)
    stamp["load1_after"] = harness.loadavg1()
    stamp["cpu_steal_pct"] = harness.steal_pct(cpu0, harness.cpu_times())
    with open(a.out, "w") as fh:
        json.dump({"stamp": stamp, **dataclasses.asdict(result)}, fh)


if __name__ == "__main__":
    main()
