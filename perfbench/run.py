"""The repository benchmark: ``python3 perfbench/run.py --workload <name>``.

    python3 perfbench/run.py --workload gateway_mixed --seed 1 --seconds 15 --trace 0

Workloads: ``gateway_mixed``, ``stream_drain``, ``analytics_queries``, or
``all`` to run the three in turn.  Each workload runs in its own process
(``workload.py``), from the root of a source checkout, with the checkout
on ``PYTHONPATH`` (Spark's Python workers import the package) and every
scratch file under ``.bench_build/perfbench/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are BENCHMARK.json's ``end_to_end`` metrics;
with ``--trace 1`` its ``per_layer`` metrics, from a traced run.  The
lines before it give the run stamp and the workload's own metrics by
name.  See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("gateway_mixed", "stream_drain", "analytics_queries")
CHILD_TIMEOUT_S = 170  # each run must end within 180 s
OPS = ("light_op_ms", "heavy_op_ms", "bulk_op_ms")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _env(work: str) -> dict[str, str]:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p
    )
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData"
    )
    return env


def run_one(workload: str, seed: int, seconds: float, trace: int, corrupt: str | None) -> dict:
    """Run one workload process; returns its record."""
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(base, f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", work, "--out", out,
    ]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    log = os.path.join(base, f"{workload}-s{seed}-t{trace}.log")
    with open(log, "w") as fh:
        # own process group: a timeout takes down the JVM and receiver too
        proc = subprocess.Popen(
            cmd, cwd=work, env=_env(work), stdin=subprocess.DEVNULL,
            stdout=fh, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"{workload}: timed out after {CHILD_TIMEOUT_S} s (log: {log})")
    _reap(proc.pid)
    if code != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"{workload}: workload process exited with {code} (log: {log})")
    with open(out) as fh:
        record = json.load(fh)
    keep = os.path.join(base, "out")
    os.makedirs(keep, exist_ok=True)
    name = f"{workload}-s{seed}-t{trace}"
    shutil.copy(out, os.path.join(keep, f"{name}.json"))
    if os.path.exists(os.path.join(work, "trace.json")):
        shutil.copy(os.path.join(work, "trace.json"), os.path.join(keep, f"{name}.trace.json"))
    shutil.rmtree(work, ignore_errors=True)
    return record


def _reap(pgid: int) -> None:
    """Wait until nothing of the workload's process group is left."""
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    time.sleep(0.5)


def metrics_for(rec: dict, trace: int, spec: dict) -> dict[str, dict]:
    if not trace:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        return {k: {"value": rec[k], "unit": units[k]} for k in ("setup_s",) + OPS}
    layers = all_layers(rec)
    # a layer this workload never reaches did no work: 0
    out = {}
    for m in spec["per_layer"]:
        value, unit = layers.get(m["name"], (0.0, m["unit"]))
        if unit != m["unit"]:
            raise SystemExit(f"{m['name']}: unit {unit} != {m['unit']}")
        out[m["name"]] = {"value": value, "unit": unit}
    return out


def all_layers(rec: dict) -> dict[str, tuple[float, str]]:
    """Every per-layer number of a traced run's record."""
    layers = {k: tuple(v) for k, v in rec["per_layer"].items()}
    layers["jvm.peak_rss_mb"] = (rec["peak_rss_mb"], "MB")
    for k in OPS:
        untraced, traced = rec[k], rec["traced"].get(k, 0.0)
        layers[f"traced.{k}"] = (traced, "ms")
        # positive: the traced ops were slower than the untraced ones
        over = rec["overhead_pct"]
        if over is None:
            over = (traced - untraced) / untraced * 100 if untraced else 0.0
        layers[f"trace_overhead.{k.removesuffix('_ms')}_pct"] = (over, "%")
    return layers


def report(rec: dict, spec: dict) -> None:
    st = rec["stamp"]
    print(f"# {st['workload']} seed={st['seed']} seconds={st['seconds']} trace={st['trace']}")
    print(
        f"#   nproc={st['nproc']} SPARK_GRAFT_CPUS={st['SPARK_GRAFT_CPUS']} "
        f"load1={st['load1_before']}->{st['load1_after']} "
        f"cpu_steal={st['cpu_steal_pct']:.1f}% revision={st['revision']}"
    )
    named = dict(rec["named"])
    for k in OPS:
        named[k] = (rec[k], "ms")
    named["setup_s"] = (rec["setup_s"], "s")
    named["peak_rss_mb"] = (rec["peak_rss_mb"], "MB")
    named["failed_frac"] = (rec["failed"] / rec["attempted"], "ratio")
    for k, (v, unit) in named.items():
        traced = ""
        if k in rec["traced"]:
            traced = f"   (traced ops: {rec['traced'][k]:.6g})"
        print(f"#   {k} = {v:.6g} {unit}{traced}")
    if st["trace"]:
        # per-layer numbers outside BENCHMARK.json (the record has all)
        listed = {m["name"] for m in spec["per_layer"]}
        for k, (v, unit) in all_layers(rec).items():
            if k not in listed:
                print(f"#   layer {k} = {v:.6g} {unit}")
    for f in rec["failures"]:
        print(f"#   FAILED: {f}")
    for q in rec["info"].get("oracle_rounding_straddles", []):
        print(f"#   NOTE: {q} differs from its oracle only by a half-unit rounding straddle")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", choices=("delivered_id", "oracle_row"),
                    help="spoil one expectation, to show the checks can fail")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "duckdb_webhook_gateway_spark", "__init__.py")):
        print("run.py: the package duckdb_webhook_gateway_spark is not in this checkout",
              file=sys.stderr)
        return 2
    spec = _spec()
    names = WORKLOADS if a.workload == "all" else (a.workload,)
    attempted = failed = 0
    metrics: dict[str, dict] = {}
    for w in names:
        rec = run_one(w, a.seed, a.seconds, a.trace, a.corrupt)
        report(rec, spec)
        attempted += rec["attempted"]
        failed += rec["failed"]
        if a.workload == "all":
            for k, (v, unit) in rec["named"].items():
                metrics[f"{w}.{k}"] = {"value": v, "unit": unit}
            for k in ("setup_s", "peak_rss_mb"):
                metrics[f"{w}.{k}"] = {"value": rec[k], "unit": "s" if k == "setup_s" else "MB"}
            metrics[f"{w}.failed_frac"] = {"value": rec["failed"] / rec["attempted"], "unit": "ratio"}
        else:
            metrics = metrics_for(rec, a.trace, spec)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
