"""Tests for the benchmark itself (not part of the package's test suite).

    python3 -m pytest perfbench/tests -q

The generator tests are fast.  The run tests start real workload
processes (Spark, the HTTP server, the receiver) at a short ``--seconds``
and take a few minutes in all.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import datagen as dg  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
NOW = dt.datetime(2026, 1, 15, 12, 0, 0)


# -- generator ---------------------------------------------------------------

def test_gateway_plan_is_deterministic():
    a, b = dg.gateway_plan(7, now=NOW), dg.gateway_plan(7, now=NOW)
    assert a == b
    assert a != dg.gateway_plan(8, now=NOW)
    events = [arg for kind, arg in a.ops if kind == "event"]
    reads = [arg for kind, arg in a.ops if kind == "read"]
    assert len(events) == 3 * len(reads)
    # the mix the workload promises: N-row payloads and a filter that bites
    assert 0.05 < sum(isinstance(e.payload, list) for e in events) / len(events) < 0.15
    for path in dg.GW_PATHS:
        assert any(isinstance(e.payload, list) for e in events if e.path == path)
    gated = [e for e in events if e.path == dg.GW_FILTERED and not e.passes_filter]
    filtered_path = [e for e in events if e.path == dg.GW_FILTERED]
    assert 0.2 < len(gated) / len(filtered_path) < 0.45


def test_stream_drains_are_deterministic():
    assert dg.stream_drain(3, 5, 500) == dg.stream_drain(3, 5, 500)
    assert dg.stream_drain(3, 5, 500) != dg.stream_drain(4, 5, 500)
    d = dg.stream_drain(3, 1, 5000)
    share = len(d.by_path[dg.ST_DELIVER]) / 5000
    assert 0.15 < share < 0.25


def test_analytics_tables_are_deterministic():
    a, b = dg.analytics_tables(5, 0.001), dg.analytics_tables(5, 0.001)
    assert set(a) == set(dg.TABLES)
    assert all(a[t].equals(b[t]) for t in dg.TABLES)
    c = dg.analytics_tables(6, 0.001)
    assert not a["lineitem"].equals(c["lineitem"])


def test_truth_tracks_filtered_and_delivered():
    plan = dg.gateway_plan(1, now=NOW)
    truth = dg.GatewayTruth(plan)
    raw0, filtered0 = truth.raw_total, truth.filtered
    ev = next(arg for kind, arg in plan.ops
              if kind == "event" and arg.path == dg.GW_FILTERED and not arg.passes_filter)
    truth.add(ev)
    assert truth.raw_total == raw0 + 1 and truth.filtered == filtered0 + 1
    assert truth.query_truth(dg.QUERY_TEXTS[2]) == [[filtered0 + 1]]


def test_half_unit_straddle_needs_exact_half_and_neighbours():
    from decimal import Decimal

    from wl_analytics import half_unit_straddle

    half = Decimal("283954.5950")
    assert half_unit_straddle(283954.6, 283954.59, half, 2)
    assert half_unit_straddle(283954.59, 283954.6, half, 2)
    # one unit apart, but the exact value is not at the half
    assert not half_unit_straddle(283954.6, 283954.59, Decimal("283954.5951"), 2)
    # two values that print with one decimal, at a place of two decimals
    assert not half_unit_straddle(283954.6, 283954.7, Decimal("283954.65"), 2)
    assert not half_unit_straddle(12.5, 12.6, Decimal("12.55"), 2)
    assert not half_unit_straddle(283954.6, 283954.58, half, 2)
    # an inexact (floating) value proves nothing
    assert not half_unit_straddle(283954.6, 283954.59, 283954.595, 2)


def test_oracle_check_accepts_only_half_unit_straddles(tmp_path):
    """Seed 105: ``q3_shipping_priority`` order 2436 sums to exactly
    283954.5950; the engines round it to different neighbours."""
    from duckdb_webhook_gateway_spark.workloads import all_entries
    from wl_analytics import _run_duckdb, oracle_straddle, rounded_columns, value_hash

    sql = all_entries()["q3_shipping_priority"][1]
    assert rounded_columns(sql)["revenue"][0] == 2
    dg.write_tables(dg.analytics_tables(105, 0.01), str(tmp_path))
    cols, rows = want = _run_duckdb(str(tmp_path), sql)
    at = [r[0] for r in rows].index(2436)
    assert rows[at][3] == 283954.59

    def got(**cells):
        out = list(rows)
        row = dict(zip(cols, rows[at]), **cells)
        out[at] = tuple(row[c] for c in cols)
        return cols, out

    spark_like = got(revenue=283954.6)
    assert value_hash(*spark_like) != value_hash(*want)
    assert oracle_straddle(str(tmp_path), sql, spark_like, want)
    assert not oracle_straddle(str(tmp_path), sql, got(revenue=283954.7), want)
    assert not oracle_straddle(str(tmp_path), sql, got(revenue=283954.58), want)
    assert not oracle_straddle(str(tmp_path), sql, got(revenue=283954.6, l_orderkey=2437), want)
    assert not oracle_straddle(str(tmp_path), sql, (cols, spark_like[1][:-1]), want)
    # any other row moved by one cent is not at a half unit
    other = 0 if at else 1
    moved = list(rows)
    moved[other] = rows[other][:3] + (round(rows[other][3] + 0.01, 2),)
    assert not oracle_straddle(str(tmp_path), sql, (cols, moved), want)


# -- whole runs ----------------------------------------------------------------

def _run(workload: str, trace: int, corrupt: str | None = None, seed: int = 3):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "2", "--trace", str(trace)]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def _assert_metrics(result: dict, wanted: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in wanted}
    for m in wanted:
        got = metrics[m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


LISTED_WORKLOADS = [w["name"] for w in SPEC["workloads"]]


@pytest.mark.parametrize("workload", LISTED_WORKLOADS)
def test_untraced_run_is_correct_and_complete(workload):
    result, report = _run(workload, trace=0)
    _assert_metrics(result, SPEC["end_to_end"])
    assert result["correct"] and result["failed"] == 0, report
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert any("failed_frac = 0 ratio" in line for line in report)


# A corrupted expectation must be caught: one expected delivered id
# removed (the receiver then holds an id nobody expected), or one oracle
# row dropped.  Traced, so the per-layer names are checked on the way.
@pytest.mark.parametrize(
    "workload,corrupt",
    [(w, "oracle_row" if w == "analytics_queries" else "delivered_id")
     for w in LISTED_WORKLOADS],
)
def test_corrupted_expectation_fails_the_run(workload, corrupt):
    result, report = _run(workload, trace=1, corrupt=corrupt)
    _assert_metrics(result, SPEC["per_layer"])
    reached = {k for k, m in result["metrics"].items() if m["value"] != 0}
    if workload == "gateway_mixed":
        # the drains reach the streaming layer
        assert {"spark.jobs_per_drain.500", "webhook_source.process_batch_s.5000",
                "stream.addBatch_ms.5000", "executors.payload_to_df_ms"} <= reached
    else:
        assert {"profile.part_kcore.jobs", "query.q1_pricing_summary_s"} <= reached
    assert not result["correct"]
    assert result["failed"] > 0
    assert any(line.startswith("#   FAILED:") for line in report)


def test_stream_drain_checks_can_fail():
    result, report = _run("stream_drain", trace=1, corrupt="delivered_id")
    assert result["failed"] > 0 and not result["correct"]
    assert any("drain_5000_s" in line for line in report)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", LISTED_WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
