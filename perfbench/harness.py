"""Shared plumbing for one workload process: session start, the delivery
receiver, run stamping, memory, and the result record.

A workload module exposes ``run(ctx) -> Result``; ``workload.py`` picks
the module, and ``run.py`` is the command that starts that process.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import urllib.request
from dataclasses import dataclass, field
from typing import Any, Optional

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str  # scratch directory for this run, inside the checkout
    corrupt: Optional[str] = None  # test hook: spoil one expectation


@dataclass
class Result:
    # The workload's user-facing numbers under the names used in the
    # benchmark's README (event_p50_ms, drain_500_s, ...).
    named: dict[str, tuple[float, str]] = field(default_factory=dict)
    # The workload-specific numbers behind BENCHMARK.json's end-to-end
    # metrics light_op_ms, heavy_op_ms and bulk_op_ms (see README.md).
    light_op_ms: float = 0.0
    heavy_op_ms: float = 0.0
    bulk_op_ms: float = 0.0
    setup_s: float = 0.0
    peak_rss_mb: float = 0.0
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    # traced runs: the op numbers measured on the traced ops, and the
    # tracing overhead when the workload measures it apart from them
    traced: dict[str, float] = field(default_factory=dict)
    overhead_pct: Optional[float] = None
    per_layer: dict[str, tuple[float, str]] = field(default_factory=dict)
    info: dict[str, Any] = field(default_factory=dict)

    def fail(self, what: str, n: int = 1) -> None:
        if n > 0:
            self.failed += n
            if len(self.failures) < 20:
                self.failures.append(what)


def start_spark(app: str, **overrides: str):
    """The package's own session factory, as the API entry point uses it."""
    from duckdb_webhook_gateway_spark import get_spark

    spark = get_spark(app, **overrides)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (local mode: executors live in it too)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def loadavg1() -> Optional[float]:
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except (OSError, ValueError):
        return None


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user ... steal, in ticks)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took from this machine between two
    :func:`cpu_times` readings, in percent."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d) if sum(d) else 0.0


def source_revision() -> Optional[str]:
    """The git revision of the checkout; None outside a git clone."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


class Receiver:
    """The delivery receiver process (``receiver.py``)."""

    def __init__(self, work: str):
        port_file = os.path.join(work, "receiver.port")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "receiver.py"), port_file],
            stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
        )
        deadline = time.monotonic() + 30
        while not os.path.exists(port_file):
            if self.proc.poll() is not None or time.monotonic() > deadline:
                self.stop()
                raise RuntimeError("delivery receiver did not start")
            time.sleep(0.02)
        with open(port_file) as fh:
            self.port = int(fh.read())
        self.url = f"http://127.0.0.1:{self.port}/hook"

    def ids(self) -> list[str]:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{self.port}/ids", timeout=30
        ) as resp:
            return json.loads(resp.read())["ids"]

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def spoil(expected: set[str]) -> None:
    """Test hook: drop one expected delivered id (or, with none expected,
    expect one that is never sent)."""
    if expected:
        expected.discard(min(expected))
    else:
        expected.add("<never-sent>")


def check_deliveries(result: Result, received: list[str], expected: set[str]) -> None:
    """Receiver-side delivery checks shared by both delivering workloads."""
    from collections import Counter

    counts = Counter(received)
    dup = sum(c - 1 for c in counts.values() if c > 1)
    missing = expected - set(counts)
    extra = set(counts) - expected
    result.per_layer["delivery.posts_received"] = (float(len(received)), "count")
    result.per_layer["delivery.duplicate_posts"] = (float(dup), "count")
    result.fail(f"{len(missing)} expected deliveries never arrived", len(missing))
    result.fail(f"{len(extra)} unexpected deliveries arrived", len(extra))
    result.fail(f"{dup} duplicate deliveries", dup)


def audit_checks(result: Result, spark, expected_raw: int, expected_filtered: int) -> None:
    """Audit-table checks shared by the gateway and stream workloads:
    one transformed row per raw event, the filtered-out count, and no
    ``Error:`` rows."""
    row = spark.sql(
        """
        SELECT
          (SELECT COUNT(*) FROM raw_events) AS raw_n,
          (SELECT COUNT(*) FROM transformed_events) AS tr_n,
          (SELECT COUNT(*) FROM raw_events r LEFT JOIN
             (SELECT raw_event_id, COUNT(*) AS c FROM transformed_events
              GROUP BY raw_event_id) t ON r.id = t.raw_event_id
           WHERE t.c IS NULL OR t.c <> 1) AS not_one,
          (SELECT COUNT(*) FROM transformed_events
           WHERE response_body = 'Filtered out by filter_query') AS filtered,
          (SELECT COUNT(*) FROM transformed_events
           WHERE response_body LIKE 'Error:%') AS errors
        """
    ).collect()[0]
    result.fail(
        f"raw_events has {row.raw_n} rows, expected {expected_raw}",
        abs(row.raw_n - expected_raw),
    )
    result.fail(
        f"transformed_events has {row.tr_n} rows for {row.raw_n} raw events",
        abs(row.tr_n - row.raw_n),
    )
    result.fail(f"{row.not_one} raw events without exactly one transformed row", row.not_one)
    result.fail(
        f"{row.filtered} filtered-out rows, expected {expected_filtered}",
        abs(row.filtered - expected_filtered),
    )
    result.fail(f"{row.errors} 'Error:' audit rows", row.errors)


def event_files(workdir: str) -> tuple[int, int]:
    """Parquet part files and bytes under the two audit tables."""
    n = size = 0
    for table in ("raw_events", "transformed_events"):
        for dirpath, _dirs, files in os.walk(os.path.join(workdir, table)):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(dirpath, f))
    return n, size
