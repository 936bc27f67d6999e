"""Stream drains: bulk ingest, then one ``run_available`` drain, repeated.

Closed loop, one bulk producer.  Drains alternate between 500 and 5,000
events.  Each drain's events go in with one ``StreamingGateway.ingest_many``
call per webhook, then ``run_available`` drains them.  Three webhooks, two
payload shapes each, all fingerprintable; one webhook (about 20% of
events) delivers to the real local receiver, the rest to the mocked
``example.com``.

:class:`Drains` holds the drains of ``gateway_mixed``; :func:`run` is
the ``stream_drain`` workload, which runs drains alone for ``--seconds``.
"""

from __future__ import annotations

import os
import time
from typing import Optional

import datagen as dg
from harness import (
    Context, Receiver, Result, audit_checks, event_files, jvm_peak_rss_mb,
    spoil, check_deliveries, start_spark, stop_spark,
)
from spans import Tracer, attach_stream_progress, median

# warm-up drains, in set-up: the first drains pay class loading, code
# generation and Python worker start that a long-running gateway pays once
WARMUP_SIZES = (500,)
PHASES = ("queryPlanning", "latestOffset", "getBatch", "walCommit",
          "commitOffsets", "addBatch")


class Drains:
    """A streaming gateway in its own Spark session (own temp views, so
    its audit tables never shadow another gateway's in the same
    process), and the drains run against it."""

    def __init__(self, spark, workdir: str, receiver_url: str, seed: int):
        from duckdb_webhook_gateway_spark.engine import Gateway, WebhookConfig
        from duckdb_webhook_gateway_spark.streaming import StreamingGateway

        self.spark = spark.newSession()
        self.workdir = workdir
        self.seed = seed
        gw = Gateway(self.spark, workdir=workdir)
        gw.register_webhook(WebhookConfig(
            dg.ST_PLAIN, "http://example.com/plain",
            "SELECT id, amount FROM {{payload}}"))
        gw.register_webhook(WebhookConfig(
            dg.ST_FILTERED, "http://example.com/filtered",
            "SELECT id, amount + 1 AS next_amount FROM {{payload}}",
            filter_query=f"amount >= {dg.FILTER_THRESHOLD}"))
        gw.register_webhook(WebhookConfig(
            dg.ST_DELIVER, receiver_url, "SELECT id, amount FROM {{payload}}"))
        self.sg = StreamingGateway(gw)
        self.events = 0
        self.filtered = 0
        self.delivered: set[str] = set()
        self.times: dict[tuple[int, bool], list[float]] = {}  # (size, traced)
        self.ingest_ms: list[float] = []
        self.traced_ops: list[dict] = []
        self.tracer: Optional[Tracer] = None
        self.progress: Optional[list[dict]] = None
        self.warmup_s: list[float] = []

    def warm_up(self, result: Result) -> "Drains":
        for i, size in enumerate(WARMUP_SIZES):
            t = time.perf_counter()
            self._ingest(dg.stream_drain(self.seed, 10_000 + i, size), result)
            self.sg.run_available()
            self.warmup_s.append(time.perf_counter() - t)
        return self

    def trace(self, tracer: Tracer) -> None:
        from duckdb_webhook_gateway_spark.engine import store
        from duckdb_webhook_gateway_spark.streaming import webhook_source

        self.tracer = tracer
        self.progress = attach_stream_progress(self.spark)
        for owner, attr, name in (
            (webhook_source.StreamingGateway, "process_batch", "webhook_source.process_batch"),
            (store.TableStore, "append_events_df", "store.append_events_df"),
        ):
            tracer.wrap(owner, attr, name)

    def _ingest(self, drain: dg.Drain, result: Result) -> None:
        t = time.perf_counter()
        for path in dg.ST_PATHS:
            if drain.by_path[path]:
                self.sg.ingest_many(path, drain.by_path[path])
        self.ingest_ms.append((time.perf_counter() - t) * 1e3)
        self.events += drain.size
        self.filtered += drain.filtered()
        self.delivered.update(drain.delivered_ids())
        result.attempted += drain.size

    def drain(self, index: int, traced: bool, result: Result) -> None:
        """Ingest and drain the ``index``-th drain; sizes alternate."""
        size = dg.DRAIN_SIZES[index % 2]
        self._ingest(dg.stream_drain(self.seed, index, size), result)
        self.spark.sparkContext._jvm.System.gc()
        if traced:
            files0, bytes0 = event_files(self.workdir)
            self.tracer.flush_listeners()  # earlier progress arrives late
            n_prog = len(self.progress)
        try:
            if traced:
                with self.tracer.op(f"drain{size}") as op:
                    t = time.perf_counter()
                    self.sg.run_available()
                    dt = time.perf_counter() - t
            else:
                t = time.perf_counter()
                self.sg.run_available()
                dt = time.perf_counter() - t
        except Exception as e:  # a failed drain: every event in it
            result.fail(f"drain {index} raised {type(e).__name__}: {e}", size)
            return
        self.times.setdefault((size, traced), []).append(dt)
        if traced:
            files1, bytes1 = event_files(self.workdir)
            op.update(progress=self.progress[n_prog:], files=files1 - files0,
                      bytes=bytes1 - bytes0, size=size, drain_s=dt)
            self.traced_ops.append(op)

    def stamp(self, result: Result) -> None:
        result.info["warmup_drains_s"] = self.warmup_s
        result.info["drains_s"] = {f"{s}{'-traced' if tr else ''}": v
                                   for (s, tr), v in self.times.items()}

    def medians_ms(self, traced: bool) -> dict[int, float]:
        return {s: median(self.times.get((s, traced), [])) * 1e3 for s in dg.DRAIN_SIZES}

    def check(self, result: Result) -> set[str]:
        """Audit checks; returns the ids the receiver should hold."""
        audit_checks(result, self.spark, self.events, self.filtered)
        return set(self.delivered)

    def report(self, result: Result) -> None:
        d500 = self.times.get((500, False), [])
        d5000 = self.times.get((5000, False), [])
        busy = sum(d500) + sum(d5000)
        result.named.update({
            "stream_events_per_s": ((500 * len(d500) + 5000 * len(d5000)) / busy if busy else 0.0, "1/s"),
            "drain_500_s": (median(d500), "s"),
            "drain_5000_s": (median(d5000), "s"),
            "drains_timed": (float(len(d500) + len(d5000)), "count"),
        })

    def layers(self, result: Result) -> None:
        L = result.per_layer
        spans = self.tracer.spans
        for size in dg.DRAIN_SIZES:
            ops = [o for o in self.traced_ops if o["size"] == size]
            ids = {o["id"] for o in ops}
            sfx = f".{size}"

            def med(f):
                return median([f(o) for o in ops])

            def phase(o, ph):
                return sum(p["durationMs"].get(ph, 0) for p in o["progress"])

            for ph in PHASES:
                L[f"stream.{ph}_ms{sfx}"] = (med(lambda o: phase(o, ph)), "ms")
            L[f"stream.drain_outside_trigger_s{sfx}"] = (
                med(lambda o: o["drain_s"] - phase(o, "triggerExecution") / 1e3), "s")
            L[f"stream.micro_batches_per_drain{sfx}"] = (
                med(lambda o: sum(1 for p in o["progress"] if p["numInputRows"] > 0)), "count")
            L[f"spark.jobs_per_drain{sfx}"] = (med(lambda o: o["jobs"]), "count")
            L[f"spark.tasks_per_drain{sfx}"] = (med(lambda o: o["tasks"]), "count")
            L[f"store.files_per_drain{sfx}"] = (med(lambda o: o["files"]), "count")
            L[f"store.bytes_per_event{sfx}"] = (med(lambda o: o["bytes"] / size), "B")
            L[f"webhook_source.process_batch_s{sfx}"] = (median([
                sp["end"] - sp["start"] for sp in spans
                if sp["name"] == "webhook_source.process_batch" and sp["op"] in ids
            ]), "s")
        L["webhook_source.ingest_many_ms"] = (median(self.ingest_ms), "ms")


def run(ctx: Context) -> Result:
    result = Result()
    receiver = Receiver(ctx.work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark("perfbench-stream")
        drains = Drains(spark, os.path.join(ctx.work, "store"), receiver.url,
                        ctx.seed).warm_up(result)
        result.setup_s = time.perf_counter() - t0

        tracer = Tracer(spark) if ctx.trace else None
        if tracer:
            drains.trace(tracer)
        deadline = time.perf_counter() + ctx.seconds
        # whole pairs only, so both sizes have the same number of samples;
        # a traced run traces every other pair and needs two at least
        min_drains = 4 if tracer else 2
        i = 0
        while i < min_drains or i % 2 == 1 or time.perf_counter() < deadline:
            drains.drain(i, traced=tracer is not None and (i // 2) % 2 == 1, result=result)
            i += 1

        drains.report(result)
        untraced = drains.medians_ms(False)
        result.light_op_ms, result.heavy_op_ms = untraced[500], untraced[5000]
        result.bulk_op_ms = sum(untraced.values()) / 2
        if tracer:
            t = drains.medians_ms(True)
            result.traced = {"light_op_ms": t[500], "heavy_op_ms": t[5000],
                             "bulk_op_ms": sum(t.values()) / 2}
        result.peak_rss_mb = jvm_peak_rss_mb(spark)

        if tracer:
            tracer.restore()
        expected = drains.check(result)
        if ctx.corrupt == "delivered_id":
            spoil(expected)
        check_deliveries(result, receiver.ids(), expected)
        if tracer:
            drains.layers(result)
            tracer.dump(os.path.join(ctx.work, "trace.json"))
        drains.stamp(result)
    finally:
        if spark is not None:
            stop_spark(spark)
        receiver.stop()
    return result
