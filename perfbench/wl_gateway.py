"""gateway_mixed: per-event ingests interleaved with admin reads over HTTP.

Closed loop, one client.  ``Gateway.ingest`` is called in process (the
synchronous per-event path); the admin reads go over HTTP to an
in-process ``GatewayHTTPServer`` on 127.0.0.1.  About three events come
before each read, so reads scan what the writes leave behind.  Stream
drains (``wl_stream.Drains``) run between slices of the events and
reads, against a second gateway in its own Spark session.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from typing import Any

import datagen as dg
from harness import (
    Context, Receiver, Result, audit_checks, check_deliveries, event_files,
    jvm_peak_rss_mb, spoil, start_spark, stop_spark,
)
from spans import Tracer, median, pct
from wl_stream import Drains

UDF_CODE = "def score(x) -> int:\n    return int(x) * 3 + 1\n"


class Live:
    """One fully set-up gateway: store, webhooks, server."""

    def __init__(self, spark, workdir: str, plan: dg.GatewayPlan, receiver_url: str):
        from duckdb_webhook_gateway_spark.api import GatewayHTTPServer
        from duckdb_webhook_gateway_spark.engine import Gateway, WebhookConfig
        from duckdb_webhook_gateway_spark.engine.reference_tables import ref_table_name
        from duckdb_webhook_gateway_spark.engine.udfs import udf_full_name

        self.gw = gw = Gateway(spark, workdir=workdir)
        self.workdir = workdir
        ids: dict[str, str] = {}

        def reg(path, dest, transform, flt=None):
            ids[path] = gw.register_webhook(
                WebhookConfig(path, dest, transform, filter_query=flt)
            )["id"]

        reg(dg.GW_PLAIN, "http://example.com/plain",
            "SELECT id, amount, region FROM {{payload}}")
        reg(dg.GW_FILTERED, receiver_url,
            "SELECT id, amount * 2 AS doubled FROM {{payload}}",
            f"amount >= {dg.FILTER_THRESHOLD}")
        # the reference table and the UDF are named after their webhook id,
        # so those two webhooks are registered first and updated after
        reg(dg.GW_ENRICH, "http://example.com/enrich",
            "SELECT id FROM {{payload}}")
        reg(dg.GW_UDF, "http://example.com/udf", "SELECT id FROM {{payload}}")
        ref = ref_table_name(ids[dg.GW_ENRICH], "regions")
        gw.ref_tables.upload(
            ids[dg.GW_ENRICH], "regions", spark.createDataFrame(plan.ref_rows)
        )
        reg(dg.GW_ENRICH, "http://example.com/enrich",
            f"SELECT p.id, p.amount, r.label FROM {{{{payload}}}} p "
            f"JOIN {ref} r ON p.region = r.region")
        gw.udfs.register(ids[dg.GW_UDF], "score", UDF_CODE)
        udf = udf_full_name(ids[dg.GW_UDF], "score")
        reg(dg.GW_UDF, "http://example.com/udf",
            f"SELECT id, {udf}(amount) AS score FROM {{{{payload}}}}")
        self.ids = ids
        self.path_of = {v: k for k, v in ids.items()}
        # ~30 days of audit history, one file per day per table
        gw.store.append_events("raw_events", plan.history_raw)
        gw.store.append_events(
            "transformed_events",
            [dict(r, webhook_id=ids[r["webhook_id"]]) for r in plan.history_transformed],
        )
        self.server = GatewayHTTPServer(gw, host="127.0.0.1", port=0).start()
        self.base = f"http://127.0.0.1:{self.server.port}"
        self.key = self.server.api_key
        self.raw_ids: list[str] = []

    def http(self, method: str, path: str, body: Any = None) -> Any:
        data = None if body is None else json.dumps(body).encode()
        req = urllib.request.Request(
            self.base + path, data=data, method=method,
            headers={"X-API-Key": self.key, "Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=120) as resp:
            return json.loads(resp.read())

    def ingest(self, ev: dg.GatewayEvent, truth: dg.GatewayTruth, result: Result) -> None:
        out = self.gw.ingest(ev.path, ev.payload)
        self.raw_ids.append(out.raw_event_id)
        truth.add(ev)
        gated = ev.path == dg.GW_FILTERED and not ev.passes_filter
        if out.filtered_out != gated:
            result.fail(f"event {ev.row_ids[0]}: filtered_out={out.filtered_out}")
        elif not gated and not (out.delivery and out.delivery.success):
            result.fail(f"event {ev.row_ids[0]}: delivery did not succeed")

    def read(self, kind: str, arg: Any, truth: dg.GatewayTruth) -> tuple[Any, Any]:
        """Issue one admin read; returns (response, expected) for checking."""
        if kind == "stats":
            return self.http("GET", "/stats"), None
        if kind == "query":
            return self.http("POST", "/query", {"query": arg}), truth.query_truth(arg)
        if kind == "events":
            return self.http("GET", "/events?limit=50"), self.raw_ids[-1]
        rid = self.raw_ids[int(arg * len(self.raw_ids))]
        return self.http("GET", f"/event/{rid}/transformed"), rid

    def check_read(self, kind: str, resp: Any, expected: Any, truth: dg.GatewayTruth) -> bool:
        if kind == "stats":
            per = {
                self.path_of.get(r["webhook_id"]): (r["total"], r["successes"])
                for r in resp["per_webhook"]
            }
            want = {p: (truth.tr_by_path[p], truth.ok_by_path[p]) for p in dg.GW_PATHS}
            return (
                resp["webhooks"] == len(dg.GW_PATHS)
                and resp["raw_events"] == truth.raw_total
                and resp["transformed_events"] == truth.tr_total
                and per == want
            )
        if kind == "query":
            return resp.get("result") == expected
        if kind == "events":
            evs = resp["events"]
            return len(evs) == 50 and evs[0]["raw_event_id"] == expected
        t = resp.get("transformed") or {}
        return resp.get("id") == expected and t.get("webhook_id") in self.path_of

    def close(self) -> None:
        self.server.stop()


def _instrument(tracer: Tracer) -> None:
    from duckdb_webhook_gateway_spark.api import server
    from duckdb_webhook_gateway_spark.engine import (
        audit, catalog, executors, pipeline, store, udfs,
    )

    for owner, attr, name in (
        (catalog.WebhookCatalog, "get_by_path", "catalog.get_by_path"),
        (audit.AuditLog, "log_raw_event", "audit.log_raw_event"),
        (audit.AuditLog, "log_transformed_event", "audit.log_transformed_event"),
        (store.TableStore, "append_events", "store.append_events"),
        (udfs.UdfManager, "load_webhook_udfs", "udfs.load_webhook_udfs"),
        # imported by name into pipeline / executors: patch the caller's
        (pipeline, "execute_event", "executors.execute_event"),
        (executors, "payload_to_df", "executors.payload_to_df"),
        (executors, "shape_result", "results.shape_result"),
        (pipeline, "deliver", "delivery.deliver"),
        (pipeline.Gateway, "process_event", "pipeline.process_event"),
        (pipeline.Gateway, "stats", "pipeline.stats"),
        (pipeline.Gateway, "recent_events", "pipeline.recent_events"),
        (pipeline.Gateway, "event_detail", "pipeline.event_detail"),
        (server, "run_adhoc_query", "query_gateway.run_adhoc_query"),
    ):
        tracer.wrap(owner, attr, name)


_ENGINE_READ_SPANS = (
    "pipeline.stats", "pipeline.recent_events", "pipeline.event_detail",
    "query_gateway.run_adhoc_query",
)


def run(ctx: Context) -> Result:
    result = Result()
    plan = dg.gateway_plan(ctx.seed)
    receiver = Receiver(ctx.work)
    spark = None
    live = None
    try:
        # set-up: session start, the store build (store, webhooks,
        # reference table, UDF, history preload, HTTP server), warm-up.
        # The drains' streaming gateway is built and warmed up in a second
        # thread meanwhile.
        t0 = time.perf_counter()
        spark = start_spark("perfbench-gateway")
        session_s = time.perf_counter() - t0
        stream_setup = _Background(
            lambda res: Drains(spark, os.path.join(ctx.work, "stream"), receiver.url,
                               ctx.seed).warm_up(res))
        t = time.perf_counter()
        live = Live(spark, os.path.join(ctx.work, "store"), plan, receiver.url)
        build_s = time.perf_counter() - t
        t = time.perf_counter()
        truth = dg.GatewayTruth(plan)
        for ev in plan.warmup:
            live.ingest(ev, truth, result)
            result.attempted += 1
        for kind, arg in (("stats", None), ("query", dg.QUERY_TEXTS[1]),
                          ("events", None), ("detail", 0.5)):
            resp, want = live.read(kind, arg, truth)
            result.attempted += 1
            if not live.check_read(kind, resp, want, truth):
                result.fail(f"warm-up read {kind} returned a wrong answer")
        warm_s = time.perf_counter() - t
        drains = stream_setup.join(result)
        result.setup_s = time.perf_counter() - t0
        result.info.update(session_start_s=session_s, store_build_s=build_s, warmup_s=warm_s)

        tracer = Tracer(spark) if ctx.trace else None
        if tracer:
            _instrument(tracer)
            drains.trace(tracer)
        files0, bytes0 = event_files(live.workdir)
        # (op type, ms) per op: the type is the webhook path of an event,
        # the read kind of a read; keyed by whether the op was traced
        ev: dict[bool, list[tuple[str, float]]] = {False: [], True: []}
        rd: dict[bool, list[tuple[str, float]]] = {False: [], True: []}
        read_lat: list[tuple[dict, float]] = []
        n_events = 0
        seen: dict[str, int] = {}
        ops = iter(plan.ops)
        # The timed phase: --seconds of events and reads, cut into slices
        # with one drain between two slices (500 and 5,000 events in
        # turn; a traced run adds a second, traced pair).  Spreading every
        # metric's samples over the whole phase keeps a stretch of slow
        # host from landing on one metric alone.
        n_drains = 4 if tracer else 2
        slice_s = ctx.seconds / (n_drains + 1)
        t_timed = time.perf_counter()
        slice_ends: list[tuple[int, int]] = []
        for sl in range(n_drains + 1):
            if sl:
                drains.drain(sl - 1, traced=sl > 2, result=result)
            deadline = time.perf_counter() + slice_s
            for kind, arg in ops:
                op_type = arg.path if kind == "event" else arg[0]
                # traced runs trace every other op of each type: the
                # untraced half is the baseline for the tracing overhead
                traced = tracer is not None and seen.get(op_type, 0) % 2 == 1
                seen[op_type] = seen.get(op_type, 0) + 1
                result.attempted += 1
                try:
                    if traced:
                        with tracer.op(kind) as op:
                            t = time.perf_counter()
                            out = _do(live, kind, arg, truth, result)
                            dt = time.perf_counter() - t
                    else:
                        t = time.perf_counter()
                        out = _do(live, kind, arg, truth, result)
                        dt = time.perf_counter() - t
                except Exception as e:  # the op failed; count it and go on
                    result.fail(f"{kind} raised {type(e).__name__}: {e}")
                else:
                    if kind == "event":
                        n_events += 1
                        ev[traced].append((op_type, dt * 1e3))
                    else:
                        rd[traced].append((op_type, dt * 1e3))
                        if traced:
                            read_lat.append((op, dt))
                        resp, want = out
                        if not live.check_read(op_type, resp, want, truth):
                            result.fail(f"read {op_type} returned a wrong answer")
                if time.perf_counter() >= deadline:
                    break
            slice_ends.append((len(ev[False]), len(rd[False])))
        files1, bytes1 = event_files(live.workdir)
        result.info["timed_phase_s"] = time.perf_counter() - t_timed

        # a traced run reports its untraced half as the run's numbers and
        # the traced half next to it
        _report(result, ev[False], rd[False])
        drains.report(result)
        result.bulk_op_ms = _drain_ms(drains.medians_ms(False))
        if tracer:
            result.traced = {
                "light_op_ms": type_mean_of_medians(ev[True]),
                "heavy_op_ms": type_mean_of_medians(rd[True]),
                "bulk_op_ms": _drain_ms(drains.medians_ms(True)),
            }
        result.peak_rss_mb = jvm_peak_rss_mb(spark)

        # end-of-run output checks (not timed)
        if tracer:
            tracer.restore()
        expected = set(truth.delivered_ids) | drains.check(result)
        if ctx.corrupt == "delivered_id":
            spoil(expected)
        audit_checks(result, spark, truth.raw_total, truth.filtered)
        check_deliveries(result, receiver.ids(), expected)
        if tracer:
            _layers(result, tracer, read_lat, n_events, files1 - files0, bytes1 - bytes0, files1)
            drains.layers(result)
            tracer.dump(os.path.join(ctx.work, "trace.json"))
        drains.stamp(result)
        result.info["samples_ms"] = {"events": ev[False], "reads": rd[False]}
        result.info["slice_ends"] = slice_ends
        result.info["events"] = n_events
        result.info["reads"] = len(rd[False]) + len(rd[True])
    finally:
        if live is not None:
            live.close()
        if spark is not None:
            stop_spark(spark)
        receiver.stop()
    return result


class _Background:
    """``fn(result)`` in a thread of its own, with a result of its own."""

    def __init__(self, fn):
        self.result = Result()
        self.value = self.error = None

        def body():
            try:
                self.value = fn(self.result)
            except BaseException as e:  # re-raised by join
                self.error = e

        self.thread = threading.Thread(target=body, daemon=True)
        self.thread.start()

    def join(self, into: Result):
        self.thread.join()
        if self.error is not None:
            raise self.error
        into.attempted += self.result.attempted
        for f in self.result.failures:
            into.fail(f)
        return self.value


def _do(live: Live, kind: str, arg: Any, truth: dg.GatewayTruth, result: Result):
    if kind == "event":
        live.ingest(arg, truth, result)
        return None
    return live.read(*arg, truth)


def _drain_ms(medians: dict[int, float]) -> float:
    """The 500- and 5,000-event drain medians, averaged."""
    return sum(medians.values()) / len(medians)


def type_mean_of_medians(samples: list[tuple[str, float]]) -> float:
    """The median latency of each op type, averaged over the types.

    Steadier than one median over all ops: the types differ several-fold
    in cost, and a pooled median sits in whichever type holds the middle
    sample, so it jumps when a run's mix shifts by a few ops."""
    by_type: dict[str, list[float]] = {}
    for op_type, ms in samples:
        by_type.setdefault(op_type, []).append(ms)
    if not by_type:
        return 0.0
    return sum(median(v) for v in by_type.values()) / len(by_type)


def _report(result: Result, ev: list[tuple[str, float]], rd: list[tuple[str, float]]) -> None:
    result.light_op_ms = type_mean_of_medians(ev)
    result.heavy_op_ms = type_mean_of_medians(rd)
    events = [ms for _, ms in ev]
    reads = [ms for _, ms in rd]
    result.named.update({
        "event_p50_ms": (median(events), "ms"),
        "event_p95_ms": (pct(events, 95), "ms"),
        "read_p50_ms": (median(reads), "ms"),
        "read_p90_ms": (pct(reads, 90), "ms"),
        "events_timed": (float(len(events)), "count"),
        "reads_timed": (float(len(reads)), "count"),
    })


def _layers(result: Result, tracer: Tracer, read_lat, n_events: int, d_files: int, d_bytes: int, files_end: int) -> None:
    L = result.per_layer
    ms = lambda v: v * 1e3  # noqa: E731

    def p50(name, self_time=False, kind="event"):
        return ms(median(tracer.durations(name, kind, self_time)))

    L["catalog.get_by_path_ms"] = (p50("catalog.get_by_path"), "ms")
    raw = tracer.durations("audit.log_raw_event", "event")
    L["audit.log_raw_event_ms"] = (ms(median(raw)), "ms")
    L["audit.log_raw_event_p95_ms"] = (ms(pct(raw, 95)), "ms")
    L["audit.log_transformed_event_ms"] = (p50("audit.log_transformed_event"), "ms")
    L["udfs.load_webhook_udfs_ms"] = (p50("udfs.load_webhook_udfs"), "ms")
    L["executors.payload_to_df_ms"] = (p50("executors.payload_to_df"), "ms")
    ex_self = tracer.durations("executors.execute_event", "event", self_time=True)
    L["executors.execute_event_self_ms"] = (ms(median(ex_self)), "ms")
    L["executors.execute_event_self_p95_ms"] = (ms(pct(ex_self, 95)), "ms")
    L["results.shape_result_ms"] = (p50("results.shape_result"), "ms")
    L["delivery.deliver_ms"] = (p50("delivery.deliver"), "ms")
    L["pipeline.process_event_self_ms"] = (p50("pipeline.process_event", True), "ms")
    ev_ops = [o for o in tracer.ops if o["kind"] == "event" and "jobs" in o]
    rd_ops = [o for o in tracer.ops if o["kind"] == "read" and "jobs" in o]
    L["spark.jobs_per_event"] = (_mean([o["jobs"] for o in ev_ops]), "count")
    L["spark.tasks_per_event"] = (_mean([o["tasks"] for o in ev_ops]), "count")
    L["store.files_per_event"] = (d_files / max(n_events, 1), "count")
    L["store.bytes_per_event"] = (d_bytes / max(n_events, 1), "B")
    L["store.event_files_end"] = (float(files_end), "count")
    L["query_gateway.run_adhoc_query_ms"] = (p50("query_gateway.run_adhoc_query", kind="read"), "ms")
    L["pipeline.stats_ms"] = (p50("pipeline.stats", kind="read"), "ms")
    L["pipeline.recent_events_ms"] = (p50("pipeline.recent_events", kind="read"), "ms")
    L["pipeline.event_detail_ms"] = (p50("pipeline.event_detail", kind="read"), "ms")
    # HTTP latency minus the engine call the handler made
    over = []
    for op, dt in read_lat:
        # the handler thread has no open span, so its engine call is a
        # direct child of the op
        engine = sum(
            sp["end"] - sp["start"] for sp in tracer.spans
            if sp["parent"] == op["span"] and sp["name"] in _ENGINE_READ_SPANS
        )
        over.append(dt - engine)
    L["api.read_overhead_ms"] = (ms(median(over)), "ms")
    L["spark.jobs_per_read"] = (_mean([o["jobs"] for o in rd_ops]), "count")
    L["spark.tasks_per_read"] = (_mean([o["tasks"] for o in rd_ops]), "count")


def _mean(xs: list[float]) -> float:
    return float(sum(xs)) / len(xs) if xs else 0.0
