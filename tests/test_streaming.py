"""Streaming micro-batch pipeline: same semantics as the synchronous path,
batched audit writes, exactly-once via checkpoint."""

from __future__ import annotations

import json

from duckdb_webhook_gateway_spark.engine import WebhookConfig
from duckdb_webhook_gateway_spark.engine.audit import FILTERED_OUT_BODY
from duckdb_webhook_gateway_spark.streaming import StreamingGateway


def _register(gateway):
    return gateway.register_webhook(
        WebhookConfig(
            source_path="/stream",
            destination_url="http://example.com/sink",
            transform_query=(
                "SELECT kind, value * 2 AS doubled FROM {{payload}}"
            ),
            filter_query="kind <> 'drop'",
        )
    )


def test_streaming_end_to_end(gateway, spark):
    _register(gateway)
    sg = StreamingGateway(gateway)
    ids = [
        sg.ingest("/stream", {"kind": "a", "value": 1}),
        sg.ingest("/stream", {"kind": "drop", "value": 2}),
        sg.ingest("/stream", {"kind": "b", "value": 3}),
        sg.ingest("/unknown-path", {"kind": "c", "value": 4}),
    ]
    sg.run_available()

    raw = {r.id: r for r in spark.sql("SELECT * FROM raw_events").collect()}
    assert set(raw) == set(ids)

    tr = {
        r.raw_event_id: r
        for r in spark.sql("SELECT * FROM transformed_events").collect()
    }
    assert set(tr) == set(ids[:3])  # unknown path: raw-logged only
    assert json.loads(tr[ids[0]].transformed_payload) == {"kind": "a", "doubled": 2}
    assert tr[ids[1]].success is False
    assert FILTERED_OUT_BODY in tr[ids[1]].response_body
    assert json.loads(tr[ids[2]].transformed_payload) == {"kind": "b", "doubled": 6}


def test_streaming_exactly_once(gateway, spark):
    _register(gateway)
    sg = StreamingGateway(gateway)
    sg.ingest("/stream", {"kind": "x", "value": 10})
    sg.run_available()
    # Re-running the drain must not reprocess the already-checkpointed file.
    sg.run_available()
    assert spark.sql("SELECT count(*) AS n FROM raw_events").first().n == 1
    assert spark.sql("SELECT count(*) AS n FROM transformed_events").first().n == 1
    # New events still flow.
    sg.ingest("/stream", {"kind": "y", "value": 20})
    sg.run_available()
    assert spark.sql("SELECT count(*) AS n FROM raw_events").first().n == 2


def test_vectorized_batch_preserves_per_event_semantics(gateway, spark):
    """Aggregate transforms must aggregate WITHIN each event, not across
    the batch — the LATERAL rewrite's key property."""
    gateway.register_webhook(
        WebhookConfig(
            source_path="/agg",
            destination_url="http://example.com/sink",
            transform_query=(
                "SELECT count(*) AS n, sum(x) AS total FROM {{payload}}"
            ),
        )
    )
    sg = StreamingGateway(gateway)
    ids = [
        sg.ingest("/agg", [{"x": 1}, {"x": 2}]),        # 2 rows -> n=2, total=3
        sg.ingest("/agg", [{"x": 10}, {"x": 20}, {"x": 30}]),  # n=3, total=60
        sg.ingest("/agg", {"x": 7}),                     # 1 row -> n=1, total=7
    ]
    sg.run_available()
    tr = {
        r.raw_event_id: json.loads(r.transformed_payload)
        for r in spark.sql("SELECT * FROM transformed_events").collect()
    }
    assert tr[ids[0]] == {"n": 2, "total": 3}
    assert tr[ids[1]] == {"n": 3, "total": 60}
    assert tr[ids[2]] == {"n": 1, "total": 7}


def test_mixed_shapes_fall_back_cleanly(gateway, spark):
    gateway.register_webhook(
        WebhookConfig(
            source_path="/mix",
            destination_url="http://example.com/sink",
            transform_query="SELECT a FROM {{payload}}",
        )
    )
    sg = StreamingGateway(gateway)
    ids = [
        sg.ingest("/mix", {"a": 1}),
        sg.ingest("/mix", {"a": 2}),
        sg.ingest("/mix", {"a": "str", "b": True}),  # different shape group
    ]
    sg.run_available()
    tr = {
        r.raw_event_id: json.loads(r.transformed_payload)
        for r in spark.sql("SELECT * FROM transformed_events").collect()
    }
    assert tr[ids[0]] == {"a": 1}
    assert tr[ids[2]] == {"a": "str"}


def test_vectorized_empty_result_shapes_to_empty_dict(gateway, spark):
    gateway.register_webhook(
        WebhookConfig(
            source_path="/empty",
            destination_url="http://example.com/sink",
            transform_query="SELECT a FROM {{payload}} WHERE a > 100",
        )
    )
    sg = StreamingGateway(gateway)
    ids = [sg.ingest("/empty", {"a": 1}), sg.ingest("/empty", {"a": 200})]
    sg.run_available()
    tr = {
        r.raw_event_id: json.loads(r.transformed_payload)
        for r in spark.sql("SELECT * FROM transformed_events").collect()
    }
    assert tr[ids[0]] == {}
    assert tr[ids[1]] == {"a": 200}


def test_batch_throughput_smoke(gateway, spark):
    """100 uniform events must process via the vectorized path in well
    under the per-event pace (100 × ~0.6 s would be a minute)."""
    import time

    gateway.register_webhook(
        WebhookConfig(
            source_path="/tp",
            destination_url="http://example.com/sink",
            transform_query="SELECT i, i + 1 AS nxt FROM {{payload}}",
        )
    )
    sg = StreamingGateway(gateway)
    for i in range(100):
        sg.ingest("/tp", {"i": i})
    t0 = time.perf_counter()
    sg.run_available()
    elapsed = time.perf_counter() - t0
    assert spark.sql("SELECT count(*) AS n FROM transformed_events").first().n == 100
    assert elapsed < 30, f"batch of 100 took {elapsed:.1f}s — vectorized path regressed"


def test_no_payload_bearing_collect_in_micro_batch(gateway, spark, monkeypatch):
    """The micro-batch path must never collect payload bodies to the
    driver: shape fingerprints are computed executor-side, the raw-event
    append is a distributed write, and each group's payload relation is
    stood up with the replay re-tag pattern.  Spy on every
    DataFrame.collect during a uniform batch (the main path) and assert
    none of the collected frames carries a payload column — only
    metadata (ids, shapes, filter-gate ids) and transform results."""
    _register(gateway)
    sg = StreamingGateway(gateway)
    for i in range(12):
        sg.ingest("/stream", {"kind": f"k{i}", "value": i})

    # Spark 4: the classic DataFrame subclass overrides collect, so the
    # spy must patch the concrete class, not the abstract base.
    try:
        from pyspark.sql.classic.dataframe import DataFrame as DF
    except ImportError:  # older layouts: one concrete class
        from pyspark.sql import DataFrame as DF

    orig = DF.collect
    seen: list[tuple[str, ...]] = []

    def spy(self):
        seen.append(tuple(self.columns))
        return orig(self)

    monkeypatch.setattr(DF, "collect", spy)
    try:
        sg.run_available()
    finally:
        monkeypatch.setattr(DF, "collect", orig)

    assert seen, "expected the micro-batch to run at least one collect"
    bad = [
        cols for cols in seen if {"payload_json", "payload"} & set(cols)
    ]
    assert bad == [], f"payload-bearing collects in micro-batch path: {bad}"
    # transform RESULTS stay distributed too (r5 item): the shaped
    # delivery bodies and their audit rows are built + delivered + written
    # executor-side, so no collected frame may carry the transform's
    # output columns or the audit payload column
    bad_res = [
        cols
        for cols in seen
        if {"doubled", "transformed_payload", "__role", "__corr_id"}
        & set(cols)
    ]
    assert bad_res == [], f"result-bearing collects in micro-batch: {bad_res}"
    n = spark.sql("SELECT count(*) AS n FROM transformed_events").first().n
    assert n == 12


def test_exotic_shape_fallback_still_processes(gateway, spark):
    """fp=None shapes (list with non-dict elements, __corr_id collisions)
    take the bounded per-event fallback and still produce audit rows."""
    gateway.register_webhook(
        WebhookConfig(
            source_path="/exotic",
            destination_url="http://example.com/sink",
            transform_query="SELECT a FROM {{payload}}",
        )
    )
    sg = StreamingGateway(gateway)
    ids = [
        sg.ingest("/exotic", {"a": 5, "__corr_id": "collides"}),
        sg.ingest("/exotic", {"a": 6}),
    ]
    sg.run_available()
    tr = {
        r.raw_event_id: json.loads(r.transformed_payload)
        for r in spark.sql("SELECT * FROM transformed_events").collect()
    }
    assert tr[ids[0]] == {"a": 5}
    assert tr[ids[1]] == {"a": 6}


def test_runtime_transform_failure_does_not_poison_batch(gateway, spark):
    """A transform that ANALYZES fine but fails at RUNTIME on one payload
    (here: a UDF raising on a specific value) must not wedge the batch.
    The distributed union write fails when the plan executes; the engine
    must isolate the failure — healthy groups still audit via their own
    keyed writes, the poisoned group reprocesses per-event, and the
    failing event gets an "Error: ..." row (the reference's contract,
    src/app.py:1232-1244) — then commit the batch so ingestion continues."""
    from duckdb_webhook_gateway_spark.engine.udfs import udf_full_name

    rec = gateway.register_webhook(
        WebhookConfig(
            source_path="/boom",
            destination_url="http://example.com/sink",
            transform_query="SELECT v FROM {{payload}}",
        )
    )
    wid = rec["id"]
    gateway.udfs.register(
        wid,
        "boom",
        "def boom(x: int) -> int:\n"
        "    if x == 13:\n"
        "        raise ValueError('unlucky payload')\n"
        "    return x * 10\n",
    )
    fn = udf_full_name(wid, "boom")
    gateway.catalog.update(
        wid,
        WebhookConfig(
            source_path="/boom",
            destination_url="http://example.com/sink",
            transform_query=f"SELECT {fn}(v) AS out FROM {{{{payload}}}}",
        ),
    )
    # healthy sibling group in the same batch
    gateway.register_webhook(
        WebhookConfig(
            source_path="/fine",
            destination_url="http://example.com/sink",
            transform_query="SELECT a AS kept FROM {{payload}}",
        )
    )
    sg = StreamingGateway(gateway)
    ids = [
        sg.ingest("/boom", {"v": 1}),
        sg.ingest("/boom", {"v": 13}),  # raises inside the UDF at runtime
        sg.ingest("/boom", {"v": 2}),
        sg.ingest("/fine", {"a": 7}),
    ]
    sg.run_available()

    tr = {
        r.raw_event_id: r
        for r in spark.sql("SELECT * FROM transformed_events").collect()
    }
    assert set(tr) == set(ids)  # every event audited exactly once
    assert json.loads(tr[ids[0]].transformed_payload) == {"out": 10}
    assert json.loads(tr[ids[2]].transformed_payload) == {"out": 20}
    assert json.loads(tr[ids[3]].transformed_payload) == {"kept": 7}
    bad = tr[ids[1]]
    assert bad.success is False
    assert bad.response_body is not None and bad.response_body.startswith(
        "Error:"
    )
    # batch committed: a re-drain must not duplicate or reprocess
    sg.run_available()
    n = spark.sql(
        "SELECT count(*) AS n FROM transformed_events"
    ).first().n
    assert n == 4
    # ingestion is not wedged: new events still flow
    new_id_ = sg.ingest("/fine", {"a": 8})
    sg.run_available()
    tr2 = {
        r.raw_event_id: json.loads(r.transformed_payload)
        for r in spark.sql("SELECT * FROM transformed_events").collect()
    }
    assert tr2[new_id_] == {"kept": 8}


def test_ingest_many_bulk_file(gateway, spark):
    """ingest_many lands N events as ONE json-lines file with the same
    processing semantics — the bulk path that sidesteps the file source's
    per-file fixed cost (measured ~200 ev/s as one-event files vs ~550
    as 500-event files for the same 5k drain)."""
    import os

    _register(gateway)
    sg = StreamingGateway(gateway)
    ids = sg.ingest_many(
        "/stream", [{"kind": f"k{i}", "value": i} for i in range(8)]
    )
    assert len(ids) == len(set(ids)) == 8
    files = [f for f in os.listdir(sg.landing_dir) if not f.startswith(".")]
    assert len(files) == 1  # one landing file for the whole batch
    sg.run_available()
    tr = {
        r.raw_event_id: json.loads(r.transformed_payload)
        for r in spark.sql("SELECT * FROM transformed_events").collect()
    }
    assert set(tr) == set(ids)
    assert tr[ids[3]] == {"kind": "k3", "doubled": 6}
    assert sg.ingest_many("/stream", []) == []  # empty batch: no file


def test_group_commit_coalesces_concurrent_ingests(gateway, spark):
    """With group_commit_window set, concurrent ingests share landing
    files (WAL group commit): every event is durable at ack time, all
    process exactly once, and the drain sees far fewer files than
    events."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    _register(gateway)
    sg = StreamingGateway(gateway, group_commit_window=0.02)
    N = 96
    with ThreadPoolExecutor(max_workers=16) as pool:
        ids = list(
            pool.map(
                lambda i: sg.ingest("/stream", {"kind": f"k{i}", "value": i}),
                range(N),
            )
        )
    assert len(set(ids)) == N
    files = [f for f in os.listdir(sg.landing_dir) if not f.startswith(".")]
    assert 0 < len(files) < N  # coalesced: fewer files than events
    sg.run_available()
    tr = {
        r.raw_event_id: json.loads(r.transformed_payload)
        for r in spark.sql("SELECT * FROM transformed_events").collect()
    }
    assert set(tr) == set(ids)
    assert tr[ids[10]] == {"kind": "k10", "doubled": 20}


def test_group_commit_flush_failure_propagates_and_recovers(gateway):
    """A failed shared-file write must raise in every waiter of that
    batch (their events are NOT durable — acking success would lie) and
    must not wedge the buffer: later ingests flush normally."""
    import os as _os

    from duckdb_webhook_gateway_spark.streaming.webhook_source import (
        _GroupCommit,
    )

    gc = _GroupCommit(gateway.workdir + "/landing-gc", window_s=0.01)
    _os.makedirs(gc.dir, exist_ok=True)
    real_rename = _os.rename
    boom = {"on": True}

    def flaky_rename(src, dst):
        if boom["on"] and gc.dir in str(dst):
            raise OSError("disk full")
        return real_rename(src, dst)

    _os.rename = flaky_rename
    try:
        import pytest as _pytest

        with _pytest.raises(OSError):
            gc.submit('{"event_id": "a"}')
        boom["on"] = False
        gc.submit('{"event_id": "b"}')  # buffer recovered
    finally:
        _os.rename = real_rename
    files = [f for f in _os.listdir(gc.dir) if not f.startswith(".")]
    assert len(files) == 1


def test_group_commit_ack_bounded_under_sustained_ingest(gateway):
    """Flushing runs on a dedicated daemon thread: no producer's ack may
    be held for the duration of a busy period (the earlier design
    drafted the first submitter as flusher and kept it while the buffer
    stayed non-empty — under sustained concurrent ingest that one HTTP
    thread was trapped until traffic stopped)."""
    import os as _os
    import threading
    import time as _time

    from duckdb_webhook_gateway_spark.streaming.webhook_source import (
        _GroupCommit,
    )

    gc = _GroupCommit(gateway.workdir + "/landing-gc2", window_s=0.01)
    _os.makedirs(gc.dir, exist_ok=True)
    stop = _time.time() + 2.0
    worst = {"lat": 0.0}
    lock = threading.Lock()

    def producer(i):
        n = 0
        while _time.time() < stop:
            t0 = _time.time()
            gc.submit('{"event_id": "%d-%d"}' % (i, n))
            lat = _time.time() - t0
            with lock:
                worst["lat"] = max(worst["lat"], lat)
            n += 1

    threads = [threading.Thread(target=producer, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    # sustained 2 s of overlapping traffic: every single ack stayed
    # bounded by ~window + one write (generous CI margin), nothing was
    # trapped for the busy period
    assert worst["lat"] < 1.0, worst
    assert gc._flusher is not None and gc._flusher.daemon


def test_schema_from_fingerprint_matches_real_inference(spark):
    """The fingerprint-derived StructType must equal what spark.read.json
    actually infers for payloads of that shape — bit-for-bit, or the
    derived-schema fast path would silently change vectorized-group
    semantics.  Shapes the parser cannot model exactly must return None
    (authoritative inference fallback), never a wrong schema."""
    from duckdb_webhook_gateway_spark.streaming.webhook_source import (
        _shape_fingerprint,
        schema_from_fingerprint,
    )

    payloads = [
        {"a": 1, "b": "x"},
        {"a": 1.5, "b": True},
        {"a": 1, "f": 2.5},
        {"n": {"x": 1, "y": {"z": "s"}}},
        {"l": [1, 2, 3]},
        {"l": [1, 2.5]},
        {"lod": [{"k": 1}, {"k": 2}]},
        {"m": None, "a": 3},
        [{"r": 1}, {"r": 2}],
        {"deep": [{"xs": [1, 2]}]},
        {"zz": "s", "aa": 1},  # alphabetical field canonicalization
        {"l": [1, None, 3]},
        {"dot.key": 1},  # separator-encoded paths keep dotted keys exact
    ]
    for p in payloads:
        fp = _shape_fingerprint(p)
        assert fp is not None, p
        derived = schema_from_fingerprint(fp)
        assert derived is not None, p
        recs = p if isinstance(p, list) else [p]
        inferred = spark.read.json(
            spark.sparkContext.parallelize(
                [json.dumps(r) for r in recs], 1
            )
        ).schema
        assert derived == inferred, (p, derived, inferred)

    # shapes the parser must refuse -> inference fallback, never a guess
    for p in [
        {"a": []},
        {"a": {}},
        {"big": 2**70},
        {"m": [1, "s"]},
        {"m": [1, {"k": 2}]},
    ]:
        fp = _shape_fingerprint(p)
        if fp is not None:
            assert schema_from_fingerprint(fp) is None, p


def test_batch_replay_is_idempotent(gateway, spark):
    """A replayed micro-batch (same batch_id) must not duplicate audit
    rows: the ledger skips committed batches, and batch-keyed file names
    make a partial retry overwrite its own earlier output."""
    _register(gateway)
    sg = StreamingGateway(gateway)
    sg.ingest("/stream", {"kind": "a", "value": 1})
    sg.ingest("/stream", {"kind": "b", "value": 2})
    sg.run_available()
    batch_df = spark.sql("SELECT 1").limit(0)  # unused when ledger skips

    n_raw = spark.sql("SELECT count(*) AS n FROM raw_events").first().n
    # Simulate Structured Streaming replaying batch 0 after a crash.
    sg.process_batch(batch_df, 0)
    assert spark.sql("SELECT count(*) AS n FROM raw_events").first().n == n_raw

    # Uncommitted replay (ledger wiped): the batch re-runs, but the
    # batch-keyed parquet overwrite keeps the audit row count identical.
    import os
    os.unlink(sg._ledger_path)
    from duckdb_webhook_gateway_spark.streaming.webhook_source import ENVELOPE_SCHEMA
    replay = spark.read.schema(ENVELOPE_SCHEMA).json(sg.landing_dir)
    sg.process_batch(replay, 0)
    assert spark.sql("SELECT count(*) AS n FROM raw_events").first().n == n_raw


def test_distributed_delivery_fanout(gateway, spark):
    """Above the threshold, deliveries run as a Spark job on executors;
    outcomes must land in the audit rows exactly like the serial path."""
    _register(gateway)
    sg = StreamingGateway(gateway)
    sg.DISTRIBUTED_DELIVERY_THRESHOLD = 1  # force the mapInPandas path
    for i in range(4):
        sg.ingest("/stream", {"kind": f"k{i}", "value": i})
    sg.run_available()
    rows = spark.sql(
        "SELECT success, response_code FROM transformed_events"
    ).collect()
    assert len(rows) == 4
    assert all(r.success and r.response_code == 200 for r in rows)


def test_replay_user_sessions_boundary_and_micro_precision(spark):
    """The stream/batch session-equivalence bridge (round 11): an event
    at EXACTLY last_ts + gap must MERGE into the open session (Spark
    merges while ts <= session_end; the DuckDB oracle mirrors with a
    strict ts - lag(ts) > gap break), session_end must equal
    last_ts + gap, and MICROSECOND timestamps must survive the JSON
    landing round-trip (the default JSON timestamp format truncates to
    milliseconds, which silently moves session bounds)."""
    import datetime as dt

    from duckdb_webhook_gateway_spark.streaming.aggregates import (
        replay_user_sessions,
    )

    rows = [
        (1, 10, dt.datetime(2026, 1, 1, 0, 0, 0, 123456)),
        (2, 10, dt.datetime(2026, 1, 1, 0, 10, 0)),
        # exactly gap after the previous event: still the same session
        (3, 10, dt.datetime(2026, 1, 1, 0, 40, 0)),
        # 1 microsecond past the gap from event 3's end: a NEW session
        (4, 10, dt.datetime(2026, 1, 1, 1, 10, 0, 1)),
        (5, 20, dt.datetime(2026, 1, 1, 0, 0, 0)),
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts timestamp_ntz"
    )
    got = sorted(
        map(tuple, replay_user_sessions(spark, ev, gap="30 minutes").collect())
    )
    assert got == [
        (
            dt.datetime(2026, 1, 1, 0, 0, 0),
            dt.datetime(2026, 1, 1, 0, 30, 0),
            20,
            1,
        ),
        (
            dt.datetime(2026, 1, 1, 0, 0, 0, 123456),
            dt.datetime(2026, 1, 1, 1, 10, 0),
            10,
            3,
        ),
        (
            dt.datetime(2026, 1, 1, 1, 10, 0, 1),
            dt.datetime(2026, 1, 1, 1, 40, 0, 1),
            10,
            1,
        ),
    ]


def test_replay_dedup_daily_users_state_and_null_contract(spark):
    """The stream/batch DEDUP-equivalence bridge (round 11): planted
    duplicate (user, type, day) triples must collapse in the native
    dropDuplicates state store no matter how many raw events carry
    them, the same user must still count once per DISTINCT day/type,
    and rows with NULL key components must be EXCLUDED (dropDuplicates
    keys NULLs, COUNT(DISTINCT) skips them — the bridge pins the filter
    on both sides rather than letting the engines disagree)."""
    import datetime as dt

    from duckdb_webhook_gateway_spark.streaming.aggregates import (
        replay_dedup_daily_users,
    )

    d1 = dt.datetime(2026, 2, 1, 9, 0, 0)
    d1b = dt.datetime(2026, 2, 1, 22, 30, 0)  # same day, later
    d2 = dt.datetime(2026, 2, 2, 9, 0, 0)
    rows = [
        # user 10 clicks 3x on day 1 (one survivor) and once on day 2
        (1, 10, "click", d1),
        (2, 10, "click", d1),
        (3, 10, "click", d1b),
        (4, 10, "click", d2),
        # user 20: one click day 1, one view day 1
        (5, 20, "click", d1),
        (6, 20, "view", d1),
        # NULL key components: all excluded
        (7, None, "click", d1),
        (8, 30, None, d1),
        (9, 30, "click", None),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id bigint, user_id bigint, event_type string, "
        "ts timestamp_ntz",
    )
    got = sorted(
        (r.event_type, str(r.day), r.n_active_users)
        for r in replay_dedup_daily_users(spark, ev).collect()
    )
    assert got == [
        ("click", "2026-02-01", 2),
        ("click", "2026-02-02", 1),
        ("view", "2026-02-01", 1),
    ]


def test_replay_bridges_normalize_ltz_event_time(spark):
    """The driver's nanos parquet generation reads events.ts back as
    LTZ TimestampType (sources/files.py timestamp_micros path).  An LTZ
    value serializes to JSON with a zone suffix the NTZ readStream
    schema cannot parse — before the fix every ts came back NULL and
    the dedup bridge (which filters NULL keys) silently returned an
    EMPTY result instead of failing.  All three bridges must normalize
    to NTZ before landing."""
    import datetime as dt

    from pyspark.sql import functions as F

    from duckdb_webhook_gateway_spark.streaming.aggregates import (
        replay_dedup_daily_users,
        replay_hourly_counts,
    )

    ev = spark.createDataFrame(
        [
            (1, 10, "click", dt.datetime(2026, 3, 1, 9, 0, 0)),
            (2, 10, "click", dt.datetime(2026, 3, 1, 10, 0, 0)),
            (3, 20, "view", dt.datetime(2026, 3, 2, 9, 0, 0)),
        ],
        "event_id bigint, user_id bigint, event_type string, "
        "ts timestamp_ntz",
    ).withColumn("ts", F.col("ts").cast("timestamp"))  # force LTZ
    assert dict(ev.dtypes)["ts"] == "timestamp"
    got = sorted(
        (r.event_type, str(r.day), r.n_active_users)
        for r in replay_dedup_daily_users(spark, ev).collect()
    )
    assert got == [
        ("click", "2026-03-01", 1),
        ("view", "2026-03-02", 1),
    ]
    hourly = sorted(
        (str(r.window_start), r.event_type, r.n_events)
        for r in replay_hourly_counts(
            spark, ev.select("event_id", "event_type", "ts")
        ).collect()
    )
    assert len(hourly) == 3 and hourly[0][2] == 1
