"""Stream/batch equivalence bridges: Structured Streaming replays of
batch relations.

The reference has no streaming semantics — "analytics" is ad-hoc SQL over
the accumulated audit tables (SURVEY §2B "Streaming-only semantics").
Each bridge here lands a batch events relation as JSON files, drains it
through a file-source stream under ``availableNow`` and returns the
result, so a registered query can check a streaming operator (tumbling
windows, session windows, the dedup state store) against a DuckDB
oracle.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def replay_hourly_counts(
    spark: SparkSession, events: DataFrame, landing_dir: Optional[str] = None
) -> DataFrame:
    """Replay a batch events relation through Structured Streaming and
    return the tumbling 1-hour (window_start, event_type) counts — the
    oracle-checkable bridge between the batch and streaming halves of the
    engine: identical answers whether events arrive as a table or as a
    stream of files.

    The batch rows land as JSON envelopes; a file-source stream reads
    them back (TIMESTAMP_NTZ event time — wall-clock semantics, matching
    DuckDB's naive timestamps) and aggregates with ``F.window`` under
    ``availableNow``, so the run drains everything and terminates.  No
    watermark: Spark requires LTZ event time for watermarks, and this
    bounded replay in complete mode retracts nothing.
    """
    import tempfile
    import uuid

    owns_landing = landing_dir is None
    if owns_landing:
        landing_dir = tempfile.mkdtemp(prefix="stream_replay_")
    # Normalize the event time to NTZ BEFORE landing: an LTZ input (the
    # driver's nanos parquet generation reads back as TimestampType via
    # timestamp_micros) would serialize with a zone suffix that the NTZ
    # readStream schema cannot parse — every ts would come back NULL and
    # the replay would silently drain nothing.  NTZ inputs are untouched.
    events = events.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    events.coalesce(4).write.mode("overwrite").json(landing_dir)
    stream = spark.readStream.schema(
        "event_id BIGINT, event_type STRING, ts TIMESTAMP_NTZ"
    ).json(landing_dir)
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"), "event_type", "n_events"
        )
    )
    name = "hourly_replay_" + uuid.uuid4().hex[:8]
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    # materialize the (small, window-cardinality) result so the memory
    # sink and a caller-less landing dir can be reclaimed instead of
    # leaking per invocation
    result = (
        spark.table(name)
        .orderBy("window_start", "event_type")
        .localCheckpoint(eager=True)
    )
    spark.catalog.dropTempView(name)
    if owns_landing:
        import shutil

        shutil.rmtree(landing_dir, ignore_errors=True)
    return result


def replay_user_sessions(
    spark: SparkSession,
    events: DataFrame,
    gap: str = "30 minutes",
    landing_dir: Optional[str] = None,
) -> DataFrame:
    """Replay a batch events relation through a STATEFUL Structured
    Streaming session-window aggregation and return the per-user gap
    sessions — the second stream/batch equivalence bridge (the first,
    :func:`replay_hourly_counts`, is stateless tumbling windows; this
    one exercises the session-merge state machine: ``F.session_window``
    merges windows across micro-batches as late members arrive).

    Boundary semantics (pinned in tests/test_streaming.py): an event at
    EXACTLY ``last_ts + gap`` still merges into the open session —
    Spark merges while ``ts <= session_end`` — so a new session starts
    strictly after the gap, and ``session_end = last_ts + gap``.  The
    DuckDB oracle mirrors this with ``ts - lag(ts) > gap`` as its
    session-break predicate.

    Same replay scaffolding as :func:`replay_hourly_counts`:
    TIMESTAMP_NTZ event time (wall-clock semantics matching DuckDB's
    naive timestamps), complete mode + ``availableNow`` (a bounded
    replay retracts nothing and needs no watermark; the session state
    is user-cardinality and freed when the drain terminates).
    """
    import shutil
    import tempfile
    import uuid

    owns_landing = landing_dir is None
    if owns_landing:
        landing_dir = tempfile.mkdtemp(prefix="stream_sessions_")
    # Microsecond-explicit NTZ format on BOTH sides: the default JSON
    # timestamp format truncates to milliseconds, which silently moves
    # session boundaries (hourly replay never noticed — its windows
    # truncate to the hour; session bounds are raw event times).
    ntz_us = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    # NTZ normalization before landing — the hourly bridge's LTZ note
    events = events.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    events.coalesce(4).write.mode("overwrite").option(
        "timestampNTZFormat", ntz_us
    ).json(landing_dir)
    stream = (
        spark.readStream.schema(
            "event_id BIGINT, user_id BIGINT, ts TIMESTAMP_NTZ"
        )
        .option("timestampNTZFormat", ntz_us)
        .json(landing_dir)
    )
    agg = (
        stream.groupBy(
            F.session_window("ts", gap).alias("win"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
    name = "session_replay_" + uuid.uuid4().hex[:8]
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    result = (
        spark.table(name)
        .orderBy("user_id", "session_start")
        .localCheckpoint(eager=True)
    )
    spark.catalog.dropTempView(name)
    if owns_landing:
        shutil.rmtree(landing_dir, ignore_errors=True)
    return result


def replay_dedup_daily_users(
    spark: SparkSession,
    events: DataFrame,
    landing_dir: Optional[str] = None,
) -> DataFrame:
    """Replay a batch events relation through Structured Streaming's
    NATIVE ``dropDuplicates`` state store and return per (event_type,
    day) distinct-user counts — the third stream/batch equivalence
    bridge (``replay_hourly_counts``: stateless tumbling windows;
    ``replay_user_sessions``: the session-merge state machine; this
    one: the built-in dedup state operator).

    Design for determinism: ``dropDuplicates`` keeps an ARBITRARY first
    row per key (whichever micro-batch partition wins), so no test may
    depend on which duplicate survives.  The replay therefore dedups on
    the full key (user_id, event_type, day) and a BATCH aggregate over
    the append-sink output counts keys per (event_type, day) — a pure
    function of the key SET, identical no matter which row the state
    store kept.  The dedup→aggregate split also sidesteps chaining two
    stateful operators (dedup + streaming agg needs watermarks on both;
    a bounded availableNow replay has nothing to bound).

    State posture: an unbounded stream would need
    ``dropDuplicatesWithinWatermark`` to cap state; the bounded replay
    drains and frees it at termination.  Day derivation
    happens STREAM-SIDE from the NTZ event time (millisecond JSON
    round-trip truncation is harmless at day granularity — the
    sessions-bridge microsecond caveat does not bite here).
    """
    import shutil
    import tempfile
    import uuid

    owns_landing = landing_dir is None
    if owns_landing:
        landing_dir = tempfile.mkdtemp(prefix="stream_dedup_")
    # NTZ normalization before landing — the hourly bridge's LTZ note.
    # ESPECIALLY load-bearing here: this bridge filters NULL keys, so an
    # unparseable LTZ round-trip would not even surface as NULL rows —
    # it would silently report an empty, "valid" result.
    events = events.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    events.coalesce(4).write.mode("overwrite").json(landing_dir)
    stream = spark.readStream.schema(
        "event_id BIGINT, user_id BIGINT, event_type STRING, ts TIMESTAMP_NTZ"
    ).json(landing_dir)
    # NULL key components are excluded EXPLICITLY on both sides of the
    # bridge: dropDuplicates treats NULL as an ordinary key value while
    # SQL's count(DISTINCT user_id) silently skips NULLs — the exact
    # equi-join-vs-grouping NULL divergence class the r10 corner probes
    # hunted.  Pinning the filter here keeps the contract visible.
    deduped = (
        stream.filter(
            F.col("user_id").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("ts").isNotNull()
        )
        .withColumn("day", F.to_date("ts"))
        .select("user_id", "event_type", "day")
        .dropDuplicates(["user_id", "event_type", "day"])
    )
    name = "dedup_replay_" + uuid.uuid4().hex[:8]
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    result = (
        spark.table(name)
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active_users"))
        .orderBy("event_type", "day")
        .localCheckpoint(eager=True)
    )
    spark.catalog.dropTempView(name)
    if owns_landing:
        shutil.rmtree(landing_dir, ignore_errors=True)
    return result
