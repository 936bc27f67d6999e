"""Persistent table store: the engine's 5 catalog/audit tables.

The reference creates five DuckDB tables at startup
(reference: src/app.py:103-167):

  webhooks, raw_events, transformed_events, reference_tables, python_udfs

Spark-first split (SURVEY §7.0):

- **Catalog tables** (``webhooks``, ``reference_tables``, ``python_udfs``)
  are tiny and mutation-heavy.  They live as driver-side row lists, guarded
  by one ``threading.Lock`` (the moral equivalent of the reference's single
  connection + asyncio.Lock, src/app.py:89-94, which is exactly where that
  serialization actually mattered), persisted to Parquet on every mutation,
  and re-registered as temp views so ``spark.sql`` sees them by name.
- **Event tables** (``raw_events``, ``transformed_events``) are append-only
  audit streams.  They are Parquet directories partitioned by
  ``event_date`` — at 100 TB an unpartitioned audit log is unqueryable;
  date partitioning gives partition pruning on every time-ranged analytics
  query for free, and appends never rewrite history.

Type mapping follows SURVEY §1.2: UUID -> StringType, JSON -> StringType
(JSON text, parse on demand with get_json_object/from_json).
"""

from __future__ import annotations

import os
import shutil
import threading
import uuid
from datetime import datetime, timezone
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Fixed DDL schemas (reference: src/app.py:103-167; FIXTURES.md §9).
SCHEMAS: dict[str, T.StructType] = {
    "webhooks": T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("source_path", T.StringType(), False),
            T.StructField("destination_url", T.StringType(), False),
            T.StructField("transform_query", T.StringType(), False),
            T.StructField("filter_query", T.StringType(), True),
            T.StructField("owner", T.StringType(), True),
            T.StructField("created_at", T.TimestampType(), True),
            T.StructField("updated_at", T.TimestampType(), True),
        ]
    ),
    "raw_events": T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("timestamp", T.TimestampType(), True),
            T.StructField("source_path", T.StringType(), True),
            T.StructField("payload", T.StringType(), True),
        ]
    ),
    "transformed_events": T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("raw_event_id", T.StringType(), True),
            T.StructField("webhook_id", T.StringType(), True),
            T.StructField("timestamp", T.TimestampType(), True),
            T.StructField("transformed_payload", T.StringType(), True),
            T.StructField("destination_url", T.StringType(), True),
            T.StructField("success", T.BooleanType(), True),
            T.StructField("response_code", T.IntegerType(), True),
            T.StructField("response_body", T.StringType(), True),
        ]
    ),
    "reference_tables": T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("webhook_id", T.StringType(), True),
            T.StructField("table_name", T.StringType(), True),
            T.StructField("description", T.StringType(), True),
            T.StructField("created_at", T.TimestampType(), True),
            T.StructField("updated_at", T.TimestampType(), True),
        ]
    ),
    "python_udfs": T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("webhook_id", T.StringType(), True),
            T.StructField("function_name", T.StringType(), True),
            T.StructField("function_code", T.StringType(), True),
            T.StructField("created_at", T.TimestampType(), True),
            T.StructField("updated_at", T.TimestampType(), True),
        ]
    ),
}

_CATALOG_TABLES = ("webhooks", "reference_tables", "python_udfs")
_EVENT_TABLES = ("raw_events", "transformed_events")


def now_utc() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


def new_id() -> str:
    return str(uuid.uuid4())


class TableStore:
    """Owns the 5 engine tables; registers them as Spark temp views."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        self.lock = threading.Lock()
        self._catalog: dict[str, list[dict[str, Any]]] = {}
        os.makedirs(base_dir, exist_ok=True)
        for name in _CATALOG_TABLES:
            self._catalog[name] = self._load_catalog(name)
            self._register_catalog_view(name)
        for name in _EVENT_TABLES:
            self._register_event_view(name)

    # -- paths -----------------------------------------------------------
    def _path(self, name: str) -> str:
        return os.path.join(self.base_dir, name)

    # -- catalog tables (driver-state + parquet persistence) -------------
    def _load_catalog(self, name: str) -> list[dict[str, Any]]:
        path = self._path(name)
        # crash-recovery: _persist_catalog renames the previous directory
        # to __old before promoting the new one; a crash in that window
        # leaves only __old — restore it rather than booting empty
        old = path + ".__old"
        if not os.path.isdir(path) and os.path.isdir(old):
            os.rename(old, path)
        if not os.path.isdir(path):
            return []
        try:
            df = self.spark.read.schema(SCHEMAS[name]).parquet(path)
            return [row.asDict() for row in df.collect()]
        except Exception as e:
            # a corrupt catalog must be LOUD: silently returning [] here
            # would wipe every registered webhook/UDF/reference table on
            # the next persist with no trace of why
            import sys

            print(
                f"WARNING: catalog table {name!r} unreadable at {path}: "
                f"{e}; starting with an empty catalog",
                file=sys.stderr,
            )
            return []

    def _catalog_df(self, name: str) -> DataFrame:
        # Arrow-local relation (plans/localrel.py): the pickled-list
        # form put a Python-RDD scan — one Python-worker round trip
        # per job — into EVERY query that touches a catalog view.
        # Rows are full dicts by construction (parquet asDict or the
        # typed constructors), aligned by field name.
        from ..plans.localrel import local_df

        return local_df(self.spark, self._catalog[name], SCHEMAS[name])

    def _register_catalog_view(self, name: str) -> None:
        self._catalog_df(name).createOrReplaceTempView(name)

    def _persist_catalog(self, name: str) -> None:
        # Crash-safe swap under self.lock: Spark's mode("overwrite")
        # deletes the live directory BEFORE writing, so a crash mid-write
        # would lose the whole catalog.  Write to a temp dir, then
        # rename-promote (old -> __old, tmp -> live, drop __old); a crash
        # in the tiny no-live window is recovered by _load_catalog's
        # __old fallback.
        path = self._path(name)
        tmp = path + ".__tmp"
        old = path + ".__old"
        shutil.rmtree(tmp, ignore_errors=True)
        df = self._catalog_df(name).coalesce(1)
        df.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(path):
            os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
        self._register_catalog_view(name)

    def catalog_rows(self, name: str) -> list[dict[str, Any]]:
        with self.lock:
            return [dict(r) for r in self._catalog[name]]

    def catalog_count(self, name: str) -> int:
        """Row count of a catalog table.  ``len`` of the list is atomic,
        so this skips the lock a concurrent ``mutate_catalog`` holds
        through its parquet persist."""
        return len(self._catalog[name])

    def find_catalog_row(
        self, name: str, pred
    ) -> Optional[dict[str, Any]]:
        """First row matching ``pred``, copied — the per-event lookup
        path: matching under the lock and copying only the HIT avoids
        deep-copying the whole table per ingest (O(N) dict copies that
        also contend with mutate_catalog's persist)."""
        with self.lock:
            for r in self._catalog[name]:
                if pred(r):
                    return dict(r)
        return None

    def mutate_catalog(self, name: str, fn) -> Any:
        """Read-modify-write a catalog table under the store lock.

        ``fn(rows)`` mutates the row list in place and returns a value.
        """
        with self.lock:
            out = fn(self._catalog[name])
            self._persist_catalog(name)
            return out

    # -- event tables (append-only, date-partitioned parquet) ------------
    def _register_event_view(self, name: str) -> None:
        path = self._path(name)
        schema = SCHEMAS[name]
        if os.path.isdir(path) and any(
            f.endswith(".parquet") or f.startswith("event_date=")
            for f in os.listdir(path)
        ):
            df = (
                self.spark.read.schema(
                    T.StructType(
                        list(schema.fields)
                        + [T.StructField("event_date", T.DateType(), True)]
                    )
                )
                .option("basePath", path)
                .parquet(path)
                .select(*[f.name for f in schema.fields])
            )
        else:
            df = self.spark.createDataFrame([], schema)
        df.createOrReplaceTempView(name)

    def append_events(
        self, name: str, rows: list[dict[str, Any]], file_key: str | None = None
    ) -> None:
        """Append driver-side audit rows.

        Writes via pyarrow straight into the date-partitioned directory
        layout instead of launching a Spark job: a 1-row ingest-ack append
        costs ~5 ms instead of ~2 s (the reference acks after a synchronous
        INSERT, src/app.py:1101-1111 — this keeps that latency contract).
        Spark reads the files identically (hive-style event_date= dirs).

        ``file_key`` makes the append IDEMPOTENT: the parquet file name is
        derived from it (per date partition), so re-running the same append
        — e.g. a retried streaming micro-batch — overwrites its own earlier
        partial output instead of duplicating rows.  Before writing, every
        file an earlier attempt of this key left in OTHER date partitions
        (or under the distributed writer's naming) is dropped — same
        cross-midnight / cross-writer guard as the staged-promote path.
        """
        if name not in _EVENT_TABLES:
            raise ValueError(f"not an event table: {name}")
        if not rows:
            return
        if file_key is not None:
            # own scheme only — the distributed writer may have just
            # written this batch's other rows under part-<key>-NNNNN
            self._drop_key_files(name, file_key, distributed_scheme=False)
        import pyarrow as pa
        import pyarrow.parquet as pq

        arrow_fields = []
        for f in SCHEMAS[name].fields:
            t: pa.DataType
            if isinstance(f.dataType, T.TimestampType):
                t = pa.timestamp("us")
            elif isinstance(f.dataType, T.BooleanType):
                t = pa.bool_()
            elif isinstance(f.dataType, T.IntegerType):
                t = pa.int32()
            else:
                t = pa.string()
            arrow_fields.append(pa.field(f.name, t))
        schema = pa.schema(arrow_fields)

        by_date: dict[str, list[dict[str, Any]]] = {}
        for row in rows:
            by_date.setdefault(row["timestamp"].date().isoformat(), []).append(row)
        for date_str, date_rows in by_date.items():
            part_dir = os.path.join(self._path(name), f"event_date={date_str}")
            os.makedirs(part_dir, exist_ok=True)
            cols = {
                f.name: [r.get(f.name) for r in date_rows] for f in SCHEMAS[name].fields
            }
            table = pa.Table.from_pydict(cols, schema=schema)
            fname = (
                f"part-{file_key}.parquet"
                if file_key is not None
                else f"part-{uuid.uuid4().hex}.parquet"
            )
            pq.write_table(table, os.path.join(part_dir, fname))
        self._register_event_view(name)

    def append_events_df(
        self, name: str, df: DataFrame, file_key: str | None = None
    ) -> None:
        """Append a pre-built DataFrame of audit rows (streaming path —
        stays distributed; no driver collection).

        With ``file_key`` the append is IDEMPOTENT, mirroring
        :meth:`append_events`'s batch-keyed overwrite for the distributed
        writer: the job writes to a per-key staging directory with
        ``mode("overwrite")`` (a replayed micro-batch overwrites its own
        earlier partial staging output), then the staged files are
        promoted into the ``event_date=`` layout under deterministic
        ``part-<file_key>-<seq>`` names — after first dropping any files
        a previous partial promote of the same key left behind.  The
        promote step is driver-side file RENAMES only (metadata ops); row
        data never passes through the driver.
        """
        if name not in _EVENT_TABLES:
            raise ValueError(f"not an event table: {name}")
        out = df.select(
            *[F.col(f.name).cast(f.dataType) for f in SCHEMAS[name].fields]
        ).withColumn("event_date", F.to_date("timestamp"))
        if file_key is None:
            out.write.mode("append").partitionBy("event_date").parquet(
                self._path(name)
            )
        else:
            staging = os.path.join(self.base_dir, "_staging", name, file_key)
            out.write.mode("overwrite").partitionBy("event_date").parquet(
                staging
            )
            self._promote_staged(name, staging, file_key)
        self._register_event_view(name)

    def _drop_key_files(
        self,
        name: str,
        file_key: str,
        driver_scheme: bool = True,
        distributed_scheme: bool = True,
    ) -> None:
        """Remove files a previous attempt of batch ``file_key`` left,
        across ALL date partitions — a replayed batch can land rows in
        different partitions than its first attempt (clock tick across
        midnight between attempts).  Scheme flags select which writer's
        naming to drop (driver ``part-<key>.parquet`` / distributed
        ``part-<key>-NNNNN.parquet``): each WRITER cleans only its own
        scheme (the two run back-to-back for the same batch, so cleaning
        both here would delete the sibling writer's fresh output);
        :meth:`drop_batch_files` cleans both and is for batch REPLAY
        boundaries, before any writer has run."""
        table_dir = self._path(name)
        if not os.path.isdir(table_dir):
            return
        exact = f"part-{file_key}.parquet"
        prefix = f"part-{file_key}-"
        for dpart in os.listdir(table_dir):
            pdir = os.path.join(table_dir, dpart)
            if not dpart.startswith("event_date=") or not os.path.isdir(
                pdir
            ):
                continue
            for f in os.listdir(pdir):
                if (driver_scheme and f == exact) or (
                    distributed_scheme and f.startswith(prefix)
                ):
                    os.unlink(os.path.join(pdir, f))

    def drop_batch_files(self, name: str, file_key: str) -> None:
        """Drop every file ANY writer's earlier attempt of this batch key
        left (both naming schemes, all date partitions).  Call at a batch
        REPLAY boundary before re-running its writers — covers an attempt
        that used a different writer (e.g. a group that fell back to the
        per-event driver path on retry)."""
        self._drop_key_files(name, file_key)

    def _promote_staged(self, name: str, staging: str, file_key: str) -> None:
        table_dir = self._path(name)
        # drop leftovers of an earlier attempt's DISTRIBUTED writes only
        # (the driver writer's same-key file belongs to the same batch)
        self._drop_key_files(name, file_key, driver_scheme=False)
        for dpart in sorted(os.listdir(staging)):
            sdir = os.path.join(staging, dpart)
            if not dpart.startswith("event_date=") or not os.path.isdir(sdir):
                continue
            tdir = os.path.join(table_dir, dpart)
            os.makedirs(tdir, exist_ok=True)
            files = sorted(
                f for f in os.listdir(sdir) if f.endswith(".parquet")
            )
            for i, f in enumerate(files):
                os.replace(
                    os.path.join(sdir, f),
                    os.path.join(tdir, f"part-{file_key}-{i:05d}.parquet"),
                )
        shutil.rmtree(staging, ignore_errors=True)

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def refresh(self) -> None:
        for name in _CATALOG_TABLES:
            self._register_catalog_view(name)
        for name in _EVENT_TABLES:
            self._register_event_view(name)
