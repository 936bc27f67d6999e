"""TableStore round-trips, mirroring the reference's tests/test_db_manager.py."""

from __future__ import annotations

import json

from duckdb_webhook_gateway_spark.engine import TableStore
from duckdb_webhook_gateway_spark.engine.store import SCHEMAS, new_id, now_utc


def test_schema_creation(spark, tmp_path):
    # reference: tests/test_db_manager.py:18-30 (all 5 tables exist)
    TableStore(spark, str(tmp_path / "s"))
    tables = {t.name for t in spark.catalog.listTables()}
    for name in SCHEMAS:
        assert name in tables
        assert spark.table(name).count() == 0


def test_raw_event_round_trip(spark, tmp_path):
    # reference: tests/test_db_manager.py raw/transformed logging round-trip
    store = TableStore(spark, str(tmp_path / "s"))
    rid = new_id()
    payload = {"nested": {"a": 1}, "arr": [1, 2]}
    store.append_events(
        "raw_events",
        [
            {
                "id": rid,
                "timestamp": now_utc(),
                "source_path": "/p",
                "payload": json.dumps(payload),
            }
        ],
    )
    row = spark.table("raw_events").first()
    assert row.id == rid
    assert json.loads(row.payload) == payload


def test_transformed_event_types(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "s"))
    store.append_events(
        "transformed_events",
        [
            {
                "id": new_id(),
                "raw_event_id": new_id(),
                "webhook_id": new_id(),
                "timestamp": now_utc(),
                "transformed_payload": "{}",
                "destination_url": "http://example.com",
                "success": False,
                "response_code": None,  # nullable int (filtered-out rows)
                "response_body": "Filtered out by filter_query",
            }
        ],
    )
    row = spark.table("transformed_events").first()
    assert row.success is False
    assert row.response_code is None


def test_event_date_partitioning(spark, tmp_path):
    """Appends land in hive-style event_date= dirs -> partition pruning."""
    import datetime as dt
    import os

    store = TableStore(spark, str(tmp_path / "s"))
    for day in (1, 2):
        store.append_events(
            "raw_events",
            [
                {
                    "id": new_id(),
                    "timestamp": dt.datetime(2026, 8, day, 12, 0, 0),
                    "source_path": "/p",
                    "payload": "{}",
                }
            ],
        )
    base = os.path.join(str(tmp_path / "s"), "raw_events")
    assert sorted(os.listdir(base)) == ["event_date=2026-08-01", "event_date=2026-08-02"]
    assert spark.table("raw_events").count() == 2


def test_catalog_mutation_is_persistent_and_serialized(spark, tmp_path):
    import threading

    store = TableStore(spark, str(tmp_path / "s"))

    def add(i):
        def _m(rows):
            rows.append(
                {
                    "id": f"id-{i}",
                    "webhook_id": "w",
                    "table_name": f"t{i}",
                    "description": None,
                    "created_at": now_utc(),
                    "updated_at": now_utc(),
                }
            )

        store.mutate_catalog("reference_tables", _m)

    threads = [threading.Thread(target=add, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    # all 8 concurrent mutations survive (no lost updates)
    assert spark.table("reference_tables").count() == 8
    reopened = TableStore(spark, str(tmp_path / "s"))
    assert len(reopened.catalog_rows("reference_tables")) == 8


def test_catalog_persist_crash_window_recovers_from_old(spark, tmp_path):
    """_persist_catalog promotes via rename (old -> __old, tmp -> live);
    a crash between those renames leaves only __old — the next load must
    restore it instead of booting an empty catalog (r6 review fix)."""
    import os

    store = TableStore(spark, str(tmp_path / "s"))

    def _add(rows):
        rows.append(
            {
                "id": "id-1",
                "webhook_id": "w",
                "table_name": "t1",
                "description": None,
                "created_at": now_utc(),
                "updated_at": now_utc(),
            }
        )

    store.mutate_catalog("reference_tables", _add)
    path = store._path("reference_tables")
    # simulate the crash window: live dir renamed away, tmp never promoted
    os.rename(path, path + ".__old")
    assert not os.path.isdir(path)

    store2 = TableStore(spark, str(tmp_path / "s"))
    rows = store2.catalog_rows("reference_tables")
    assert [r["id"] for r in rows] == ["id-1"]


def test_driver_append_cross_midnight_replay_is_idempotent(spark, tmp_path):
    """A replayed driver-side keyed append whose timestamps drifted into a
    DIFFERENT date partition must drop the first attempt's file (r6
    review fix: the overwrite alone only covers same-date replays)."""
    import datetime as dt

    store = TableStore(spark, str(tmp_path / "s"))
    row = {
        "id": new_id(),
        "raw_event_id": "r",
        "webhook_id": "w",
        "destination_url": "u",
        "transformed_payload": "{}",
        "success": True,
        "response_code": 200,
        "response_body": "",
    }
    store.append_events(
        "transformed_events",
        [{**row, "timestamp": dt.datetime(2026, 8, 13, 23, 59, 59)}],
        file_key="b000000007",
    )
    # replay of the same batch, clock ticked past midnight
    store.append_events(
        "transformed_events",
        [{**row, "timestamp": dt.datetime(2026, 8, 14, 0, 0, 1)}],
        file_key="b000000007",
    )
    n = spark.sql("SELECT count(*) AS n FROM transformed_events").first().n
    assert n == 1
