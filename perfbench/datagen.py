"""Deterministic benchmark inputs, all derived from one integer seed.

Three generators, one per workload:

- :func:`gateway_plan` -- the per-event gateway mix: audit history to
  preload, warm-up events, and the ordered stream of ingests and admin
  reads the timed loop walks through, each with the ground truth the
  benchmark checks the program's answers against.
- :func:`stream_drain` -- the bulk producer's drains for the streaming
  workload, which alternates 500- and 5,000-event drains.
- :func:`analytics_tables` -- the TPC-H-like star schema plus the
  ``events`` and ``documents`` tables the registered queries read, in
  the layout of the repository's reference test data (one parquet file
  per table).

The program under test only ever sees the generated payloads and files.
Nothing here imports Spark, so the generators are cheap to test.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass
from typing import Any

# ---------------------------------------------------------------------------
# gateway_mixed
# ---------------------------------------------------------------------------

# Logical webhook names -> source paths.  Ids are assigned by the program
# at registration, so ground truth is keyed by path and mapped at run time.
GW_PLAIN = "/bench/plain"
GW_FILTERED = "/bench/filtered"
GW_ENRICH = "/bench/enrich"
GW_UDF = "/bench/udf"
GW_PATHS = (GW_PLAIN, GW_FILTERED, GW_ENRICH, GW_UDF)

REGIONS = ("north", "south", "east", "west", "central")
FILTER_THRESHOLD = 34  # amount in [0, 100): rejects about a third
FILTERED_OUT_BODY = "Filtered out by filter_query"

# The fixed ad-hoc SQL texts POSTed to /query; ground truth for each is
# computed by :func:`query_truth` from the generator's own bookkeeping.
QUERY_TEXTS = (
    "SELECT COUNT(*) AS n FROM raw_events",
    "SELECT source_path, COUNT(*) AS n FROM raw_events "
    "GROUP BY source_path ORDER BY source_path",
    "SELECT COUNT(*) AS n FROM transformed_events "
    "WHERE response_body = 'Filtered out by filter_query'",
)

HISTORY_DAYS = 30
HISTORY_PER_DAY = 40


@dataclass
class GatewayEvent:
    path: str
    payload: Any  # dict, or a list of dicts for an N-row payload
    row_ids: list[str]
    passes_filter: bool  # only meaningful for GW_FILTERED
    delivered: bool  # POSTed to the real local receiver


@dataclass
class GatewayPlan:
    history_raw: list[dict[str, Any]]  # rows for TableStore.append_events
    history_transformed: list[dict[str, Any]]  # webhook_id holds the PATH
    warmup: list[GatewayEvent]
    ops: list[tuple[str, Any]]  # ("event", GatewayEvent) | ("read", (kind, arg))
    ref_rows: list[dict[str, Any]]


def _payload_row(rng: random.Random, rid: str, passes: bool = True) -> dict[str, Any]:
    lo, hi = (FILTER_THRESHOLD, 100) if passes else (0, FILTER_THRESHOLD)
    return {
        "id": rid,
        "amount": rng.randrange(lo, hi),
        "region": rng.choice(REGIONS),
        "user": rng.randrange(10_000),
    }


def _gateway_event(rng: random.Random, tag: str, path: str, n_rows: int, passes: bool) -> GatewayEvent:
    """One event; ``n_rows`` > 1 makes an N-row (list) payload.  A list
    passes the filter (an existence probe) when any of its rows does."""
    if n_rows > 1:
        k_pass = rng.randrange(n_rows) if passes else -1
        rows = [_payload_row(rng, f"{tag}-r{k}", k == k_pass) for k in range(n_rows)]
        payload: Any = rows
    else:
        payload = _payload_row(rng, tag, passes)
        rows = [payload]
    return GatewayEvent(
        path=path,
        payload=payload,
        row_ids=[r["id"] for r in rows],
        passes_filter=passes,
        delivered=(path == GW_FILTERED and passes),
    )


def gateway_plan(seed: int, n_ops: int = 4000, now: dt.datetime | None = None) -> GatewayPlan:
    """The whole gateway_mixed input for ``seed``.

    ``ops`` is longer than any timed run consumes; the loop stops at its
    time limit.  The op structure is fixed so that every seed's run does
    the same mix of work: three events before each read, events cycling
    through the four webhooks, every ninth event an N-row payload, every
    third event on the filtered webhook rejected, reads cycling through
    the four read kinds.  The seed picks where each cycle starts and every
    payload value.  History rows sit 1 to 30 days before ``now`` so the
    run's own events are the newest.
    """
    rng = random.Random(f"gateway-{seed}")
    now = now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    hist_raw, hist_tr = [], []
    for day in range(HISTORY_DAYS):
        base = now - dt.timedelta(days=day + 1)
        for k in range(HISTORY_PER_DAY):
            path = rng.choice(GW_PATHS)
            rid = f"h{seed}-{day}-{k}"
            ts = base - dt.timedelta(seconds=rng.randrange(3600, 80_000))
            row = _payload_row(rng, rid, rng.random() < 0.66)
            hist_raw.append(
                {"id": rid, "timestamp": ts, "source_path": path,
                 "payload": _json(row)}
            )
            filtered = path == GW_FILTERED and row["amount"] < FILTER_THRESHOLD
            ok = (not filtered) and rng.random() < 0.9
            hist_tr.append(
                {
                    "id": f"t{rid}",
                    "raw_event_id": rid,
                    "webhook_id": path,
                    "timestamp": ts + dt.timedelta(milliseconds=80),
                    "transformed_payload": "{}" if filtered else _json(row),
                    "destination_url": "http://example.com/history",
                    "success": ok,
                    "response_code": None if filtered else (200 if ok else 500),
                    "response_body": FILTERED_OUT_BODY if filtered else "{}",
                }
            )
    # warm-up: every webhook with a one-row and an N-row payload
    warmup = [
        _gateway_event(rng, f"w{seed}-{i}", path, 1 if i < 4 else 3, True)
        for i, path in enumerate(GW_PATHS * 2)
    ]
    reads = ("stats", "query", "events", "detail")
    path_off, list_off, gate_off, read_off = (rng.randrange(m) for m in (4, 9, 3, 4))
    ops: list[tuple[str, Any]] = []
    n_ev = n_read = n_gate = 0
    for i in range(n_ops):
        if i % 4 == 3:
            kind = reads[(n_read + read_off) % len(reads)]
            if kind == "query":
                arg: Any = QUERY_TEXTS[(n_read // len(reads)) % len(QUERY_TEXTS)]
            elif kind == "detail":
                arg = rng.random()  # which earlier event, as a fraction
            else:
                arg = None
            ops.append(("read", (kind, arg)))
            n_read += 1
            continue
        path = GW_PATHS[(n_ev + path_off) % len(GW_PATHS)]
        # every ninth: 9 and the 4-webhook cycle are coprime, so each
        # webhook gets its share of N-row payloads
        n_rows = rng.randint(2, 5) if (n_ev + list_off) % 9 == 0 else 1
        passes = True
        if path == GW_FILTERED:
            passes = (n_gate + gate_off) % 3 != 0
            n_gate += 1
        ops.append(("event", _gateway_event(rng, f"e{seed}-{i}", path, n_rows, passes)))
        n_ev += 1
    ref_rows = [
        {"region": r, "label": f"zone-{r[:2]}", "weight": i + 1}
        for i, r in enumerate(REGIONS)
    ]
    return GatewayPlan(hist_raw, hist_tr, warmup, ops, ref_rows)


def _json(obj: Any) -> str:
    import json

    return json.dumps(obj)


class GatewayTruth:
    """Expected audit state, advanced one event at a time.

    Everything /stats and the /query texts return is a function of the
    events ingested so far; the single client makes the order exact.
    """

    def __init__(self, plan: GatewayPlan):
        self.raw_by_path: dict[str, int] = {p: 0 for p in GW_PATHS}
        self.tr_by_path: dict[str, int] = {p: 0 for p in GW_PATHS}
        self.ok_by_path: dict[str, int] = {p: 0 for p in GW_PATHS}
        self.filtered = 0
        self.delivered_ids: set[str] = set()
        for r in plan.history_raw:
            self.raw_by_path[r["source_path"]] += 1
        for t in plan.history_transformed:
            self.tr_by_path[t["webhook_id"]] += 1
            self.ok_by_path[t["webhook_id"]] += int(t["success"])
            self.filtered += int(t["response_body"] == FILTERED_OUT_BODY)

    def add(self, ev: GatewayEvent) -> None:
        self.raw_by_path[ev.path] += 1
        self.tr_by_path[ev.path] += 1
        gated = ev.path == GW_FILTERED and not ev.passes_filter
        self.filtered += int(gated)
        self.ok_by_path[ev.path] += int(not gated)
        if ev.delivered:
            self.delivered_ids.update(ev.row_ids)

    @property
    def raw_total(self) -> int:
        return sum(self.raw_by_path.values())

    @property
    def tr_total(self) -> int:
        return sum(self.tr_by_path.values())

    def query_truth(self, text: str) -> list[list[Any]]:
        if text == QUERY_TEXTS[0]:
            return [[self.raw_total]]
        if text == QUERY_TEXTS[1]:
            return [[p, self.raw_by_path[p]] for p in sorted(GW_PATHS)]
        if text == QUERY_TEXTS[2]:
            return [[self.filtered]]
        raise KeyError(text)


# ---------------------------------------------------------------------------
# stream_drain
# ---------------------------------------------------------------------------

ST_PLAIN = "/stream/plain"
ST_FILTERED = "/stream/filtered"
ST_DELIVER = "/stream/deliver"
ST_PATHS = (ST_PLAIN, ST_FILTERED, ST_DELIVER)
ST_WEIGHTS = (0.4, 0.4, 0.2)  # ST_DELIVER carries about 20% of events
DRAIN_SIZES = (500, 5000)


def _stream_payload(rng: random.Random, rid: str) -> dict[str, Any]:
    # two payload shapes per webhook, both fingerprintable
    if rng.random() < 0.5:
        return {"id": rid, "amount": rng.randrange(100), "region": rng.choice(REGIONS)}
    return {
        "id": rid,
        "amount": rng.randrange(100),
        "meta": {"src": rng.choice(REGIONS), "n": rng.randrange(1000)},
    }


@dataclass
class Drain:
    size: int
    by_path: dict[str, list[dict[str, Any]]]

    def filtered(self) -> int:
        return sum(
            p["amount"] < FILTER_THRESHOLD for p in self.by_path[ST_FILTERED]
        )

    def delivered_ids(self) -> list[str]:
        return [p["id"] for p in self.by_path[ST_DELIVER]]


def stream_drain(seed: int, index: int, size: int) -> Drain:
    """The ``index``-th drain of ``size`` events for ``seed``."""
    rng = random.Random(f"stream-{seed}-{index}")
    by_path: dict[str, list[dict[str, Any]]] = {p: [] for p in ST_PATHS}
    for k in range(size):
        path = rng.choices(ST_PATHS, ST_WEIGHTS)[0]
        by_path[path].append(_stream_payload(rng, f"s{seed}-{index}-{k}"))
    return Drain(size, by_path)


# ---------------------------------------------------------------------------
# analytics_queries
# ---------------------------------------------------------------------------

HEAVY_QUERIES = (
    "part_triangle_count",
    "part_kcore",
    "doc_cdc_dup_chunks",
    "doc_prefix_jaccard_join",
    "doc_winnow_pairs",
    "part_communities_lpa",
)
LIGHT_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "events_sessionize",
    "dedup_minhash_lsh",
    "text_tfidf_top_terms",
    "orders_value_quartiles",
    "streaming_user_sessions",
)
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents",
)

_WORDS = (
    "a the spark data query table row column key value part order line "
    "customer hash sort merge join group agg filter scan window stream "
    "batch vector small big fast slow"
).split()
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
_PART_ADJ = ("large", "hot", "blue", "small", "red", "cold", "green", "old")
_PART_NOUN = ("ring", "bolt", "gear", "nut", "pipe", "valve", "screw", "cog")
_PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
_LANGS = ("en", "en", "en", "en", "fr", "es", "zh", "de")


def analytics_tables(seed: int, sf: float) -> dict[str, Any]:
    """pyarrow tables keyed by name; row counts scale like the reference
    data (``lineitem`` = 6M x sf, ``documents`` = 50k x sf)."""
    import numpy as np
    import pyarrow as pa

    g = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 50)
    n_line = max(int(6_000_000 * sf), 200)
    n_ev = max(int(1_000_000 * sf), 100)
    n_doc = max(int(50_000 * sf), 20)
    n_user = max(int(15_000 * sf), 10)

    def money(lo, hi, n):
        return np.round(g.uniform(lo, hi, n), 2)

    def pick(options, n):
        return pa.array(np.asarray(options, dtype=object)[g.integers(0, len(options), n)].tolist(), pa.string())

    def days(start, span_days, n):
        base = np.datetime64(start, "us")
        d = g.integers(0, span_days, n).astype("timedelta64[D]")
        return pa.array(base + d.astype("timedelta64[us]"), pa.timestamp("us"))

    t: dict[str, Any] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pick(names, n_part),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(_PART_TYPES, n_part),
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(("F", "O", "P"), n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": days("1995-01-01", 2404, n_ord),
        "o_orderpriority": pick(_PRIORITIES, n_ord),
    })
    qty = g.integers(1, 51, n_line).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(g.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(g.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(g.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * g.uniform(900, 2000, n_line), 2),
        "l_discount": np.round(g.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(g.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": pick(("R", "N", "A"), n_line),
        "l_linestatus": pick(("F", "O"), n_line),
        "l_shipdate": days("1995-01-02", 2498, n_line),
    })
    ev_us = np.sort(g.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, n_user, n_ev), pa.int64()),
        "event_type": pick(_EVENT_TYPES, n_ev),
        "value": np.round(g.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev).tolist()],
    })
    texts: list[str] = []
    words = np.asarray(_WORDS, dtype=object)
    for i in range(n_doc):
        r = g.random()
        if texts and r < 0.01:  # exact duplicate
            texts.append(texts[int(g.integers(0, len(texts)))])
        elif texts and r < 0.08:  # near duplicate: a few words edited
            toks = texts[int(g.integers(0, len(texts)))].split()
            for _ in range(int(g.integers(1, 4))):
                toks[int(g.integers(0, len(toks)))] = str(words[int(g.integers(0, len(words)))])
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(words[g.integers(0, len(words), int(g.integers(8, 96)))].tolist()))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pick(_LANGS, n_doc),
        "source": pick([f"src{i}" for i in range(20)], n_doc),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    return t


def write_tables(tables: dict[str, Any], out_dir: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
