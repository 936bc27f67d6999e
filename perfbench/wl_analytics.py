"""analytics_queries: the registered heavy and light queries, run in turn.

Closed loop, sequential.  The session takes ``bench.py``'s overrides.
Set-up runs every light and document query once (the warm-up; its rows
are kept for the oracle check).  The timed pass then runs each of them
once more, after a JVM GC, forced with ``count()`` as in ``bench.py``,
and then runs each graph query once, after a JVM GC, collecting its rows
for the check.  A graph query runs for seconds, in many rounds of jobs,
and the JVM is warm by then, so its first run reads close to a warm one;
it is timed without a warm-up run of its own, which saves about 10 s a
run that the benchmark's run budget needs (see README.md).  A traced run times
each light and document query twice, traced and not, and traces the
graph queries.  After timing, every query's rows are value-hashed
against its DuckDB ``oracle_sql()`` on the same parquet files, with the
normalisation of the repository's oracle parity test.
"""

from __future__ import annotations

import hashlib
import math
import os
import re
import time
from decimal import ROUND_FLOOR, Decimal
from typing import Any, Optional

import datagen as dg
from harness import Context, Result, jvm_peak_rss_mb, start_spark, stop_spark
from spans import Tracer

# sf0.01-sized tables: a warm pass of all 14 queries takes about 20 s
# on 4 cores, which keeps a run inside the time the benchmark allows.
SCALE = 0.01

# bench.py's session overrides
BENCH_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.files.maxPartitionBytes": "16m",
    "spark.ui.showConsoleProgress": "false",
}

QUERIES = dg.HEAVY_QUERIES + dg.LIGHT_QUERIES
# the heavy set splits into iterative graph queries (many Spark jobs
# each) and single-plan document queries (executor CPU and shuffle)
GRAPH_QUERIES = ("part_triangle_count", "part_kcore", "part_communities_lpa")
DOC_QUERIES = tuple(q for q in dg.HEAVY_QUERIES if q not in GRAPH_QUERIES)
# warmed up in set-up, then timed warm; the graph queries are timed on
# their first run instead (see the module docstring)
WARM_QUERIES = dg.LIGHT_QUERIES + DOC_QUERIES


def _norm(v):
    # the repository oracle-parity test's value normalisation
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return repr(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: columns sorted by name, rows
    normalised and sorted."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(tuple(_norm(r[i]) for i in idx) for r in rows)
    h = hashlib.sha256(repr(sorted(cols)).encode())
    h.update(repr(canon).encode())
    return h.hexdigest()


_ROUND = re.compile(r"\bround\(", re.IGNORECASE)
_ALIAS = re.compile(r"\s+AS\s+(\w+)", re.IGNORECASE)


def rounded_columns(sql: str) -> dict[str, tuple[int, int, int, str]]:
    """Output columns the SQL computes as ``round(expr, k) AS col``:
    ``col -> (k, start, end, expr)``, where ``sql[start:end]`` is the
    ``round(...)`` call."""
    out = {}
    for m in _ROUND.finditer(sql):
        depth, comma, i = 1, None, m.end()
        while depth and i < len(sql):
            c = sql[i]
            depth += (c == "(") - (c == ")")
            if c == "," and depth == 1:
                comma = i
            i += 1
        alias = _ALIAS.match(sql, i)
        if comma is None or alias is None:
            continue
        try:
            k = int(sql[comma + 1:i - 1])
        except ValueError:
            continue
        out[alias.group(1).lower()] = (k, m.start(), i, sql[m.end():comma])
    return out


def half_unit_straddle(a: float, b: float, exact: Any, k: int) -> bool:
    """True when ``exact`` is a Decimal lying exactly half a unit between
    two neighbours at ``k`` decimal places, and ``a`` and ``b`` are those
    two neighbours."""
    if not isinstance(exact, Decimal):
        return False
    unit = Decimal(1).scaleb(-k)
    if abs(exact) % unit != unit / 2:
        return False
    lo = exact.quantize(unit, rounding=ROUND_FLOOR)
    return {Decimal(repr(a)), Decimal(repr(b))} == {lo, lo + unit}


def _keyed(cols: list[str], rows: list[tuple]) -> Optional[dict[tuple, dict[str, Any]]]:
    """Rows keyed by their non-float cells; None when keys repeat."""
    out = {}
    for r in rows:
        cells = {c.lower(): v for c, v in zip(cols, r)}
        key = tuple(
            (c, _norm(v)) for c, v in sorted(cells.items())
            if not isinstance(v, (float, Decimal))
        )
        if key in out:
            return None
        out[key] = cells
    return out


def oracle_straddle(data_dir: str, sql: str, got, want) -> bool:
    """Whether a result that fails the hash check differs from its oracle
    only by half-unit rounding straddles.

    The registry rounds every float aggregate (``round(x, k)``) so that
    summation-order drift between engines vanishes.  At an exact half
    unit -- cent-exact prices make ``x.xx5`` sums common -- the drift of
    each engine decides the side, and the rounded values are the two
    neighbours of the half.  So each differing cell must be in a column
    the oracle computes as ``round(expr, k)``, and the oracle's ``expr``,
    recomputed in exact DECIMAL arithmetic over the same rows, must be
    exactly half a unit at ``k`` places with the two values its two
    neighbours.  Every other difference fails."""
    (cols_g, rows_g), (cols_w, rows_w) = got, want
    if sorted(c.lower() for c in cols_g) != sorted(c.lower() for c in cols_w):
        return False
    g, w = _keyed(cols_g, rows_g), _keyed(cols_w, rows_w)
    if g is None or w is None or set(g) != set(w):
        return False
    rounded = rounded_columns(sql)
    diffs = []  # (key, column, got value, oracle value)
    for key, cells in w.items():
        for col, vw in cells.items():
            vg = g[key][col]
            if _norm(vg) == _norm(vw):
                continue
            if not (isinstance(vg, float) and isinstance(vw, float) and col in rounded):
                return False
            diffs.append((key, col, vg, vw))
    if not diffs:
        return False
    # the oracle with each differing column left unrounded, over tables
    # whose cent-exact DOUBLE columns are read as DECIMAL
    exact_sql = sql
    for col in sorted({c for _, c, _, _ in diffs}, key=lambda c: -rounded[c][1]):
        _k, start, end, expr = rounded[col]
        exact_sql = exact_sql[:start] + f"({expr})" + exact_sql[end:]
    try:
        cols_e, rows_e = _run_duckdb(data_dir, exact_sql, exact=True)
    except Exception:
        return False
    e = _keyed(cols_e, rows_e)
    if e is None:
        return False
    return all(
        key in e and half_unit_straddle(vg, vw, e[key][col], rounded[col][0])
        for key, col, vg, vw in diffs
    )


def _run_duckdb(data_dir: str, sql: str, exact: bool = False):
    """Run one SQL text in DuckDB over the parquet tables.  ``exact``
    reads every DOUBLE column whose values all have at most two decimals
    as DECIMAL(18, 2), so sums and products over it are exact."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in dg.TABLES:
            src = f"'{os.path.join(data_dir, f'{t}.parquet')}'"
            cents = []
            if exact:
                for name, typ, *_ in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall():
                    if typ == "DOUBLE" and con.execute(
                        f"SELECT bool_and(round({name}, 2) = {name}) FROM {src}"
                    ).fetchone()[0]:
                        cents.append(f"CAST({name} AS DECIMAL(18, 2)) AS {name}")
            replace = f" REPLACE ({', '.join(cents)})" if cents else ""
            con.execute(f"CREATE VIEW {t} AS SELECT *{replace} FROM {src}")
        res = con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()
    finally:
        con.close()


def oracle_results(data_dir: str) -> dict[str, tuple[list[str], list[tuple]]]:
    from duckdb_webhook_gateway_spark.workloads import all_entries

    entries = all_entries()
    return {name: _run_duckdb(data_dir, entries[name][1]) for name in QUERIES}


def run(ctx: Context) -> Result:
    from duckdb_webhook_gateway_spark.workloads import all_entries

    result = Result()
    data = os.path.join(ctx.work, "data")
    t = time.perf_counter()
    dg.write_tables(dg.analytics_tables(ctx.seed, SCALE), data)
    result.info["datagen_s"] = time.perf_counter() - t
    want = oracle_results(data)  # before the session: nothing else runs
    entries = all_entries()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark("perfbench-analytics", **BENCH_CONF)
        # warm-up: the first run of every light and document query; the
        # rows are kept for the oracle check
        got: dict[str, tuple[list[str], list[tuple]]] = {}

        def collect(name: str) -> None:
            df = entries[name][0](spark, data)
            got[name] = (list(df.columns), [tuple(r) for r in df.collect()])

        for name in WARM_QUERIES:
            try:
                collect(name)
            except Exception as e:
                result.fail(f"{name} raised {type(e).__name__} at warm-up: {e}")
        result.setup_s = time.perf_counter() - t0
        gc = spark.sparkContext._jvm.System.gc

        def timed(name: str, run) -> Optional[float]:
            gc()
            t = time.perf_counter()
            try:
                run(name)
            except Exception as e:
                result.fail(f"{name} raised {type(e).__name__}: {e}")
                return None
            return time.perf_counter() - t

        def count(name: str) -> None:
            n = entries[name][0](spark, data).count()
            if name in got and n != len(got[name][1]):
                result.fail(f"{name}: {n} rows counted, {len(got[name][1])} at warm-up")

        tracer = Tracer(spark) if ctx.trace else None
        untraced: dict[str, float] = {}
        traced: dict[str, float] = {}
        profile: dict[str, dict] = {}
        for i, name in enumerate(WARM_QUERIES):
            if not tracer:
                result.attempted += 1
                dt = timed(name, count)
                if dt is not None:
                    untraced[name] = dt
                continue
            # a traced run times each warm query twice, traced and not;
            # a query still speeds up from one run to the next, so the
            # order alternates from query to query, and the overhead is
            # the geometric mean of the ratios
            for tr in ((False, True) if i % 2 == 0 else (True, False)):
                result.attempted += 1
                if tr:
                    with tracer.op(name) as op:
                        dt = timed(name, count)
                    profile[name] = op
                else:
                    dt = timed(name, count)
                if dt is not None:
                    (traced if tr else untraced)[name] = dt
        # graph queries: one timed first run each (collected, for the
        # check); a traced run traces it
        for name in GRAPH_QUERIES:
            result.attempted += 1
            if tracer:
                with tracer.op(name) as op:
                    dt = timed(name, collect)
                profile[name] = op
            else:
                dt = timed(name, collect)
            if dt is not None:
                (traced if tracer else untraced)[name] = dt
        if tracer:
            ratios = [math.log(traced[n] / untraced[n]) for n in WARM_QUERIES
                      if n in traced and n in untraced]
            result.overhead_pct = (math.exp(sum(ratios) / len(ratios)) - 1) * 100 if ratios else 0.0
            sums = Result()
            _ops(sums, traced)
            result.traced = {k: getattr(sums, k) for k in OPS}
            _layers(result, traced, profile)
            tracer.dump(os.path.join(ctx.work, "trace.json"), {"query_s": traced})
            # the graph queries ran traced only
            untraced.update({n: traced[n] for n in GRAPH_QUERIES if n in traced})
        _ops(result, untraced)
        result.named["analytics_heavy_s"] = (sum(untraced.get(n, 0.0) for n in dg.HEAVY_QUERIES), "s")
        result.named["analytics_light_s"] = (result.light_op_ms / 1e3, "s")
        result.info["query_s"] = untraced
        result.peak_rss_mb = jvm_peak_rss_mb(spark)
    finally:
        if spark is not None:
            stop_spark(spark)

    # output check, outside every timed region
    if ctx.corrupt == "oracle_row":
        cols, rows = want[QUERIES[0]]
        want[QUERIES[0]] = (cols, rows[:-1])
    straddles = []
    for name in got:
        if value_hash(*got[name]) == value_hash(*want[name]):
            continue
        if oracle_straddle(data, entries[name][1], got[name], want[name]):
            straddles.append(name)
        else:
            result.fail(f"{name}: result does not hash-match its DuckDB oracle")
    result.attempted += len(QUERIES)
    result.named["oracle_rounding_straddles"] = (float(len(straddles)), "count")
    result.info["oracle_rounding_straddles"] = straddles
    return result


OPS = ("light_op_ms", "heavy_op_ms", "bulk_op_ms")


def _ops(result: Result, query_s: dict[str, float]) -> None:
    """The three query sets' summed times, in ms."""
    for k, names in zip(OPS, (dg.LIGHT_QUERIES, DOC_QUERIES, GRAPH_QUERIES)):
        setattr(result, k, sum(query_s.get(n, 0.0) for n in names) * 1e3)


def _layers(result: Result, query_s: dict[str, float], profile: dict[str, dict]) -> None:
    L = result.per_layer
    for name in QUERIES:
        L[f"query.{name}_s"] = (query_s.get(name, 0.0), "s")
    for name in dg.HEAVY_QUERIES:
        p = profile.get(name, {})
        wall = p.get("wall_s", 0.0)
        L[f"profile.{name}.jobs"] = (float(p.get("jobs", 0)), "count")
        L[f"profile.{name}.tasks"] = (float(p.get("tasks", 0)), "count")
        L[f"profile.{name}.executor_cpu_s"] = (p.get("executor_cpu_s", 0.0), "s")
        L[f"profile.{name}.executor_run_s"] = (p.get("executor_run_s", 0.0), "s")
        L[f"profile.{name}.shuffle_write_mb"] = (p.get("shuffle_write_mb", 0.0), "MB")
        L[f"profile.{name}.spill_mb"] = (p.get("spill_mb", 0.0), "MB")
        L[f"profile.{name}.outside_jobs_s"] = (max(wall - p.get("in_jobs_s", 0.0), 0.0), "s")
    light = [profile.get(n, {}) for n in dg.LIGHT_QUERIES]
    L["profile.light.jobs"] = (float(sum(p.get("jobs", 0) for p in light)), "count")
    L["profile.light.tasks"] = (float(sum(p.get("tasks", 0) for p in light)), "count")
    L["profile.light.outside_jobs_s"] = (
        sum(max(p.get("wall_s", 0.0) - p.get("in_jobs_s", 0.0), 0.0) for p in light), "s")
