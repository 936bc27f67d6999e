"""Join strategies for scale: salted (skew-resistant), as-of, bloom semi-filters.

These helpers make the 100 TB join patterns explicit and testable:

- ``salted_join``: a shuffle join on a skewed key puts an entire hot key
  in one task.  Salting splits each hot key into ``salt_factor`` subkeys:
  the large side gets a random-but-deterministic salt derived from a row
  fingerprint, the small side is exploded ×salt_factor, and the join key
  becomes (key, salt).  Result is identical to the plain join; the hot
  key's work is spread over ``salt_factor`` tasks.  (AQE skew-join
  handles many cases at runtime; explicit salting is the deterministic
  tool when one key dominates by orders of magnitude.)
- ``asof_join_backward``: DuckDB's ``ASOF JOIN`` as one keyed window.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def salted_join(
    large: DataFrame,
    small: DataFrame,
    key: str,
    salt_factor: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join on ``key``.

    The large side's salt is ``pmod(hash(all columns), salt_factor)`` —
    deterministic per row, uniform across the hot key's rows.  The small
    side is replicated ×salt_factor (cheap: it is the small side by
    definition).  Output columns = large ∪ small minus the duplicate key,
    exactly like ``large.join(small, key)``.

    Only ``inner``/``left``-family joins are supported: the replicated
    small side would emit an UNMATCHED small row once per salt under
    right/full outer semantics — silently ×salt_factor wrong — so those
    modes are rejected rather than quietly broken.
    """
    if how.replace("_", "").lower() not in (
        "inner", "left", "leftouter", "leftsemi", "leftanti", "cross",
    ):
        raise ValueError(
            f"salted_join supports inner/left joins only, got {how!r}: "
            "an unmatched small-side row would duplicate per salt under "
            "right/full outer semantics"
        )
    salt = F.pmod(F.hash(*[F.col(c) for c in large.columns]), F.lit(salt_factor))
    l_salted = large.withColumn("_salt", salt)
    s_salted = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_factor - 1)))
    )
    out = l_salted.join(s_salted, [key, "_salt"], how)
    return out.drop("_salt")


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str,
    right_value_cols: Sequence[str],
) -> DataFrame:
    """As-of (backward) join: each left row picks up the right row with
    the greatest ``ts_col`` <= its own, per ``key_col`` — the operator
    Spark's join zoo lacks (DuckDB spells it ``ASOF JOIN``).

    Implemented the scale-correct way: tag both sides, UNION, and run one
    running ``last(ignorenulls)`` window per key ordered by (ts, side) —
    right rows sort before left at equal ts, so ties match.  That is ONE
    shuffle of both inputs keyed on ``key_col`` and a sort within
    partitions — no per-row subquery, no range crossJoin, no broadcast;
    at 100 TB it behaves exactly like a sort-merge join.  Caller contract:
    ``right`` has at most one row per (key, ts) — pre-aggregate ties
    (e.g. max id) so the match is deterministic.

    The right values ride as ONE struct (``_r``): the struct is NULL
    exactly on left filler rows, so ``last(ignorenulls)`` matches the
    most recent right ROW — a right row whose VALUE is genuinely NULL
    correctly yields NULL (per-column ignorenulls would reach back past
    it to a stale earlier value), and multiple value columns always come
    from the same right row, never mixed across rows.

    Returns all left columns plus ``right_value_cols`` (null when no
    earlier right row exists).
    """
    from pyspark.sql import Window

    r = right.select(
        key_col,
        ts_col,
        F.struct(*[F.col(c) for c in right_value_cols]).alias("_r"),
    ).withColumn("_side", F.lit(0))
    l = left.withColumn("_side", F.lit(1))
    u = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = u.withColumn("_r", F.last("_r", ignorenulls=True).over(w))
    out = u.filter(F.col("_side") == 1)
    for c in right_value_cols:
        out = out.withColumn(c, F.col("_r").getField(c))
    return out.drop("_side", "_r")


def bloom_semi_filter(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    m: int = 4096,
    h: int = 2,
) -> DataFrame:
    """Bloom-style pre-filter of ``probe`` against ``build``'s key set —
    the shuffle-avoidance pattern for joins whose big side is mostly
    non-matching rows.

    Uses the *partitioned* Bloom variant (one m-slot array per hash
    function, Kirsch-Mitzenmacher style): for each of ``h`` seeded md5
    hash functions the build side collapses to its DISTINCT slot set
    (<= min(m, |build|) rows — tiny), broadcast, and the probe side keeps
    only rows whose slot is present for EVERY hash function.  Guarantees:
    no false negatives (every matching row survives); false positives are
    deterministic given (m, h, md5), so downstream exact joins see a
    reproducible input in both engines.

    At 100 TB this is the difference between shuffling the full fact
    table into a join versus shuffling only the ~selectivity fraction
    that can possibly match: the filter is h broadcast semi-joins, all
    map-side.  (Spark's AQE injects runtime bloom filters with the same
    shape; this explicit form is engine-portable and oracle-checkable.)
    """
    from ..functions.hashing import md5_int_expr

    out = probe
    for j in range(1, h + 1):
        build_slot = F.expr(
            md5_int_expr(
                f"'{j}:' || CAST({build_key} AS STRING)", "spark", 12
            )
        ) % m
        probe_slot = F.expr(
            md5_int_expr(
                f"'{j}:' || CAST({probe_key} AS STRING)", "spark", 12
            )
        ) % m
        slots = build.select(build_slot.alias(f"_bloom{j}")).distinct()
        out = out.withColumn(f"_p{j}", probe_slot).join(
            F.broadcast(slots),
            F.col(f"_p{j}") == F.col(f"_bloom{j}"),
            "left_semi",
        ).drop(f"_p{j}")
    return out


def bitmap_bloom_filter(
    probe: DataFrame,
    build: DataFrame,
    probe_keys: Sequence[str],
    build_keys: Sequence[str],
    num_bits: int = 1 << 28,
) -> DataFrame:
    """TRUE-bitmap Bloom prefilter of ``probe`` against ``build``'s key
    set, built distributed with pure DataFrame ops (no driver collect):
    each build key sets bit ``xxhash64(keys) mod num_bits``; bits pack
    into 63-bit words via a ``bit_or`` group-aggregate (map-side
    combine), and the word table — AT MOST ``num_bits/63`` rows however
    large the build side is, the property a slot-set approach like
    :func:`bloom_semi_filter` loses past ~m keys — broadcasts to the
    probe, which keeps rows whose bit is set.

    ``xxhash64`` is TYPE-sensitive: hashing the same value as INT and
    as BIGINT lands on different slots, which would silently drop
    matching probe rows — a false NEGATIVE.  Integral key columns are
    therefore widened to BIGINT on both sides before hashing; any
    remaining probe/build type mismatch (e.g. INT vs DOUBLE, where even
    the exact join's semantics are coercion-dependent) is rejected
    loudly rather than quietly violating the no-false-negatives
    guarantee.

    No false negatives (every matching probe row survives); false
    positives pass through to the exact join downstream, so the
    RESULT of prefilter+join is bit-identical to the plain join no
    matter how ``num_bits`` is sized — sizing only tunes how much
    shuffle the prefilter saves (fp ~= 1 - exp(-n_build/num_bits)).

    The shuffle-avoidance pattern for joins whose big side is mostly
    non-matching: the probe-side work is one codegen hash + one
    broadcast hash lookup per row, all map-side, and the join behind
    it shuffles only the surviving fraction.  Spark's AQE runtime
    bloom filters have the same shape; this explicit form works with
    AQE off and under any join strategy.
    """
    _INTEGRAL = ("tinyint", "smallint", "int", "bigint")

    def _canon(df: DataFrame, keys: Sequence[str]) -> list[str]:
        types = dict(df.dtypes)
        return [
            f"CAST({c} AS BIGINT)" if types[c] in _INTEGRAL else c
            for c in keys
        ]

    def _canon_types(df: DataFrame, keys: Sequence[str]) -> list[str]:
        types = dict(df.dtypes)
        return [
            "bigint" if types[c] in _INTEGRAL else types[c] for c in keys
        ]

    p_canon = _canon_types(probe, probe_keys)
    b_canon = _canon_types(build, build_keys)
    if p_canon != b_canon:
        raise TypeError(
            "bitmap_bloom_filter: probe/build key types must match after "
            f"integral widening, got probe={p_canon} build={b_canon} — "
            "xxhash64 is type-sensitive, a mismatch silently drops "
            "matching rows (false negatives)"
        )

    # 63 usable bits per word: shifts never reach the sign bit, so
    # every word stays a positive BIGINT (bit_or is sign-agnostic but
    # positive-only is simpler to reason about)
    def slot_sql(cols: Sequence[str]) -> str:
        return f"pmod(xxhash64({', '.join(cols)}), {num_bits})"

    b = slot_sql(_canon(build, build_keys))
    words = (
        build.select(
            F.expr(f"CAST({b} DIV 63 AS BIGINT)").alias("_bbf_w"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST({b} % 63 AS INT))"
            ).alias("_bbf_b"),
        )
        .groupBy("_bbf_w")
        .agg(F.expr("bit_or(_bbf_b)").alias("_bbf_bits"))
    )
    p = slot_sql(_canon(probe, probe_keys))
    out = (
        probe.withColumn("_bbf_pw", F.expr(f"CAST({p} DIV 63 AS BIGINT)"))
        .withColumn(
            "_bbf_pb",
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({p} % 63 AS INT))"),
        )
        .join(
            F.broadcast(words),
            F.col("_bbf_pw") == F.col("_bbf_w"),
            "inner",  # a missing word means NO build key in it: drop
        )
        .filter(F.col("_bbf_bits").bitwiseAND(F.col("_bbf_pb")) != 0)
        .drop("_bbf_pw", "_bbf_pb", "_bbf_w", "_bbf_bits")
    )
    return out
