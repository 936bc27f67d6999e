"""Mergeable streaming sketches that replace corpus-wide shuffles at scale.

``misra_gries_candidates`` implements the classic deterministic
heavy-hitters summary (Misra & Gries 1982): each partition keeps at most
``k`` counters over its local stream; any item whose LOCAL frequency
exceeds n_p/k is guaranteed to survive that partition's summary.  By
pigeonhole, any item with GLOBAL frequency > n/k must exceed n_p/k in at
least one partition, so the union of per-partition candidate sets is a
superset of the true heavy hitters — regardless of how rows are
partitioned.  ``heavy_hitters`` then recounts ONLY the candidates
(broadcast semi-join, output-cardinality aggregate) and filters with the
integer-exact ``cnt * k > n`` test, which discards every false positive.
The final result is therefore deterministic and partitioning-independent
even though the intermediate candidate set is not.

At 100 TB the payoff is that the corpus is never shuffled on the item
key: pass 1 is a map-only mapInPandas emitting <= partitions x k
candidate rows; pass 2 aggregates only rows matching the broadcast
candidate list (<= partitions x k distinct keys).  An exact top-k via
groupBy would shuffle every (item, count) pair — vocabulary-cardinality
— and a skewed hot key lands on one reducer; here hot keys are absorbed
map-side by the counter array.

The reference has no sketch machinery (single-node DuckDB can always
afford the exact GROUP BY); this extends SURVEY.md §2's aggregate family
with the canonical bounded-memory form, same spirit as the KMV distinct
sketch in workloads/datapipe.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mg_update_batch(counters: dict, values, k: int) -> dict:
    """Vectorized Misra-Gries batch merge (the mergeable-summaries
    construction, Agarwal et al. 2012): add the batch's EXACT value
    counts into the summary (pandas ``value_counts`` — C speed), then,
    if more than ``k`` counters remain, subtract the (k+1)-th largest
    count from all and drop non-positives (numpy partial select).

    Guarantee (the one the recount depends on): every subtraction step
    removes the same ``thresh`` from >= k+1 counters, so the total mass
    removed is >= (k+1)*thresh — cumulative undercount of ANY item is
    <= n_p/(k+1) < n_p/k.  An item with local frequency > n_p/k
    therefore always survives with a positive count, and the union of
    per-partition summaries is a superset of every global heavy hitter
    (the pigeonhole step in the module docstring).
    """
    import numpy as np

    s = pd.Series(values)
    vc = s.value_counts()
    for item, c in vc.items():
        counters[item] = counters.get(item, 0) + int(c)
    # value_counts drops missing values by default; the classic
    # row-at-a-time rule tracks them as counter keys, and the superset
    # contract must hold for a null item too (heavy_hitters' semi-join
    # recount can never OUTPUT a null key, but misra_gries_candidates'
    # documented superset is a library contract of its own) — fold them
    # back under the canonical None key
    null_n = int(s.isna().sum())
    if null_n:
        counters[None] = counters.get(None, 0) + null_n
    if len(counters) > k:
        vals = np.fromiter(
            counters.values(), dtype="int64", count=len(counters)
        )
        thresh = vals[np.argpartition(vals, len(vals) - (k + 1))[
            len(vals) - (k + 1)
        ]]
        counters = {t: c - thresh for t, c in counters.items() if c > thresh}
    return counters


def misra_gries_candidates(df: DataFrame, col: str, k: int) -> DataFrame:
    """Per-partition Misra-Gries summaries; returns a 1-column DataFrame
    ``[col]`` whose distinct values form a superset of every item with
    global frequency > n/k.  Map-only: no shuffle, <= k rows emitted per
    partition.  The candidate SET depends on partition boundaries; only
    its guaranteed-superset property is contract.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # output schema mirrors the input column's type — hardcoding string
    # would crash (or worse, implicitly cast the later semi-join) for
    # bigint/int item columns
    col_type = df.schema[col].dataType.simpleString()

    def mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for pdf in batches:
            counters = mg_update_batch(counters, pdf[col].values, k)
        yield pd.DataFrame({col: list(counters.keys())})

    return df.select(col).mapInPandas(mg, schema=f"{col} {col_type}")


def heavy_hitters(
    df: DataFrame,
    col: str,
    k: int,
    total: int | None = None,
    include_total: bool = False,
) -> DataFrame:
    """All items with frequency strictly greater than n/k, with exact
    counts — computed in two map-side passes (MG candidates + recount of
    candidates only), never a vocabulary-wide shuffle.

    ``total`` lets callers who already counted the stream (e.g. from
    parquet footers) skip any extra work.  Without it, the stream length
    is accumulated INSIDE the same Misra-Gries pass (each partition's
    summary carries its row count) rather than by a separate ``count()``
    job — the earlier default hid a second full scan of ``df``.  The
    tiny (candidates + 1 per partition)-row summary is checkpointed so
    the candidate list and the total both read one materialized pass.
    ``include_total=True`` adds the stream length as a ``total`` column —
    callers needing it (e.g. for a frequency-share column) then avoid
    their OWN extra counting pass over the corpus.
    Output columns: ``[col, cnt]`` (+ ``total``), deterministic for any
    partitioning.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    # Shared recount + integer-exact threshold (freq > n/k <=> freq*k > n)
    # used by BOTH branches — one definition, no divergence risk.
    def recount_above(cand: DataFrame, n_col) -> DataFrame:
        counts = (
            df.join(F.broadcast(cand), col, "left_semi")
            .groupBy(col)
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        out = counts.filter(F.col("cnt") * k > n_col).select(col, "cnt")
        return (
            out.withColumn("total", n_col.cast("long"))
            if include_total
            else out
        )

    if total is not None:
        cand = misra_gries_candidates(df, col, k).distinct()
        return recount_above(cand, F.lit(total))

    col_type = df.schema[col].dataType.simpleString()

    def mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        n = 0
        for pdf in batches:
            n += len(pdf)
            counters = mg_update_batch(counters, pdf[col].values, k)
        yield pd.DataFrame(
            {
                col: list(counters.keys()) + [None],
                "pn": [0] * len(counters) + [n],
            }
        )

    summary = (
        df.select(col)
        .mapInPandas(mg, schema=f"{col} {col_type}, pn bigint")
        .localCheckpoint(eager=False)
    )
    cand = summary.filter(F.col(col).isNotNull()).select(col).distinct()
    # The stream total stays IN-PLAN as a broadcast 1-row relation — no
    # driver collect, no extra blocking job round: the lazy checkpoint
    # materializes once (when the candidate broadcast builds) and both
    # the candidate list and the total read it.
    tot = summary.agg(F.sum("pn").cast("long").alias("__hh_total"))
    counts = (
        df.join(F.broadcast(cand), col, "left_semi")
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    out = counts.crossJoin(F.broadcast(tot)).filter(
        F.col("cnt") * k > F.col("__hh_total")
    )
    if include_total:
        return out.select(col, "cnt", F.col("__hh_total").alias("total"))
    return out.select(col, "cnt")


def grouped_topk(
    df: DataFrame,
    group_cols: list,
    order_col: str,
    k: int,
    tiebreak: str | None = None,
) -> DataFrame:
    """Exact top-k rows per group (by ``order_col`` descending, ties
    broken ascending on ``tiebreak``) without sorting the corpus.

    The naive plan — row_number() over (partition by g order by v) +
    filter rank <= k — shuffles and SORTS every row of every group; one
    hot group becomes one giant sorted task.  This operator cuts the
    pre-shuffle volume with a map-side candidate pass: each input
    partition keeps only its own top-k per group (bounded pandas
    head(k) state), so at most partitions * k rows per group reach the
    final exact rank window.  A row in the global top-k by the composite
    key is necessarily in its partition's top-k, so the result is
    identical to the naive plan for any partitioning.

    At 100 TB: shuffle volume drops from |corpus| to
    |groups| * partitions * k, and the skew ceiling per reduce task
    drops from |hottest group| to partitions * k.
    """
    schema = df.schema

    def partial_topk(batches):
        import pandas as pd

        cand = None
        for pdf in batches:
            pool = pdf if cand is None else pd.concat([cand, pdf])
            srt = pool.sort_values(
                [order_col] + ([tiebreak] if tiebreak else []),
                ascending=[False] + ([True] if tiebreak else []),
                kind="mergesort",
            )
            # dropna=False: a NULL group key is a group like any other —
            # pandas' default dropna=True would silently discard those
            # rows here while the final row_number window keeps them,
            # breaking the 'identical to the naive plan' contract
            cand = srt.groupby(group_cols, sort=False, dropna=False).head(k)
        if cand is not None:
            yield cand

    candidates = df.mapInPandas(partial_topk, schema=schema)
    order = [F.desc(order_col)] + ([F.asc(tiebreak)] if tiebreak else [])
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# HyperLogLog with integer-exact registers (m = 256, p = 8)
# ---------------------------------------------------------------------------

# Hash: first 13 hex chars of md5 -> 52-bit integer (md5 is the one hash
# both engines compute identically; see functions/hashing.py).  Low 8 bits
# pick the register; the remaining 44 bits feed the leading-zero count.
HLL_M = 256
HLL_REST_BITS = 44
# alpha_m * m^2 * 2^44 precomputed in Python and embedded as ONE decimal
# literal so Spark and DuckDB parse the identical double; the estimate is
# then a single float division by an exact BIGINT — deterministic.
HLL_NUMERATOR = 8.281119189271282e+17


def grouped_hll_distinct(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Per-group HyperLogLog distinct-count estimate, engine-portable.

    Returns ``(group_col, register_sum, hll_estimate)`` where
    ``register_sum = sum_j 2^(44 - M_j)`` over all 256 registers (BIGINT,
    bit-exact — the differential-correctness anchor) and ``hll_estimate =
    alpha_m * m^2 * 2^44 / register_sum`` (the raw Flajolet et al. 2007
    estimator; no small/large-range correction, so the bias floor at
    cardinality << m is accepted and documented rather than patched with a
    float log()).  rho is capped at 44 (the rest==0 case merges into it),
    keeping every addend an exact power of two inside BIGINT:
    256 * 2^44 = 2^52, far from overflow, and the sum is
    order-independent — no float-summation nondeterminism under AQE
    re-partitioning.

    Plan: ONE scan feeding one hash aggregate to (group, register)
    max-rho — 256 rows per group regardless of input size, the whole
    point of the sketch — then a dense 256-register grid per group
    (derived from the sketch relation itself, not a rescan) restores
    empty registers before the final per-group sum.  Nothing broadcast, nothing
    collected; registers merge with MAX so the sketch is mergeable across
    partitions, files, or days (partial aggregation does the merge
    map-side for free).

    The reference's DuckDB would run exact COUNT(DISTINCT) single-node;
    at 100 TB that is a full shuffle of every distinct key, while this is
    a constant 2 KB of state per group.
    """
    h = (
        f"CAST(conv(substr(md5(CAST({value_col} AS STRING)), 1, 13), 16, 10)"
        " AS BIGINT)"
    )
    rho = (
        f"CASE WHEN {h} DIV {HLL_M} > 0"
        f" THEN LEAST({HLL_REST_BITS + 1} - length(bin({h} DIV {HLL_M})),"
        f" {HLL_REST_BITS}) ELSE {HLL_REST_BITS} END"
    )
    regmax = (
        df.select(
            F.col(group_col),
            F.expr(f"{h} % {HLL_M}").alias("reg"),
            F.expr(rho).alias("rho"),
        )
        .groupBy(group_col, "reg")
        .agg(F.max("rho").alias("m"))
    )
    # group universe from the 256-rows-per-group sketch relation, NOT a
    # second scan of the input — the whole point is one pass over the data
    grid = (
        regmax.select(group_col)
        .distinct()
        .select(
            F.col(group_col),
            F.explode(F.sequence(F.lit(0), F.lit(HLL_M - 1))).alias("reg"),
        )
    )
    filled = grid.join(regmax, [group_col, "reg"], "left").select(
        F.col(group_col),
        F.coalesce(F.col("m"), F.lit(0)).alias("m"),
    )
    return filled.groupBy(group_col).agg(
        F.sum(
            F.expr(f"CAST(shiftleft(CAST(1 AS BIGINT), {HLL_REST_BITS} - m) AS BIGINT)")
        ).alias("register_sum"),
        F.round(
            F.lit(HLL_NUMERATOR)
            / F.sum(
                F.expr(
                    f"CAST(shiftleft(CAST(1 AS BIGINT), {HLL_REST_BITS} - m) AS BIGINT)"
                )
            ),
            4,
        ).alias("hll_estimate"),
    )


def kmv_ranked(hashed: DataFrame, group_cols: list, k: int = 64, shards: int = 32):
    """Sharded KMV merge: per-group candidate k-mins with global rank.

    THE construction shared by every KMV query (distinct_kmv_sketch,
    source_overlap_kmv — two sketches built here MUST stay bit-identical
    or their set algebra silently diverges): per (group, h % shards)
    partial k-mins (map-side bounded state, no global sort of the hash
    stream), explode the <= shards*k survivors, then rank within the
    group.  Returns (*group_cols, h, rn, cnt) where rn is the global
    ascending hash rank and cnt the merged candidate count — callers
    filter rn <= k (sketch membership) or pick rn == least(k, cnt)
    (the kth-min estimator).
    """
    from pyspark.sql import Window

    partial = hashed.groupBy(
        *group_cols, (F.col("h") % shards).alias("shard")
    ).agg(F.slice(F.array_sort(F.collect_list("h")), 1, k).alias("mins"))
    wp = Window.partitionBy(*group_cols).orderBy("h")
    wc = Window.partitionBy(*group_cols)
    return (
        partial.select(*group_cols, F.explode("mins").alias("h"))
        .withColumn("rn", F.row_number().over(wp))
        .withColumn("cnt", F.count(F.lit(1)).over(wc))
    )
