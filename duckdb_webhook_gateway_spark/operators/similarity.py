"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk``       — brute-force exact top-k: the correctness baseline.
- ``near_dup_pairs``    — all pairs above a cosine threshold.
- ``lsh_buckets``       — random-hyperplane signature bucketing: the scale
                          path (candidate generation for ANN / near-dup).

Execution: pair scoring runs in an Arrow-batched pandas UDF (numpy
``einsum`` over stacked float64 matrices) — measured 6× faster than the
equivalent higher-order-function fold on 2M pairs (HOFs are interpreted,
not codegen'd).  Determinism across engines: both the numpy path and the
DuckDB oracle's list fold agree to ~1e-15 relative error; every cosine is
rounded to 1e-6 before any comparison, ranking, or thresholding, which
absorbs that drift entirely.

Scale notes: brute-force is O(Q×N×d) — fine for a broadcast query set
against a partitioned corpus (each executor scores its slice; the only
shuffle is the final top-k, which is k rows per partition).  For N×N
near-dup at 100 TB, bucket first (``lsh_buckets``) and only score within
buckets, exactly like the MinHash-LSH dedup composition.

INPUT CONTRACT — finite float elements: zero-norm vectors are handled
everywhere (NULLS-LAST / never-above-threshold), but NaN/Inf ELEMENTS
are upstream corruption the engines disagree on structurally; run
``finite_gate`` first and quarantine dirty rows (see its docstring).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


_COSINE_UDF = None


def _cosine_batch():
    """Lazily-built pandas UDF (DDL type parsing needs an active session)."""
    global _COSINE_UDF
    if _COSINE_UDF is None:

        @pandas_udf("double")
        def cosine(a: pd.Series, b: pd.Series) -> pd.Series:
            ma = np.stack(a.values).astype("float64")
            mb = np.stack(b.values).astype("float64")
            dots = np.einsum("ij,ij->i", ma, mb)
            na = np.sqrt(np.einsum("ij,ij->i", ma, ma))
            nb = np.sqrt(np.einsum("ij,ij->i", mb, mb))
            # zero-norm rows yield NaN deliberately (cosine undefined,
            # matches the oracle's NULL); silence the expected warning
            with np.errstate(invalid="ignore", divide="ignore"):
                return pd.Series(np.round(dots / (na * nb), 6))

        _COSINE_UDF = cosine
    return _COSINE_UDF


def with_cosine(pairs: DataFrame, vec_a: str, vec_b: str, out: str = "cosine") -> DataFrame:
    """Add round(cosine(vec_a, vec_b), 6) to a pair relation."""
    return pairs.withColumn(out, _cosine_batch()(F.col(vec_a), F.col(vec_b)))


def cosine_scores(
    queries,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """All query×corpus rounded cosines — (query_id, neighbor_id,
    cosine), self-pairs excluded — in ONE fused Arrow pass over the
    partitioned corpus with the query BLOCK broadcast (the pq_topk
    execution pattern).

    Versus the broadcast-crossJoin + per-pair UDF formulation this
    never materializes a pair relation carrying two vector payloads:
    the Arrow stream is the corpus itself (N×d once, not N×Q×2d), and
    each batch scores against all queries with one matmul.  Zero-norm
    vectors yield NaN deliberately (cosine undefined → Arrow NULL →
    the NULLS-LAST path, same contract as ``with_cosine``).

    ``carry`` names corpus columns to pass through IN-ROW onto each
    scored pair (appended after ``cosine``, corpus types preserved) —
    a consumer that needs a neighbor attribute (e.g. its label for
    hard-negative mining) gets it for free inside the Arrow pass
    instead of equi-joining the Q×N pair stream back against the
    corpus, which would add a corpus-cardinality shuffle.
    """
    spark = corpus.sparkSession
    if isinstance(queries, pd.DataFrame):
        q_pd = queries.rename(columns={id_col: "_id", vec_col: "_v"})[
            ["_id", "_v"]
        ].sort_values("_id")
    else:
        q_pd = (
            queries.select(
                F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
            )
            .orderBy("_id")
            .toPandas()
        )
    clash = {"query_id", "neighbor_id", "cosine"}.intersection(carry)
    if clash:
        raise ValueError(
            f"cosine_scores: carry columns {sorted(clash)} collide with "
            "the fixed output columns (query_id, neighbor_id, cosine) — "
            "alias them on the corpus relation first"
        )
    if len(q_pd) == 0:
        raise ValueError(
            "cosine_scores: empty query block — the query relation "
            "selected no rows (id-prefix query devices require corpus "
            "ids starting at 0; pass an explicit non-empty query set)"
        )
    q_ids = q_pd["_id"].to_numpy(dtype="int64")
    q_mat = np.stack(
        [np.asarray(v, dtype="float64") for v in q_pd["_v"].values]
    )
    q_norm = np.linalg.norm(q_mat, axis=1)
    bc = spark.sparkContext.broadcast((q_ids, q_mat, q_norm))

    def fused(batches):
        b_qids, b_qmat, b_qnorm = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["neighbor_id"].to_numpy(dtype="int64")
            x = np.stack(pdf["cv"].values).astype("float64")
            x_norm = np.linalg.norm(x, axis=1)
            with np.errstate(invalid="ignore", divide="ignore"):
                sims = np.round(
                    (b_qmat @ x.T) / (b_qnorm[:, None] * x_norm[None, :]), 6
                )
            qi, ni = np.nonzero(b_qids[:, None] != ids[None, :])
            out = {
                "query_id": b_qids[qi],
                "neighbor_id": ids[ni],
                "cosine": sims[qi, ni],
            }
            for c in carry:
                out[c] = pdf[c].values[ni]
            yield pd.DataFrame(out)

    src = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        *[F.col(c) for c in carry],
    )
    carry_types = {
        f.name: f.dataType.simpleString()
        for f in src.schema.fields
        if f.name in carry
    }
    schema = "query_id bigint, neighbor_id bigint, cosine double" + "".join(
        f", {c} {carry_types[c]}" for c in carry
    )
    return src.mapInPandas(fused, schema)


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine similarity.

    Query side should be small (it is collected and broadcast — the
    :func:`cosine_scores` fused pass); the corpus stays partitioned and
    is scanned once; the only shuffle is the WindowGroupLimit top-k.
    Rank is deterministic: ordered by rounded cosine desc, then
    neighbor id.
    """
    scored = cosine_scores(queries, corpus, id_col, vec_col)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor, the ``k``
    most-similar corpus rows whose label DIFFERS from the anchor's —
    the highest-loss negatives for a contrastive/embedding training
    batch (in-batch negatives miss these; mining them from the corpus
    is the standard curriculum, e.g. the ANCE/DPR hard-negative
    recipe).

    Plan shape: one :func:`cosine_scores` fused Arrow pass over the
    partitioned corpus (anchor block broadcast), with the neighbor's
    label CARRIED IN-ROW by the pass itself — joining the Q×N pair
    stream back to the corpus for the label would add a
    corpus-cardinality shuffle; carrying it is free.  The anchor's own
    label arrives via a broadcast hash join against the
    query-cardinality label relation, the mismatch filter runs
    map-side, and the only shuffle is the WindowGroupLimit top-k.
    Rank is deterministic: rounded cosine desc, then neighbor id.

    Reference parity: beyond-reference scale operator (the gateway's
    SQL endpoint, /root/reference/src/app.py:175-239, has no vector
    surface); differential oracle in ``workloads/datapipe.py``.
    """
    scored = cosine_scores(
        queries, corpus, id_col, vec_col, carry=(label_col,)
    )
    q_lab = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.join(F.broadcast(q_lab), "query_id")
        .filter(F.col(label_col) != F.col("query_label"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            F.col(label_col).alias("neighbor_label"),
            "cosine",
            "rank",
        )
    )


# Above this corpus size the exact block-matmul path would collect and
# broadcast a >0.5 GB matrix; near_dup_pairs auto-routes to the LSH
# composition instead (candidates within buckets + exact verify).
EXACT_NEAR_DUP_CEILING = 1_000_000


def near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact_ceiling: int | None = EXACT_NEAR_DUP_CEILING,
    n_rows: int | None = None,
) -> DataFrame:
    """All (a < b) pairs with cosine >= threshold.

    Block matmul: the normalized corpus matrix is broadcast once (N×d
    float64 — 0.5 GB at N=1M, the practical ceiling for this exact path);
    each partition multiplies its row block against it with BLAS and emits
    only above-threshold pairs.  No N² pair relation ever materializes —
    the 2M-pair crossJoin variant measured 9.3 s where this runs in ~1 s.

    Past ``exact_ceiling`` rows the driver collect/broadcast would not
    fit, so the call AUTO-ROUTES to ``near_dup_pairs_lsh`` (same output
    schema; recall becomes the multi-table LSH catch probability).  Pass
    ``None`` to force the exact path regardless of size.
    """
    if exact_ceiling is not None:
        # Routing needs only the corpus size; callers that know it (e.g.
        # from parquet footer metadata) pass n_rows and skip the count
        # job.  The fallback count is metadata-only — at 100 TB it is
        # noise next to the N×N work it prevents from being attempted.
        if (vectors.count() if n_rows is None else n_rows) > exact_ceiling:
            return near_dup_pairs_lsh(
                vectors, threshold, id_col=id_col, vec_col=vec_col
            )

    spark = vectors.sparkSession
    src = vectors.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    full = src.toPandas()  # Arrow path — columnar transfer of the matrix
    ids = full["vec_id"].to_numpy(dtype="int64")
    mat = np.stack([np.asarray(v, dtype="float64") for v in full["v"].values])
    norm = np.linalg.norm(mat, axis=1)
    bc = spark.sparkContext.broadcast((ids, mat, norm))

    def block(batches):
        b_ids, b_mat, b_norm = bc.value
        # Bound the sims intermediate to ~64 MB per chunk: a full Arrow
        # batch against a large corpus materializes rows x N float64 at
        # once (10k rows x 50k vectors = 4 GB) — with every core running
        # a task that is GBs of concurrent allocation churn, measured as
        # 2-4x wall-time swings at sf1.  Chunking costs nothing (the
        # same total FLOPs through BLAS) and caps task memory at
        # chunk x N x 8 bytes regardless of batch or corpus size.
        chunk = max(1, (8 << 20) // max(1, len(b_ids)))
        for pdf in batches:
            a_ids_all = pdf["vec_id"].to_numpy(dtype="int64")
            a_all = np.stack(pdf["v"].values).astype("float64")
            for s in range(0, len(a_ids_all), chunk):
                a_ids = a_ids_all[s : s + chunk]
                a_mat = a_all[s : s + chunk]
                a_norm = np.linalg.norm(a_mat, axis=1)
                # dot / (|a|·|b|): same association order as the
                # oracle's dot/(sqrt·sqrt) — see ivf_topk note on
                # rounding drift.  Zero-norm NaN is deliberate (cosine
                # undefined; never >= threshold) — silence the warning.
                with np.errstate(invalid="ignore", divide="ignore"):
                    sims = np.round(
                        (a_mat @ b_mat.T)
                        / (a_norm[:, None] * b_norm[None, :]),
                        6,
                    )
                ai, bi = np.nonzero(
                    (sims >= threshold) & (a_ids[:, None] < b_ids[None, :])
                )
                yield pd.DataFrame(
                    {
                        "vec_a": a_ids[ai],
                        "vec_b": b_ids[bi],
                        "cosine": sims[ai, bi],
                    }
                )

    return src.mapInPandas(block, schema="vec_a bigint, vec_b bigint, cosine double")


# Auto hash-width rule, measured by the round-13 constant-density scale
# probe (tools/gen_scale_probe.py; BASELINE.md "Knob demonstration"):
# the default 4 planes/table is tuned for a ~20k-vector corpus (probe1,
# 10 replicas of sf0.1 = 20,000 vectors, mean occupancy ~1.25k/bucket);
# at 10x corpus (probe10, 200k) the hand-tuned value was 7 — i.e. add
# one bit per corpus DOUBLING, keeping mean bucket occupancy inside
# [1x, 2x) of the tuned band.  floor(log2(n/ref)), not ceil: the probe's
# 10x point measured 7 (floor gives 4+3), and each bit costs recall at
# marginal cosines, so stay at the coarse edge of the band.
AUTO_PLANES_BASE = 4
AUTO_PLANES_REF_VECTORS = 20_000


def auto_planes_per_table(
    n_vectors: int,
    base: int = AUTO_PLANES_BASE,
    ref_vectors: int = AUTO_PLANES_REF_VECTORS,
) -> int:
    """Hash width for an ``n_vectors``-row corpus: ``base`` plus one bit
    per corpus doubling past ``ref_vectors``.

    auto(20_000) == 4 (the tuned default) and auto(200_000) == 7 (the
    r13 probe's hand-tuned 10x value, measured 46.3 s -> 9.2 s against
    the stale default) — the parameter-follows-data rule, same as
    shuffle partitions following bytes.
    """
    import math

    n = int(n_vectors)
    if n <= ref_vectors:
        return int(base)
    return int(base) + int(math.floor(math.log2(n / ref_vectors)))


def _resolve_planes(vectors: DataFrame, planes_per_table) -> int:
    """Resolve a ``planes_per_table`` knob: explicit int, or ``"auto"``.

    ``"auto"`` sizes from the corpus cardinality — parquet footer
    metadata ONLY when the frame is a bare scan+project of its files
    (``plans/spread.py::plan_preserves_scan_rows``), a one-off
    ``count()`` job otherwise.  The gate matters for RECALL, not just
    cost (review fix r14): ``inputFiles()`` survives filters, so a
    filtered corpus would report its pre-filter footer count, and an
    OVER-estimated N over-widens the hash — near-threshold pairs stop
    colliding and the query silently returns fewer pairs, with no
    verification step to catch it (unlike the ranks bracket path).
    Under-estimation merely costs time; over-estimation costs answers,
    so anything but a bare scan pays the count.  Registered
    oracle-replayable queries keep explicit ints so the DuckDB oracle
    can rebuild the identical tables without engine metadata.
    """
    if isinstance(planes_per_table, int):
        return planes_per_table
    if planes_per_table != "auto":
        raise ValueError(
            "planes_per_table must be an int or 'auto', got "
            f"{planes_per_table!r}"
        )
    from ..plans.spread import plan_preserves_scan_rows, scan_rows

    n = scan_rows(vectors) if plan_preserves_scan_rows(vectors) else None
    if n is None:
        n = vectors.count()
    return auto_planes_per_table(n)


def lsh_buckets(
    vectors: DataFrame,
    num_tables: int = 4,
    planes_per_table: "int | str" = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table random-hyperplane LSH: (vec_id, table_id, bucket).

    Candidate generation = pairs sharing a bucket in ANY table.  A single
    k-bit table has recall (1-θ/π)^k — at cosine 0.45 (θ≈63°) an 8-bit
    table catches ~3% of true pairs; 4 independent 4-bit tables catch
    ~1-(1-0.65⁴)⁴ ≈ 55%, and >95% for genuinely-near pairs (cos≥0.9).
    Same banding trade-off as MinHash-LSH.

    Plane weights are derived deterministically from md5 (w_{j,d} =
    md5int(j||'_'||d)/2^31 - 1 ∈ [-1,1)), so both engines build the same
    planes with no stored state.  The projection sign is taken on the
    value rounded to 1e-9 to absorb summation-order jitter (numpy's
    blocked dot, Spark's partial-agg sum and DuckDB's sequential sum
    all land within ~1e-14 of each other on unit-scale vectors — the
    round makes the SIGN, and therefore the bucket, engine-portable).
    Rounding-mode caveat: ``np.round`` is half-to-even while the
    oracle's SQL ``round`` is half-away-from-zero; a projection landing
    EXACTLY on a 5e-10 tie could differ — measure-zero for continuous
    projections (parity holds), so the derivation is value-identical,
    not bit-for-bit on ties.

    ``bucket_size`` is attached with a partial-aggregate + join-back
    (``operators/frequency.py``), NOT a count window: with only
    ``num_tables * 2^planes_per_table`` distinct (table, bucket) keys a
    count window would funnel the whole corpus-scale bucket stream
    through that many tasks, and a hot bucket pins its rows on one.
    The bucket stream is lazily checkpointed first so the projection
    pass runs once, not once per join branch; the count build side is
    key-cardinality (64 rows at the defaults) and broadcasts.

    ONE Arrow-batched pass: there are only planes x dim distinct
    weights (4 KB here), so each worker materializes the plane matrix
    once — from the byte-identical md5 derivation the oracle uses —
    and projects a whole batch with a single matmul.  An earlier form
    EXPLODED to N x dim x planes rows, evaluating an md5 string hash
    per row (205M md5 calls at sf1 for 4,096 distinct weights) — that
    explode dominated every LSH caller's runtime at every scale.
    """
    import hashlib

    planes_per_table = _resolve_planes(vectors, planes_per_table)
    num_planes = num_tables * planes_per_table
    src = vectors.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
    )

    def assign(batches):
        W = None
        pw = 2 ** np.arange(planes_per_table, dtype="int64")
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(dtype="int64")
            m = np.stack(pdf["v"].values).astype("float64")
            if W is None or W.shape[1] != m.shape[1]:
                W = np.array(
                    [
                        [
                            int(
                                hashlib.md5(
                                    f"{j}_{d}".encode()
                                ).hexdigest()[:8],
                                16,
                            )
                            / 2147483648.0
                            - 1.0
                            for d in range(1, m.shape[1] + 1)
                        ]
                        for j in range(num_planes)
                    ]
                )
            proj = np.round(m @ W.T, 9)  # N x num_planes
            bits = (proj > 0).astype("int64")
            frames = []
            for t in range(num_tables):
                seg = bits[:, t * planes_per_table : (t + 1) * planes_per_table]
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": ids,
                            "table_id": np.full(len(ids), t, dtype="int32"),
                            "bucket": seg @ pw,
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    buckets = src.mapInPandas(
        assign, "vec_id bigint, table_id int, bucket bigint"
    ).localCheckpoint(eager=False)
    from .frequency import attach_group_count

    return attach_group_count(
        buckets, ("table_id", "bucket"), "bucket_size"
    ).select("vec_id", "table_id", "bucket", "bucket_size")


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    keep_vec: bool = False,
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine).

    ``keep_vec=True`` carries the vector through as column ``v`` so
    callers that score within clusters (``semantic_dedup``) skip a
    shuffle-join back to the corpus.

    The IVF coarse quantizer: with C centroids the corpus is split into C
    inverted lists; search then probes a few lists instead of the whole
    corpus.  Assignment is one broadcast crossJoin + windowed argmax —
    linear in |vectors|, no shuffle of the corpus itself.  Ties break on
    centroid id (cosines are pre-rounded, so ordering is engine-portable).
    """
    v = vectors.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    c = centroids.select(
        F.col(centroid_id_col).alias("centroid_id"), F.col(vec_col).alias("cv")
    )
    scored = with_cosine(v.crossJoin(F.broadcast(c)), "v", "cv", out="c_cos")
    w = Window.partitionBy("vec_id").orderBy(F.desc("c_cos"), F.asc("centroid_id"))
    cols = ["vec_id", "centroid_id"]
    if keep_vec:
        cols.append("v")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(*cols)
    )


# --- shared IVF quantizer machinery -----------------------------------
# ivf_topk, ivf_layout_write and ivf_pruned_topk must agree BIT-FOR-BIT
# (the layout path's pinned contract is identity with the unorganized
# scan), so the collection, probe-map, assignment and scoring kernels
# exist exactly once.


def _collect_vec_block(rel, id_field: str, vec_field: str, err: str):
    """Driver-side (ids, mat, norm) for a SMALL relation (centroids or
    the query block) — accepts a DataFrame or an already-collected
    pandas frame, sorts by id for deterministic order, raises ``err``
    when empty."""
    if isinstance(rel, pd.DataFrame):
        pdf = rel.rename(columns={vec_field: "_v"})[
            [id_field, "_v"]
        ].sort_values(id_field)
    else:
        pdf = (
            rel.select(id_field, F.col(vec_field).alias("_v"))
            .orderBy(id_field)
            .toPandas()
        )
    if len(pdf) == 0:
        raise ValueError(err)
    ids = pdf[id_field].to_numpy(dtype="int64")
    mat = np.stack([np.asarray(v, dtype="float64") for v in pdf["_v"].values])
    return ids, mat, np.linalg.norm(mat, axis=1)


def _ivf_probe_map(q_ids, q_mat, q_norm, c_ids, c_mat, c_norm, nprobe):
    """query index -> nprobe nearest centroids, inverted to
    {centroid_id: query indices}.  Rounded sims + stable argsort keep
    ascending-centroid tie order (the oracle's cosine DESC, centroid_id
    rank); NaN (zero-norm) -> -inf mirrors NULLS-LAST."""
    with np.errstate(invalid="ignore", divide="ignore"):
        q_sims = np.round(
            (q_mat @ c_mat.T) / (q_norm[:, None] * c_norm[None, :]), 6
        )
    q_sims = np.where(np.isnan(q_sims), -np.inf, q_sims)
    probe_order = np.argsort(-q_sims, axis=1, kind="stable")[:, :nprobe]
    probed: dict[int, "np.ndarray"] = {}
    for ci in np.unique(probe_order.ravel()):
        qidx = np.nonzero((probe_order == ci).any(axis=1))[0]
        probed[int(c_ids[ci])] = qidx
    return probed


def _ivf_assign(a, a_norm, c_ids, c_mat, c_norm):
    """Coarse list assignment for a batch: argmax of rounded cosine vs
    the centroids; first-max -> lowest centroid id on rounded ties
    (oracle order); NaN -> -inf so a zero-norm centroid never claims
    every vector via NaN-as-max."""
    with np.errstate(invalid="ignore", divide="ignore"):
        sims = np.round(
            (a @ c_mat.T) / (a_norm[:, None] * c_norm[None, :]), 6
        )
    sims = np.where(np.isnan(sims), -np.inf, sims)
    return c_ids[np.argmax(sims, axis=1)]


def _ivf_score_members(a_sub, a_norm_sub, n_ids, qidx, q_ids, q_mat, q_norm):
    """In-list scoring kernel: rounded cosine of the list's members vs
    the queries probing it, self-pairs excluded.  Returns the (query,
    neighbor, cosine) triples as arrays."""
    with np.errstate(invalid="ignore", divide="ignore"):
        sims = np.round(
            (a_sub @ q_mat[qidx].T)
            / (a_norm_sub[:, None] * q_norm[qidx][None, :]),
            6,
        )
    ni, qi = np.nonzero(n_ids[:, None] != q_ids[qidx][None, :])
    return q_ids[qidx][qi], n_ids[ni], sims[ni, qi]


def _topk_by_cosine(cand: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_topk(
    queries,
    corpus: DataFrame,
    num_centroids: int = 16,
    nprobe: int = 2,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> DataFrame:
    """IVF approximate nearest neighbors — fused single-pass plan.

    Coarse quantizer: by default the first ``num_centroids`` corpus
    vectors (by id) act as centroids — deterministic, so the DuckDB
    oracle reproduces the exact same index (a differential-testing
    device, not an index).  A production index passes trained
    ``centroids`` — any (centroid_id, ``vec_col``) relation works; lists
    that follow the data distribution let the same ``nprobe`` budget
    cover more of each query's true neighborhood.  Each query probes its
    ``nprobe`` closest lists and ranks only those lists' members: with C
    lists and balanced assignment the scored candidate set is ~nprobe/C
    of the corpus.

    Execution: queries and centroids are both broadcast (the query set is
    small by contract, like ``cosine_topk``); the probe map (query →
    nprobe lists) is computed once on the driver.  ONE ``mapInPandas``
    pass over the partitioned corpus then assigns each corpus vector to
    its list (argmax vs centroids) and immediately scores it against the
    queries probing that list — no assignment relation, no probe joins,
    no ``distinct()`` (each corpus vector lives in exactly one list, so a
    pair can only be emitted once).  The only shuffle is the final top-k
    window over the ~nprobe/C-sized candidate set.
    """
    spark = corpus.sparkSession
    if centroids is None:
        centroids = corpus.filter(F.col(id_col) < num_centroids).select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col)
        )
    # Both driver-side collects accept an ALREADY-collected pandas frame
    # (columns (centroid_id, vec_col) / (id_col, vec_col)) — callers that
    # derive queries and centroids from one tiny relation (e.g. the
    # ann_ivf_recall harness: both are id-prefixes of the corpus) collect
    # it once and slice locally instead of paying one Spark job per
    # toPandas here.  Semantics are identical; the sort below enforces
    # the same deterministic order either way.
    c_ids, c_mat, c_norm = _collect_vec_block(
        centroids,
        "centroid_id",
        vec_col,
        "ivf_topk: empty centroid relation — the default device "
        f"selects corpus rows with {id_col} < num_centroids "
        f"({num_centroids}) and requires corpus ids starting at 0 "
        "(the differential-oracle convention); on a sparse or offset "
        "id space pass centroids explicitly",
    )
    if isinstance(queries, pd.DataFrame):
        queries = queries.rename(columns={id_col: "query_id"})
    else:
        queries = queries.select(
            F.col(id_col).alias("query_id"), vec_col
        )
    q_ids, q_mat, q_norm = _collect_vec_block(
        queries, "query_id", vec_col, "ivf_topk: empty query block"
    )

    # Cosines are computed as dot / (|a|·|b|) — the SAME association order
    # as with_cosine and the oracle's dot/(sqrt·sqrt), so the only
    # cross-engine drift left is BLAS summation order, absorbed by the
    # 1e-6 round (normalize-then-dot rounds through a different float
    # path and sits closer to the boundary).
    # Driver-side probe map (shared kernel _ivf_probe_map: rounded sims,
    # NaN -> -inf NULLS-LAST mirror, stable ascending-centroid ties).
    probed_by_centroid = _ivf_probe_map(
        q_ids, q_mat, q_norm, c_ids, c_mat, c_norm, nprobe
    )

    bc = spark.sparkContext.broadcast(
        (c_ids, c_mat, c_norm, q_ids, q_mat, q_norm, probed_by_centroid)
    )

    def fused_block(batches):
        b_cids, b_cmat, b_cnorm, b_qids, b_qmat, b_qnorm, b_probe = bc.value
        for pdf in batches:
            a = np.stack(pdf["v"].values).astype("float64")
            a_norm = np.linalg.norm(a, axis=1)
            ids = pdf["vec_id"].to_numpy(dtype="int64")
            assigned = _ivf_assign(a, a_norm, b_cids, b_cmat, b_cnorm)
            out_q, out_n, out_c = [], [], []
            for cid, qidx in b_probe.items():
                mask = assigned == cid
                if not mask.any():
                    continue
                oq, on, oc = _ivf_score_members(
                    a[mask], a_norm[mask], ids[mask],
                    qidx, b_qids, b_qmat, b_qnorm,
                )
                out_q.append(oq)
                out_n.append(on)
                out_c.append(oc)
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "cosine": np.concatenate(out_c),
                    }
                )

    src = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    cand = src.mapInPandas(
        fused_block, "query_id bigint, neighbor_id bigint, cosine double"
    )
    return _topk_by_cosine(cand, k)


def near_dup_pairs_lsh(
    vectors: DataFrame,
    threshold: float = 0.45,
    num_tables: int = 4,
    planes_per_table: "int | str" = "auto",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_group_members: int = 8192,
) -> DataFrame:
    """Near-dup pairs at scale: multi-table LSH candidates + exact verify.

    The composition that replaces the O(N²) scoring when the corpus
    outgrows the broadcast ceiling: bucket every vector into
    ``num_tables`` banded sign-hash tables (linear), take pairs sharing
    any bucket (quadratic only within buckets), then score just those
    candidates exactly.  Output schema matches ``near_dup_pairs`` —
    recall is the multi-table catch probability (~55% at cos 0.45,
    >95% at cos 0.9 with 4×4 tables).

    Scoring is a vectorized in-bucket matmul (applyInPandas): each
    vector's array travels once per bucket membership (the previous
    candidate-pair shape shuffled BOTH 2 KB arrays onto every
    within-bucket pair — quadratically more array traffic; see BASELINE
    round 9).  MEMORY BOUND: a bucket larger than ``max_group_members``
    is hash-split into ``B = ceil(size / cap)`` blocks and scored as
    block PAIRS (a blocked all-pairs matmul), so no task ever
    materializes more than ~2·cap member vectors — a degenerate hot
    bucket (e.g. a corpus full of identical vectors, or default plane
    counts left unadjusted as the corpus grows 1000×) costs extra
    block-pair tasks, never task memory.  Each unordered pair lives in
    exactly one block pair (blocks partition the bucket), so the result
    is BIT-IDENTICAL to the unblocked scoring at any ``cap``; the same
    pair found in several tables still collapses in the final distinct.
    Re-sizing ``planes_per_table`` with corpus growth (log2(N/target))
    is the throughput lever, and since round 14 it is the DEFAULT:
    ``planes_per_table="auto"`` derives ``auto_planes_per_table(N)`` —
    one extra bit per corpus doubling past the tuned 20k reference —
    from parquet footer metadata (driver-side, no job) or one count.
    The r13 probe measured the rule: a 200k corpus on the stale fixed
    width ran 46.3 s (x104 candidate inflation, block-split cap
    absorbing it); the auto width (7) runs 9.2 s.  The block split
    stays as the safety net for degenerate hot buckets (identical-
    vector floods), never the sizing mechanism.  Registered
    oracle-replayable queries pass explicit ints so the DuckDB oracle
    rebuilds identical tables without engine metadata.
    """
    cap = int(max_group_members)
    if cap < 2:
        raise ValueError("max_group_members must be >= 2")
    buckets = lsh_buckets(
        vectors, num_tables, planes_per_table, id_col=id_col, vec_col=vec_col
    )
    src = vectors.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    # Block assignment: B blocks per bucket, a member's block is a hash
    # of its id (uniform over distinct ids).  A member of block k joins
    # every block pair (min(k,j), max(k,j)) for j in 0..B-1 — B group
    # rows per member, the standard blocked all-pairs replication; for
    # the common B=1 case this is exactly one group per membership,
    # identical to the unblocked plan.
    member = (
        buckets.join(src, "vec_id")
        .withColumn(
            "n_blocks",
            F.expr(f"CAST((bucket_size + {cap - 1}) DIV {cap} AS INT)"),
        )
        .withColumn(
            "block", F.expr("CAST(pmod(xxhash64(vec_id), n_blocks) AS INT)")
        )
        .withColumn("j", F.explode(F.expr("sequence(0, n_blocks - 1)")))
        .select(
            "table_id",
            "bucket",
            F.least("block", "j").alias("g1"),
            F.greatest("block", "j").alias("g2"),
            "block",
            "vec_id",
            "v",
        )
    )

    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})
        if len(pdf) == 0:
            return empty
        # structural bound: two hash-blocks of ~cap expected members
        # each; 4x slack covers binomial spread on small buckets
        if len(pdf) > 4 * (2 * cap):
            raise RuntimeError(
                f"near_dup_pairs_lsh: scoring group of {len(pdf)} members "
                f"exceeds {4 * (2 * cap)} (the 4x binomial-spread slack "
                f"over the {2 * cap} structural bound) — block split failed"
            )
        g1 = int(pdf["g1"].iloc[0])
        g2 = int(pdf["g2"].iloc[0])
        ids = pdf["vec_id"].to_numpy(dtype="int64")
        m = np.stack(pdf["v"].values).astype("float64")
        norm = np.linalg.norm(m, axis=1)
        if g1 == g2:
            a_idx = np.arange(len(ids))
            b_idx = a_idx
            same = True
        else:
            blk = pdf["block"].to_numpy(dtype="int64")
            a_idx = np.nonzero(blk == g1)[0]
            b_idx = np.nonzero(blk == g2)[0]
            same = False
            if len(a_idx) == 0 or len(b_idx) == 0:
                return empty
        ids_b = ids[b_idx]
        m_b, norm_b = m[b_idx], norm[b_idx]
        chunk = max(1, (8 << 20) // max(1, len(ids_b)))
        outs = []
        for s in range(0, len(a_idx), chunk):
            a_s = a_idx[s : s + chunk]
            with np.errstate(invalid="ignore", divide="ignore"):
                sims = np.round(
                    (m[a_s] @ m_b.T)
                    / (norm[a_s][:, None] * norm_b[None, :]),
                    6,
                )
            hit = sims >= threshold
            if same:
                hit &= ids[a_s][:, None] < ids_b[None, :]
            ai, bi = np.nonzero(hit)
            ia, ib = ids[a_s][ai], ids_b[bi]
            outs.append(
                pd.DataFrame(
                    {
                        "vec_a": np.minimum(ia, ib),
                        "vec_b": np.maximum(ia, ib),
                        "cosine": sims[ai, bi],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True) if outs else empty

    scored = member.groupBy("table_id", "bucket", "g1", "g2").applyInPandas(
        score, "vec_a bigint, vec_b bigint, cosine double"
    )
    return scored.distinct()


# ---------------------------------------------------------------------------
def semantic_dedup(
    vectors: DataFrame,
    num_clusters: int = 8,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then prune near-duplicates WITHIN each cluster only.

    Centroids here are the ``num_clusters`` lowest-id vectors —
    deterministic, so the DuckDB oracle can replay the index exactly; at
    production scale feed trained centroids in instead (the plan shape
    is identical).  The cluster assignment is what bounds the
    otherwise-quadratic pair space: the dup scan self-joins keyed on
    ``centroid_id``, so each task scores one cluster's ~N/C vectors — the
    same candidates-within-buckets shape as MinHash-LSH and
    ``lsh_buckets``, but in embedding space (catches paraphrases that
    share no n-grams).

    A vector is a dup if some LOWER-id vector in the same cluster has
    rounded cosine >= ``threshold`` (keep-lowest-id greedy, matching the
    exact/MinHash dedup family).  Returns one row per cluster:
    (cluster_id, n_members, n_dups).
    """
    assigned = ivf_assign(
        vectors,
        vectors.orderBy(F.col(id_col).asc())
        .limit(num_clusters)
        .select(F.col(id_col).alias("centroid_id"), F.col(vec_col)),
        id_col=id_col,
        vec_col=vec_col,
        keep_vec=True,
    )
    a = assigned.select(
        "centroid_id", F.col("vec_id").alias("a_id"), F.col("v").alias("va")
    )
    b = assigned.select(
        "centroid_id", F.col("vec_id").alias("b_id"), F.col("v").alias("vb")
    )
    # shuffle_hash, not the planner default: both sides are corpus-
    # cardinality, so letting the small-SF planner pick a broadcast join
    # here would pin a corpus-sized build side (the round-2 scale-killer
    # pattern).  Shuffling on centroid_id co-locates each cluster on one
    # task, which is exactly SemDeDup's unit of work.  (At production
    # scale, materialize `assigned` once and reuse it; it is left
    # unmaterialized here so the oracle-checked builder stays a pure
    # plan-returning function — the recomputes are linear scans.)
    dup_ids = (
        with_cosine(
            a.hint("shuffle_hash")
            .join(b, "centroid_id")
            .filter(F.col("a_id") < F.col("b_id")),
            "va",
            "vb",
        )
        .filter(F.col("cosine") >= threshold)
        .select("centroid_id", F.col("b_id").alias("vec_id"))
        .distinct()
    )
    members = assigned.groupBy("centroid_id").agg(
        F.count("*").cast("bigint").alias("n_members")
    )
    dups = dup_ids.groupBy("centroid_id").agg(
        F.count("*").cast("bigint").alias("n_dups")
    )
    return members.join(dups, "centroid_id", "left").select(
        F.col("centroid_id").cast("bigint").alias("cluster_id"),
        "n_members",
        F.coalesce(F.col("n_dups"), F.lit(0)).cast("bigint").alias("n_dups"),
    )


def _round_half_away_np(x: "np.ndarray", decimals: int) -> "np.ndarray":
    """Element-wise HALF-AWAY-FROM-ZERO rounding (DuckDB ``round``'s
    mode), replacing ``np.round``'s banker's half-to-even in fused
    scoring paths — the same copysign(floor(abs+0.5)) construction the
    q8 quantization levels use, so a score landing exactly on a
    representable half-way point rounds the way the oracle does.  This
    NARROWS the cross-engine divergence class, it does not close it
    (ADVICE r13): the ``+0.5`` can itself round up a value 1 ulp BELOW
    a representable halfway point (the 0.49999999999999994 class), and
    Spark SQL's double ``round`` goes through BigDecimal HALF_UP on
    the shortest decimal repr — a third mode.  The residual is
    measure-zero for continuous scores and has never appeared in the
    parity fuzz.  NaN propagates through unchanged."""
    scale = 10.0 ** decimals
    scaled = x * scale
    return np.copysign(np.floor(np.abs(scaled) + 0.5), scaled) / scale


def quantized_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 65536,
) -> DataFrame:
    """Brute-force top-k by INT8-quantized cosine — ``cosine_topk`` on a
    4×-smaller representation with integer-exact dot products.

    Execution (rewritten round 12): ONE fused Arrow pass over the
    corpus, the ``ivfq8_topk``/``pq_topk`` shape — the quantized query
    block broadcasts as numpy, each corpus batch int8-encodes and
    integer-dots against every query in a single matmul, and the only
    shuffle is the final top-k window (WindowGroupLimit: partial top-k
    before the exchange).  The previous declarative form scored the
    same pairs with a JVM ``zip_with``/``aggregate`` lambda per pair —
    higher-order array lambdas are interpreted per element, measured
    15× slower than the vectorized dot at sf1 (6.5 s vs 0.4 s for the
    very same math ``ivfq8_topk`` runs) — and ``ivfq8_topk``'s
    full-probe identity test had already pinned the two paths
    bit-identical.  Ties break on neighbor id over the rounded score.

    NULL contract (unchanged, oracle-paired): a zero-norm vector's
    quantization is undefined — every score it touches is SQL NULL
    (the oracle's x/0 -> NULL), NULLs sort last under the
    descending rank.  The fused pass reproduces this exactly via a
    masked nullable column, NOT the raise the probed-index family uses
    (those reject zero vectors loudly because a pruned search can't
    rank what it never scores; a brute scan can and must).

    The quantization error is the recall trade (pinned by
    ``test_q8_recall_vs_float``); the win is 4× less memory traffic in
    the scan and an integer matmul inner loop.

    Rounding (r13): the final 6dp score rounds HALF-AWAY-FROM-ZERO via
    :func:`_round_half_away_np` — the oracle's rounding mode and the
    one the quantization levels already used — so the banker's-vs-
    half-away divergence class the r12 rewrite documented is NARROWED,
    not closed (ADVICE r12/r13): a measure-zero residual remains, since
    the ``floor(abs(x)*scale + 0.5)`` form can itself round up a value
    1 ulp below a representable halfway point, and Spark SQL's double
    ``round`` (BigDecimal HALF_UP on the shortest decimal repr) is a
    third mode.  Divergence needs a score within 1 ulp of a 6dp
    halfway point — never observed in the parity fuzz.

    QUERY-CARDINALITY CONTRACT (r13, ADVICE r12): the query block is
    collected and broadcast (the ANN family contract), so queries are
    bounded by ``max_queries`` and a larger query side is REJECTED
    descriptively instead of OOMing the driver — the same loud-reject
    convention as ``banded_hamming_topk``'s probe bound.  A query set
    past the bound is a corpus×corpus scan in disguise: band/bucket it
    (``near_dup_pairs_lsh``) instead of raising the bound.  An EMPTY
    query block returns an empty (query_id, neighbor_id, q8_cosine,
    rank) frame — the declarative pre-r12 contract, restored for
    library callers that compose on it.
    """
    spark = corpus.sparkSession
    if isinstance(queries, pd.DataFrame):
        q_pd = queries.rename(
            columns={id_col: "query_id", vec_col: "qv"}
        )[["query_id", "qv"]].sort_values("query_id")
    else:
        # The limit caps the driver materialization at max_queries+1
        # rows even on a corpus-scale misuse (TakeOrderedAndProject —
        # the guard fails fast, it does not collect 10^8 vectors
        # first); on the success path the limit truncated nothing.
        q_pd = (
            queries.select(
                F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
            )
            .orderBy("query_id")
            .limit(max_queries + 1)
            .toPandas()
        )
    if len(q_pd) > max_queries:
        raise ValueError(
            f"quantized_topk: query side exceeds max_queries="
            f"{max_queries} — the quantized query block is collected "
            "and BROADCAST, so query cardinality must stay bounded. "
            "For corpus-scale query sets use a banded/bucketed "
            "composition (near_dup_pairs_lsh), not this broadcast scan."
        )
    empty_schema = (
        "query_id bigint, neighbor_id bigint, q8_cosine double, rank int"
    )
    if len(q_pd) == 0:
        return spark.createDataFrame([], empty_schema)
    q_ids = q_pd["query_id"].to_numpy(dtype="int64")
    q_mat = np.stack(
        [np.asarray(v, dtype="float64") for v in q_pd["qv"].values]
    )
    q_q8, q_sq, q_null = _q8_encode_np_nullable(q_mat)
    bc = spark.sparkContext.broadcast((q_ids, q_q8, q_sq, q_null))

    def fused(batches):
        b_qids, b_qq8, b_qsq, b_qnull = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.stack(pdf["v"].values).astype("float64")
            ids = pdf["vec_id"].to_numpy(dtype="int64")
            a_q8, a_sq, a_null = _q8_encode_np_nullable(a)
            dots = (a_q8 @ b_qq8.T).astype("float64")
            # same association order as the declarative form and the
            # oracle: dot / (sqrt(sa) * sqrt(sb)), then half-away round
            # at 6dp (the oracle's mode — no banker's divergence class)
            with np.errstate(invalid="ignore", divide="ignore"):
                sims = _round_half_away_np(
                    dots
                    / (
                        np.sqrt(a_sq.astype("float64"))[:, None]
                        * np.sqrt(b_qsq.astype("float64"))[None, :]
                    ),
                    6,
                )
            null_pair = a_null[:, None] | b_qnull[None, :]
            ni, qi = np.nonzero(ids[:, None] != b_qids[None, :])
            vals = pd.arrays.FloatingArray(
                sims[ni, qi], null_pair[ni, qi]
            )
            yield pd.DataFrame(
                {
                    "query_id": b_qids[qi],
                    "neighbor_id": ids[ni],
                    "q8_cosine": vals,
                }
            )

    src = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
    )
    cand = src.mapInPandas(
        fused, "query_id bigint, neighbor_id bigint, q8_cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("q8_cosine"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "q8_cosine", "rank")
    )


def rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    m: int = 20,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage retrieve-then-rerank: an int8-quantized scan shortlists
    ``m`` candidates per query (:func:`quantized_topk` — 4× less memory
    traffic than float over the full corpus), then EXACT float cosine
    re-scores only the shortlist and keeps the top ``k`` — the standard
    production ANN cascade (cheap representation over everything,
    expensive scoring over almost nothing).

    Scale shape: stage 1 is the quantized brute scan (its only shuffle
    the WindowGroupLimit top-m); stage 2 never rescans the corpus at
    full width — the Q×m shortlist ids broadcast as a semi-join that
    prunes the corpus MAP-SIDE before the exact :func:`cosine_scores`
    pass, so the float matmul touches at most Q×m vectors regardless of
    corpus size, and the shortlist membership filter is a broadcast
    hash join against the same Q×m relation.  Final rank breaks ties on
    rounded exact cosine desc, then neighbor id.

    Returns (query_id, neighbor_id, cosine, q8_rank, rank) — q8_rank is
    the stage-1 position, letting callers measure how much the rerank
    reordered (the recall-repair the cascade exists for).

    Reference parity: beyond-reference scale operator (no vector
    surface in the gateway, /root/reference/src/app.py:175-239);
    differential oracle composes the q8 and exact-cosine replays.
    """
    if not 1 <= k <= m:
        raise ValueError(f"rerank_topk: need 1 <= k <= m, got k={k} m={m}")
    s1 = quantized_topk(queries, corpus, k=m, id_col=id_col, vec_col=vec_col)
    # The Q×m shortlist feeds TWO consumers (the candidate semi-join and
    # the membership join) — without a checkpoint each reference would
    # re-embed the whole stage-1 corpus scan (Catalyst does not share
    # subplans across DataFrame references), doubling the quantized
    # pass.  EAGER, deliberately against the repo's lazy-checkpoint
    # default: both consumers here are BROADCAST-exchange builds, which
    # run as separate driver jobs over plan COPIES before a lazy
    # checkpoint would have materialized anything — measured at sf1 the
    # lazy form ran the q8 scan twice (14.2 s) and the eager form once
    # (6.8 s).  The materialized relation is Q×m rows — trivial.
    shortlist = s1.select(
        "query_id", "neighbor_id", F.col("rank").alias("q8_rank")
    ).localCheckpoint(eager=True)
    cand = corpus.join(
        F.broadcast(
            shortlist.select(F.col("neighbor_id").alias(id_col)).distinct()
        ),
        id_col,
        "leftsemi",
    )
    rescored = cosine_scores(queries, cand, id_col, vec_col)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        rescored.join(F.broadcast(shortlist), ["query_id", "neighbor_id"])
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "q8_rank", "rank")
    )


def _q8_encode_np(mat: "np.ndarray") -> tuple["np.ndarray", "np.ndarray"]:
    """Symmetric int8 quantization of a (n, d) float64 matrix, matching
    the oracle's expression semantics: q_i = round(x_i * 127 / max|x|)
    with HALF-AWAY-FROM-ZERO rounding (Spark round / DuckDB round), NOT
    numpy's banker's round.  Returns (q int64 (n, d), sq int64 (n,)).

    Zero-norm rows are the caller's contract to reject (the DataFrame
    path degrades them to NULL via try_divide; a fused numpy path has no
    NULL, so silence would diverge — raise loudly instead)."""
    q, sq, null_mask = _q8_encode_np_nullable(mat)
    if null_mask.any():
        raise ValueError(
            "int8 quantization undefined for zero vectors — filter them "
            "out first (finite_gate covers NaN/Inf; an all-zero embedding "
            "is an upstream bug, not a searchable vector)"
        )
    return q, sq


def _q8_encode_np_nullable(
    mat: "np.ndarray",
) -> tuple["np.ndarray", "np.ndarray", "np.ndarray"]:
    """:func:`_q8_encode_np` with the DataFrame path's NULL contract
    instead of the fused families' raise: a zero-norm row gets
    ``null_mask`` True (the oracle's x/0 -> NULL degrades it to an
    all-NULL q vector, which propagates NULL through sq/dot/score — the
    semantics ``quantized_topk`` is oracle-paired under, and the EMB
    fuzz battery's zero-vector kind exercises on both engines).  The
    masked rows' q/sq are zeros; every score touching them must be
    emitted as SQL NULL by the caller.  This is the ONE encode body
    both q8 families share — :func:`_q8_encode_np` delegates here, so
    the flat and probed paths can never quantize differently (the
    full-probe identity pin depends on it).  Returns (q, sq,
    null_mask)."""
    mx = np.abs(mat).max(axis=1)
    null_mask = mx == 0
    safe = np.where(null_mask, 1.0, mx)
    # (x * 127.0) / mx — the SAME association order as the DuckDB
    # oracle's round((x*127.0)/mx); the previous
    # x * (127.0/mx) form computed a different intermediate that could
    # flip a quantization level within 1 ulp of a half-way point
    scaled = (mat * 127.0) / safe[:, None]
    q = np.copysign(np.floor(np.abs(scaled) + 0.5), scaled).astype("int64")
    q[null_mask] = 0
    return q, (q * q).sum(axis=1), null_mask


def ivfq8_topk(
    queries,
    corpus: DataFrame,
    num_centroids: int = 16,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> DataFrame:
    """IVF + int8 scalar quantization (the FAISS "IVF,SQ8" composition):
    the IVF coarse quantizer restricts each query's search to its
    ``nprobe`` nearest inverted lists, and WITHIN the probed lists
    candidates are ranked by INT8-quantized cosine instead of float.

    Where it sits in the quantization matrix: ``quantized_topk`` is
    flat-SQ8 (every vector scored), ``ivf_topk`` is IVF-flat (probed
    lists, float scores), ``ivfpq_topk`` is IVF-PQ (probed lists, 8-byte
    codes).  IVF-SQ8 keeps 1 byte/dim — 4x less scan/shuffle bandwidth
    than float32 with near-flat recall (SQ8 quantization error is tiny
    next to PQ's), the standard middle rung when PQ recall is too low
    and float memory is too high.  Integer dot products are EXACT (no
    summation-order drift), so in-list scores hash bit-identically
    across engines; the coarse assignment reuses ``ivf_topk``'s rounded
    float cosine and tie rules.

    Differential-testing device, same as the siblings: the default
    centroids are the ``num_centroids`` lowest-id corpus vectors, so the
    DuckDB oracle rebuilds the exact index; production passes trained
    ``centroids`` (plan shape identical).
    Input contract: zero-norm vectors are REJECTED loudly (the fused
    numpy path has no NULL to degrade to, and engines diverge
    structurally on NaN ordering — same class as ``finite_gate``).
    Rounding (r13): the final sqrt-normalized score rounds half-away
    via :func:`_round_half_away_np`, identical to ``quantized_topk``
    (the full-probe identity pin is by construction — both paths share
    the helper; the divergence class vs the oracle is NARROWED to the
    measure-zero 1-ulp-below-halfway residual ``quantized_topk``
    documents, not closed).  Remaining float caveat: the np.round of
    the coarse ASSIGNMENT cosine is still banker's (measure-zero,
    shared with ``ivf_topk``'s documented probe-map caveat; the
    INTEGER in-list dot itself cannot drift).

    Execution — ONE Arrow pass over the partitioned corpus (queries and
    centroids broadcast, both small by contract): each batch is
    assigned to its list (argmax vs centroids), int8-encoded, and
    scored against the queries probing that list by exact integer dot.
    Nothing corpus-cardinality is collected, broadcast, or joined; the
    only shuffle is the final top-k window (WindowGroupLimit: partial
    top-k before the exchange).

    Returns (query_id, neighbor_id, q8_cosine, rank), rank <= k.
    """
    spark = corpus.sparkSession
    if centroids is None:
        centroids = corpus.filter(F.col(id_col) < num_centroids).select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col)
        )
    if isinstance(centroids, pd.DataFrame):
        cent_pd = centroids.rename(columns={vec_col: "cv"})[
            ["centroid_id", "cv"]
        ].sort_values("centroid_id")
    else:
        cent_pd = (
            centroids.select("centroid_id", F.col(vec_col).alias("cv"))
            .orderBy("centroid_id")
            .toPandas()
        )
    if len(cent_pd) == 0:
        raise ValueError(
            "ivfq8_topk: empty centroid relation — the default device "
            f"selects corpus rows with {id_col} < num_centroids "
            f"({num_centroids}) and requires corpus ids starting at 0 "
            "(the differential-oracle convention); on a sparse or offset "
            "id space pass centroids explicitly"
        )
    c_ids = cent_pd["centroid_id"].to_numpy(dtype="int64")
    c_mat = np.stack(
        [np.asarray(v, dtype="float64") for v in cent_pd["cv"].values]
    )
    c_norm = np.linalg.norm(c_mat, axis=1)

    if isinstance(queries, pd.DataFrame):
        q_pd = queries.rename(
            columns={id_col: "query_id", vec_col: "qv"}
        )[["query_id", "qv"]].sort_values("query_id")
    else:
        q_pd = (
            queries.select(
                F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
            )
            .orderBy("query_id")
            .toPandas()
        )
    q_ids = q_pd["query_id"].to_numpy(dtype="int64")
    q_mat = np.stack(
        [np.asarray(v, dtype="float64") for v in q_pd["qv"].values]
    )
    q_norm = np.linalg.norm(q_mat, axis=1)
    q_q8, q_sq = _q8_encode_np(q_mat)

    # Probe map (query -> nprobe nearest lists), exactly ivf_topk's
    # device: rounded float cosine, NaN (zero-norm centroid) -> -inf so
    # the stable argsort mirrors the oracle's NULLS-LAST rank.  Queries
    # themselves were just validated non-zero by the q8 encode.
    with np.errstate(invalid="ignore", divide="ignore"):
        q_sims = np.round(
            (q_mat @ c_mat.T) / (q_norm[:, None] * c_norm[None, :]), 6
        )
    q_sims = np.where(np.isnan(q_sims), -np.inf, q_sims)
    probe_order = np.argsort(-q_sims, axis=1, kind="stable")[:, :nprobe]
    probed_by_centroid: dict[int, "np.ndarray"] = {}
    for ci in np.unique(probe_order.ravel()):
        qidx = np.nonzero((probe_order == ci).any(axis=1))[0]
        probed_by_centroid[int(c_ids[ci])] = qidx

    bc = spark.sparkContext.broadcast(
        (c_ids, c_mat, c_norm, q_ids, q_q8, q_sq, probed_by_centroid)
    )

    def fused_block(batches):
        b_cids, b_cmat, b_cnorm, b_qids, b_qq8, b_qsq, b_probe = bc.value
        for pdf in batches:
            a = np.stack(pdf["v"].values).astype("float64")
            a_norm = np.linalg.norm(a, axis=1)
            ids = pdf["vec_id"].to_numpy(dtype="int64")
            with np.errstate(invalid="ignore", divide="ignore"):
                a_sims = np.round(
                    (a @ b_cmat.T) / (a_norm[:, None] * b_cnorm[None, :]),
                    6,
                )
            a_sims = np.where(np.isnan(a_sims), -np.inf, a_sims)
            assigned = b_cids[np.argmax(a_sims, axis=1)]
            a_q8, a_sq = _q8_encode_np(a)
            out_q, out_n, out_c = [], [], []
            for cid, qidx in b_probe.items():
                mask = assigned == cid
                if not mask.any():
                    continue
                n_ids = ids[mask]
                # exact integer dots; the sqrt normalization AND the
                # half-away 6dp rounding mirror quantized_topk exactly
                # (the full-probe identity pin is by construction, not
                # measure-zero — both paths must round the same way)
                dots = (a_q8[mask] @ b_qq8[qidx].T).astype("float64")
                sims = _round_half_away_np(
                    dots
                    / (
                        np.sqrt(a_sq[mask].astype("float64"))[:, None]
                        * np.sqrt(b_qsq[qidx].astype("float64"))[None, :]
                    ),
                    6,
                )
                ni, qi = np.nonzero(n_ids[:, None] != b_qids[qidx][None, :])
                out_q.append(b_qids[qidx][qi])
                out_n.append(n_ids[ni])
                out_c.append(sims[ni, qi])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "q8_cosine": np.concatenate(out_c),
                    }
                )

    src = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
    )
    cand = src.mapInPandas(
        fused_block, "query_id bigint, neighbor_id bigint, q8_cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("q8_cosine"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "q8_cosine", "rank")
    )


def pq_topk(
    queries,
    corpus: DataFrame,
    num_subspaces: int = 8,
    num_codes: int = 16,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011, the FAISS IVF-PQ
    building block): split each vector into ``num_subspaces`` contiguous
    subvectors, quantize every subvector to its nearest codeword from a
    per-subspace codebook, and rank corpus vectors against each query by
    the ADC approximation — the sum of precomputed query-to-codeword
    squared-L2 lookup-table entries.

    Why it matters at 100 TB: a 64-dim float64 vector (512 B) encodes to
    ``num_subspaces`` uint8 codes (8 B here, 64× smaller) and scoring
    touches an 8-entry LUT row instead of 64 floats — the standard way a
    1B-vector corpus fits in cluster memory AND in scan bandwidth.  The
    quantization error is the recall trade (pinned by the approx-quality
    suite, like int8 and IVF).

    Differential-testing device, same trick as ``ivf_topk``: the default
    codebook is the ``num_codes`` lowest-id corpus vectors' subvectors —
    deterministic, so the DuckDB oracle rebuilds the EXACT same index
    declaratively; at production scale pass k-means-trained codebooks in
    (plan shape identical).  Engine-portable ordering: per-subspace
    squared distances are INTEGER NANO-UNITS (round(d2 * 1e9) as
    BIGINT — the pagerank_micro/bm25 micro-unit trick), so the encode
    argmin (ties on lowest code id) and the ADC total are exact integer
    arithmetic, bit-identical under any summation order on any engine;
    rank ties on neighbor id.  The only float caveat left is a raw
    subspace distance landing within ~1e-6 absolute of a half-nano
    boundary (measure-zero; an earlier float-total variant tripped a
    1-ulp fuzz case that integer totals cannot).

    Execution — ONE Arrow pass over the partitioned corpus (queries and
    codebook broadcast, both small by contract): each batch is encoded
    with a vectorized (batch × codes × subspaces) distance tensor and
    scored against all queries by LUT gather; nothing corpus-cardinality
    is collected, broadcast, or joined.  The only shuffle is the final
    top-k window, which compiles with WindowGroupLimit (partial top-k
    before the exchange).  L2 is defined on zero vectors, so unlike the
    cosine family there is no NaN path.

    Returns (query_id, neighbor_id, pq_dist_nano, rank), rank <= k.
    """
    spark = corpus.sparkSession
    if codebook is None:
        codebook = (
            corpus.orderBy(F.col(id_col).asc())
            .limit(num_codes)
            .select(id_col, vec_col)
        )
    # A trained codebook (pq_train) keys codewords by ``code_id``; a
    # corpus-sliced one by ``id_col``.  Accept either, so
    # pq_topk(codebook=pq_train(corpus)) is a genuine drop-in.
    cb_cols = (
        list(codebook.columns)
        if not isinstance(codebook, pd.DataFrame)
        else list(codebook.columns)
    )
    cb_id = id_col if id_col in cb_cols else "code_id"
    cb_pd = (
        codebook.select(
            F.col(cb_id).alias("_id"), F.col(vec_col).alias("_v")
        )
        .orderBy("_id")
        .toPandas()
        if not isinstance(codebook, pd.DataFrame)
        else codebook.rename(
            columns={cb_id: "_id", vec_col: "_v"}
        ).sort_values("_id")
    )
    cb = np.stack([np.asarray(v, dtype="float64") for v in cb_pd["_v"].values])
    if isinstance(queries, pd.DataFrame):
        q_pd = queries.rename(
            columns={id_col: "_id", vec_col: "_v"}
        )[["_id", "_v"]].sort_values("_id")
    else:
        q_pd = (
            queries.select(
                F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
            )
            .orderBy("_id")
            .toPandas()
        )
    q_ids = q_pd["_id"].to_numpy(dtype="int64")
    q_mat = np.stack([np.asarray(v, dtype="float64") for v in q_pd["_v"].values])
    dim = q_mat.shape[1]
    if dim % num_subspaces:
        raise ValueError(
            f"dim {dim} not divisible by num_subspaces {num_subspaces}"
        )
    dsub = dim // num_subspaces
    m = num_subspaces
    # query LUT: (num_q, codes, subspaces) nano-unit squared-L2 — the
    # same integer quantity the encode argmin uses, computed once
    # driver-side (num_q * codes * subspaces int64; tiny by contract)
    q_sub = q_mat.reshape(len(q_ids), 1, m, dsub)
    cb_sub = cb.reshape(1, len(cb), m, dsub)
    lut = (
        np.round(((q_sub - cb_sub) ** 2).sum(axis=3) * 1e9)
        .astype("int64")
    )
    bc = spark.sparkContext.broadcast((q_ids, lut, cb))

    def fused(batches):
        b_qids, b_lut, b_cb = bc.value
        kc = len(b_cb)
        b_cb_sub = b_cb.reshape(1, kc, m, dsub)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(dtype="int64")
            x = np.stack(pdf["v"].values).astype("float64")
            xs = x.reshape(len(ids), 1, m, dsub)
            # (n, codes, subspaces) nano distances -> per-subspace
            # argmin; np.argmin takes the FIRST minimum, which on the
            # integer ties is the lowest code id — the oracle's
            # (d2, code_id) order
            d2 = (
                np.round(((xs - b_cb_sub) ** 2).sum(axis=3) * 1e9)
                .astype("int64")
            )
            enc = np.argmin(d2, axis=1)  # (n, subspaces)
            # ADC: totals[qi, i] = sum_s lut[qi, enc[i, s], s] — exact
            # BIGINT addition, summation-order-independent
            totals = np.zeros((len(b_qids), len(ids)), dtype="int64")
            for s in range(m):
                totals += b_lut[:, enc[:, s], s]
            qi, ni = np.nonzero(b_qids[:, None] != ids[None, :])
            yield pd.DataFrame(
                {
                    "query_id": b_qids[qi],
                    "neighbor_id": ids[ni],
                    "pq_dist_nano": totals[qi, ni],
                }
            )

    src = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    cand = src.mapInPandas(
        fused, "query_id bigint, neighbor_id bigint, pq_dist_nano bigint"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("pq_dist_nano"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "pq_dist_nano", "rank")
    )


def pq_train(
    corpus: DataFrame,
    num_subspaces: int = 8,
    num_codes: int = 16,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact_nano: bool = False,
) -> DataFrame:
    """Per-subspace Lloyd's k-means — the production codebook path for
    :func:`pq_topk` (which ships training-free first-N codebooks only so
    its DuckDB oracle can replay the index; same split as
    ``ivf_topk``'s ``centroids``).

    Returns (code_id, ``vec_col``) where each row concatenates subspace
    codeword ``code_id`` across all subspaces — a drop-in for
    ``pq_topk(codebook=...)`` (pq_topk keys a trained codebook by its
    ``code_id`` column when the corpus ``id_col`` is absent); pq_topk
    slices per-subspace blocks back out.

    Scale shape (100 TB posture): each iteration is ONE Arrow pass over
    the partitioned corpus emitting per-batch PARTIAL (subspace, code,
    dim) sums and counts — m*k*dsub rows per batch regardless of batch
    size, the textbook distributed-kmeans combine — followed by a
    key-cardinality groupBy and an m*k*dsub-value driver collect (the
    codebook is small by contract, like the centroid relations).  No
    corpus-cardinality relation is ever joined, windowed, or collected;
    empty codes keep their previous codeword.

    ``exact_nano=True`` makes the whole training loop ENGINE-PORTABLE
    and run-deterministic, so a DuckDB oracle can replay it iteration by
    iteration (``ann_pq_trained_topk``): the assignment argmin uses
    integer nano-unit distances (``pq_topk``'s convention, ties on
    lowest code id) and the centroid update sums nano-quantized
    coordinates as exact BIGINTs — summation-order-independent, unlike
    float partials whose Spark combine order varies run to run — then
    truncating-divides by the count (DuckDB's BIGINT ``//``) and stores
    ``nano / 1e9`` doubles.  The 1e-9 codeword quantization is far below
    the quantizer's own error (the recall-gradient test passes in both
    modes); the residual cross-engine caveat is the usual measure-zero
    half-nano rounding boundary.  Default False keeps the plain float
    Lloyd for production training, where nothing replays the loop.
    """
    spark = corpus.sparkSession
    m, kc = num_subspaces, num_codes
    seed = (
        corpus.orderBy(F.col(id_col).asc())
        .limit(kc)
        .select(F.col(vec_col).alias("_v"))
        .toPandas()
    )
    if len(seed) == 0:
        raise ValueError("pq_train: empty corpus")
    # dim rides the seed collect — one fewer driver job per call
    dim = len(seed["_v"].iloc[0])
    if dim % num_subspaces:
        raise ValueError(
            f"dim {dim} not divisible by num_subspaces {num_subspaces}"
        )
    dsub = dim // m
    cb = np.stack(
        [np.asarray(v, dtype="float64") for v in seed["_v"].values]
    ).reshape(kc, m, dsub)
    src = corpus.select(F.col(vec_col).alias("v"))

    for _ in range(iterations):
        bc = spark.sparkContext.broadcast(cb)

        def partials(batches):
            b_cb = bc.value  # (k, m, dsub)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                x = np.stack(pdf["v"].values).astype("float64")
                xs = x.reshape(len(x), 1, m, dsub)
                d2 = ((xs - b_cb[None, :, :, :]) ** 2).sum(axis=3)
                if exact_nano:
                    # integer nano argmin (np.argmin takes the FIRST
                    # minimum = lowest code id on ties — the oracle's
                    # (d2, code_id) order), exact nano coordinate sums
                    d2 = np.round(d2 * 1e9).astype("int64")
                    xacc = np.round(x * 1e9).astype("int64")
                else:
                    xacc = x
                enc = np.argmin(d2, axis=1)  # (n, m)
                rows = {"s": [], "c": [], "pos": [], "sm": [], "cnt": []}
                for s in range(m):
                    codes, inv = np.unique(enc[:, s], return_inverse=True)
                    sums = np.zeros((len(codes), dsub), dtype=xacc.dtype)
                    np.add.at(sums, inv, xacc[:, s * dsub : (s + 1) * dsub])
                    cnts = np.bincount(inv, minlength=len(codes))
                    for ci, c in enumerate(codes):
                        for p in range(dsub):
                            rows["s"].append(s)
                            rows["c"].append(int(c))
                            rows["pos"].append(p)
                            rows["sm"].append(sums[ci, p])
                            rows["cnt"].append(int(cnts[ci]))
                yield pd.DataFrame(rows)

        sm_type = "bigint" if exact_nano else "double"
        agg = (
            src.mapInPandas(
                partials, f"s int, c int, pos int, sm {sm_type}, cnt bigint"
            )
            .groupBy("s", "c", "pos")
            .agg(F.sum("sm").alias("sm"), F.sum("cnt").alias("cnt"))
            .collect()
        )
        new_cb = cb.copy()  # empty codes keep their previous codeword
        sums = np.zeros((kc, m, dsub))
        cnts = np.zeros((kc, m), dtype="int64")
        for r in agg:
            sums[r.c, r.s, r.pos] = r.sm
            # cnt replicates across the dsub pos rows of an (s, c) pair;
            # the groupBy keys on pos too, so each row's summed cnt is
            # already the (s, c) total — any pos row works
            cnts[r.c, r.s] = r.cnt
        nz = cnts > 0
        for c in range(kc):
            for s in range(m):
                if nz[c, s]:
                    if exact_nano:
                        # BIGINT sums are exact, so this whole update is
                        # integer arithmetic: truncating division toward
                        # zero (DuckDB's BIGINT `//`; Python's floors on
                        # negatives, hence the sign dance), then the one
                        # shared double division by 1e9
                        sm_i = sums[c, s].astype("int64")
                        q = np.abs(sm_i) // int(cnts[c, s])
                        new_cb[c, s] = np.where(sm_i < 0, -q, q) / 1e9
                    else:
                        new_cb[c, s] = sums[c, s] / cnts[c, s]
        cb = new_cb

    flat = cb.reshape(kc, dim)
    # Arrow-local codebook (plans/localrel.py): every scoring job that
    # broadcasts this relation otherwise pays a Python-runner scan
    from ..plans.localrel import local_df

    return local_df(
        spark,
        [(int(c), [float(x) for x in flat[c]]) for c in range(kc)],
        f"code_id int, {vec_col} array<double>",
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    num_centroids: int = 16,
    nprobe: int = 2,
    num_subspaces: int = 8,
    num_codes: int = 16,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ — the composed FAISS architecture: the coarse quantizer
    restricts each query to ``nprobe`` inverted lists (ranked by rounded
    cosine like :func:`ivf_topk`), and candidates inside probed lists
    are ranked by the PQ ADC integer nano-distance of :func:`pq_topk`
    instead of exact vectors.  At 100 TB that composition is what makes
    billion-vector search tractable: the list probe cuts candidates to
    ~nprobe/C of the corpus AND each candidate costs an m-entry integer
    LUT gather against an 8-byte code, not a 512-byte float read.

    Differential-testing device throughout: first-N centroids and
    first-N codebooks (both replayed exactly by the DuckDB oracle); at
    production scale pass trained centroids / ``pq_train``
    codebooks through ``ivf_topk``/``pq_topk``'s parameters — this
    composition keeps the defaults so the oracle stays declarative.

    Encodes RAW vectors, not residuals (v - centroid, the FAISS IVFPQ
    default) — a deliberate, measured choice: on this corpus residual
    encoding HURTS even with residual-trained codebooks (driver-side
    replica, sf0.01: mean |ADC - exact| 0.45 -> 0.86, in-list recall@3
    0.27 -> 0.13), because with near-uniform vectors and few centroids
    the assignment barely correlates with v, so Var(v - c) ~
    Var(v) + Var(c) EXCEEDS Var(v) and the quantizer sees a wider
    distribution.  Residuals pay off exactly when centroids genuinely
    compress (clustered production embeddings); there, subtract the
    trained centroid before ``pq_train`` and feed both in.

    ONE Arrow pass over the partitioned corpus (centroids, queries,
    probe map, codebook and LUT all broadcast, each small by contract):
    each batch is list-assigned (rounded-cosine argmax, ties on lowest
    centroid id), PQ-encoded (integer nano argmin), and ADC-scored
    against exactly the queries probing its list.  Every corpus vector
    lives in one list, so no pair is emitted twice — no distinct needed;
    the only shuffle is the WindowGroupLimit top-k.

    Returns (query_id, neighbor_id, pq_dist_nano, rank), rank <= k.
    """
    spark = corpus.sparkSession
    # ONE head collect feeds both driver-side devices (the ann_ivf_recall
    # pattern): centroids = rows with id < num_centroids (identical to
    # the filter device — every such row is among the lowest ids, so the
    # limit always contains them), codebook = the num_codes lowest-id
    # rows.  Saves a full driver job per call.
    head_pd = (
        corpus.orderBy(F.col(id_col).asc())
        .limit(max(num_centroids, num_codes))
        .select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .toPandas()
        .sort_values("_id")
    )
    cents = head_pd[head_pd["_id"] < num_centroids]
    if len(cents) == 0:
        raise ValueError(
            "ivfpq_topk: default centroid device selects corpus rows with "
            f"{id_col} < num_centroids ({num_centroids}) and found none — "
            "it requires corpus ids starting at 0 (the differential-oracle "
            "convention, same as ivf_topk's filter device); on a sparse or "
            "offset id space pass trained centroids through "
            "ivf_topk/pq_topk explicitly"
        )
    c_ids = cents["_id"].to_numpy(dtype="int64")
    c_mat = np.stack([np.asarray(v, dtype="float64") for v in cents["_v"].values])
    c_norm = np.linalg.norm(c_mat, axis=1)
    q_pd = (
        queries.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy("_id")
        .toPandas()
        if not isinstance(queries, pd.DataFrame)
        else queries.rename(
            columns={id_col: "_id", vec_col: "_v"}
        )[["_id", "_v"]].sort_values("_id")
    )
    q_ids = q_pd["_id"].to_numpy(dtype="int64")
    q_mat = np.stack([np.asarray(v, dtype="float64") for v in q_pd["_v"].values])
    q_norm = np.linalg.norm(q_mat, axis=1)
    cb = np.stack(
        [
            np.asarray(v, dtype="float64")
            for v in head_pd["_v"].head(num_codes).values
        ]
    )
    dim = q_mat.shape[1]
    if dim % num_subspaces:
        raise ValueError(
            f"dim {dim} not divisible by num_subspaces {num_subspaces}"
        )
    m = num_subspaces
    dsub = dim // m
    # probe map: query -> nprobe closest centroids (rounded cosine,
    # NULLS-LAST NaN handling — same derivation as ivf_topk)
    with np.errstate(invalid="ignore", divide="ignore"):
        q_sims = np.round(
            (q_mat @ c_mat.T) / (q_norm[:, None] * c_norm[None, :]), 6
        )
    q_sims = np.where(np.isnan(q_sims), -np.inf, q_sims)
    probe_order = np.argsort(-q_sims, axis=1, kind="stable")[:, :nprobe]
    probed_by_centroid: dict[int, "np.ndarray"] = {}
    for ci in np.unique(probe_order.ravel()):
        qidx = np.nonzero((probe_order == ci).any(axis=1))[0]
        probed_by_centroid[int(c_ids[ci])] = qidx
    # PQ LUT in integer nano-units (see pq_topk)
    q_sub = q_mat.reshape(len(q_ids), 1, m, dsub)
    cb_sub = cb.reshape(1, len(cb), m, dsub)
    lut = np.round(((q_sub - cb_sub) ** 2).sum(axis=3) * 1e9).astype("int64")
    bc = spark.sparkContext.broadcast(
        (c_ids, c_mat, c_norm, q_ids, lut, cb, probed_by_centroid)
    )

    def fused(batches):
        b_cids, b_cmat, b_cnorm, b_qids, b_lut, b_cb, b_probe = bc.value
        kc = len(b_cb)
        b_cb_sub = b_cb.reshape(1, kc, m, dsub)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(dtype="int64")
            x = np.stack(pdf["v"].values).astype("float64")
            a_norm = np.linalg.norm(x, axis=1)
            with np.errstate(invalid="ignore", divide="ignore"):
                a_sims = np.round(
                    (x @ b_cmat.T) / (a_norm[:, None] * b_cnorm[None, :]), 6
                )
            a_sims = np.where(np.isnan(a_sims), -np.inf, a_sims)
            assigned = b_cids[np.argmax(a_sims, axis=1)]
            xs = x.reshape(len(ids), 1, m, dsub)
            d2 = (
                np.round(((xs - b_cb_sub) ** 2).sum(axis=3) * 1e9)
                .astype("int64")
            )
            enc = np.argmin(d2, axis=1)  # (n, m)
            out_q, out_n, out_d = [], [], []
            for cid, qidx in b_probe.items():
                mask = assigned == cid
                if not mask.any():
                    continue
                n_ids = ids[mask]
                n_enc = enc[mask]
                lq = b_lut[qidx]  # (n_probing_queries, codes, subspaces)
                totals = np.zeros((len(qidx), len(n_ids)), dtype="int64")
                for s in range(m):
                    totals += lq[:, n_enc[:, s], s]
                qi, ni = np.nonzero(
                    b_qids[qidx][:, None] != n_ids[None, :]
                )
                out_q.append(b_qids[qidx][qi])
                out_n.append(n_ids[ni])
                out_d.append(totals[qi, ni])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "pq_dist_nano": np.concatenate(out_d),
                    }
                )

    src = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    cand = src.mapInPandas(
        fused, "query_id bigint, neighbor_id bigint, pq_dist_nano bigint"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("pq_dist_nano"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "pq_dist_nano", "rank")
    )


def finite_gate(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector finiteness audit: (id, n_nonfinite, is_clean).

    THE CONTRACT STEP for the whole similarity family: every ANN /
    near-dup operator here assumes FINITE float elements (zero-norm
    vectors are handled — they take the NULLS-LAST / never-above-
    threshold path — but NaN/Inf ELEMENTS are upstream corruption, and
    the two engines disagree structurally on them: Spark's Arrow bridge
    nulls a NaN cosine where DuckDB sorts NaN as the largest double,
    and ANSI/DuckDB casts of non-finite values error outright).  Run
    this gate first and quarantine ``is_clean = false`` rows — the
    standard model-output hygiene step a 100 TB embedding pipeline runs
    at ingest anyway.  Pure column expressions (one in-row fold per
    vector, no shuffle beyond the scan)."""
    nonfinite = (
        f"aggregate({vec_col}, 0, (a, x) -> a + (CASE WHEN isnan(x) "
        "OR x = double('Infinity') OR x = double('-Infinity') "
        "THEN 1 ELSE 0 END))"
    )
    return vectors.select(
        F.col(id_col).alias("vec_id"),
        F.expr(nonfinite).cast("int").alias("n_nonfinite"),
    ).withColumn("is_clean", F.col("n_nonfinite") == 0)


def mmr_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    m: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein 1998): greedily select ``k`` of the ``m`` most-relevant
    candidates, scoring each remaining candidate as

        mmr = lam * rel(q, d) - (1 - lam) * max_{s in selected} sim(d, s)

    so every pick is relevant to the query but dissimilar from what is
    already selected — the standard redundancy filter on a retrieval
    shortlist (a corpus full of near-duplicates otherwise returns k
    copies of one document).

    Scale shape: stage 1 is the :func:`cosine_scores` fused Arrow pass
    (query block broadcast, corpus scanned once) with the corpus vector
    CARRIED IN-ROW, and a WindowGroupLimit keeps top-``m`` per query —
    the greedy stage then runs per query over ≤ m rows via
    ``applyInPandas``, which REUSES the window's hash(query_id)
    partitioning (one exchange total; plan-pinned).  Greedy selection
    over the raw Q×N scored stream instead would hold a corpus-size
    group per task — the shortlist bound is what makes MMR distributable.

    Determinism (differential-oracle contract): rel is the stage-1
    rounded cosine; every pairwise sim is rounded to 1e-6; the combined
    mmr is rounded at 1e-7 — ONE DIGIT FINER than its 1e-6 inputs:
    lam=0.7 times a 6dp value is mathematically a 7dp value, so rounding
    at 6dp would sit exactly on half-way points and split between
    numpy's banker's rounding and SQL round's half-away (observed on the
    very first differential run); at 7dp the score is ~1e-16 off the
    grid and both engines agree bit-for-bit.  (Oracle replay therefore
    wants a lam with a single decimal digit.)  Ties break on neighbor id
    ascending.  The first pick is the pure-relevance argmax scored as
    round(lam*rel, 7) (the selected set is empty — the diversity term
    does not exist yet).

    Returns (query_id, neighbor_id, cosine, mmr, rank), rank 1..k in
    selection order.  lam=1 degenerates to :func:`cosine_topk` order on
    the shortlist (pinned in tests).

    Reference parity: beyond-reference scale operator (no vector surface
    in the gateway, /root/reference/src/app.py:175-239); the DuckDB
    oracle unrolls the same greedy rounds as SQL stages.
    """
    if not 1 <= k <= m:
        raise ValueError(f"mmr_topk: need 1 <= k <= m, got k={k} m={m}")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"mmr_topk: need 0 <= lam <= 1, got {lam}")
    corp = corpus.withColumn("_mv", F.col(vec_col))
    scored = cosine_scores(queries, corp, id_col, vec_col, carry=("_mv",))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    shortlist = (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= m)
        .drop("_r")
    )

    lam_ = float(lam)

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
        ids = pdf["neighbor_id"].to_numpy(dtype="int64")
        rel = pdf["cosine"].to_numpy(dtype="float64")
        mat = np.stack(
            [np.asarray(v, dtype="float64") for v in pdf["_mv"].values]
        )
        norm = np.linalg.norm(mat, axis=1)
        with np.errstate(invalid="ignore", divide="ignore"):
            sims = np.round(
                (mat @ mat.T) / (norm[:, None] * norm[None, :]), 6
            )
        # NULL/NaN contract, mirroring the oracle exactly: a zero-norm
        # cosine arrives as NULL (DuckDB's x/0 -> NULL; the Arrow
        # pandas->null conversion on the Spark side), NULL scores sort
        # LAST (both engines' DESC default), and the diversity max
        # IGNORES NULL pair-sims (SQL max) -> np.nanmax here, with an
        # all-NaN group collapsing back to NaN (= SQL all-NULL max).
        import math
        import warnings

        avail = list(range(len(pdf)))
        picked: list[tuple[int, float]] = []
        sel: list[int] = []
        while avail and len(picked) < k:
            best = None
            for i in avail:
                if sel:
                    with warnings.catch_warnings():
                        warnings.simplefilter("ignore", RuntimeWarning)
                        msim = float(np.nanmax(sims[i, np.asarray(sel)]))
                    score = float(
                        np.round(lam_ * rel[i] - (1.0 - lam_) * msim, 7)
                    )
                else:
                    score = float(np.round(lam_ * rel[i], 7))
                key = -math.inf if math.isnan(score) else score
                cand = (-key, ids[i], i, score)
                if best is None or cand[:2] < best[:2]:
                    best = cand
            bi, bscore = best[2], best[3]
            picked.append((bi, bscore))
            sel.append(bi)
            avail.remove(bi)
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "neighbor_id": [ids[i] for i, _ in picked],
                "cosine": [rel[i] for i, _ in picked],
                "mmr": [s for _, s in picked],
                "rank": np.arange(1, len(picked) + 1, dtype="int32"),
            }
        )

    # No explicit repartition: the top-m window already hash-partitions
    # on query_id and EnsureRequirements lets the grouped-map reuse that
    # exchange (pinned in tests/test_plans.py).
    return shortlist.groupBy("query_id").applyInPandas(
        greedy,
        schema=(
            "query_id bigint, neighbor_id bigint, cosine double, "
            "mmr double, rank int"
        ),
    )


def pca_topdir(
    vectors: DataFrame,
    iters: int = 3,
    k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Dominant principal direction of the embedding cloud by power
    iteration, plus the ``k`` vectors with the largest |projection| on
    it — the first step of PCA whitening / spectral outlier triage over
    an embedding table (the extreme-projection rows are the cloud's
    axis-defining outliers).

    Scale shape: ONE fused Arrow pass computes per-batch second-moment
    partial sums (the SYMMETRIC half of X^T X plus the column sums — at
    any corpus size each batch emits d*(d+1)/2 + d + 1 rows), a hash
    aggregate reduces them, and the driver collects only that
    dimension-cardinality summary (2,145 rows at d=64 — same bounded
    class as the codebook collects).  The power iteration itself is a
    d×d problem, free on the driver; a second Arrow pass projects with
    the broadcast component and the top-k is TakeOrderedAndProject.
    Nothing vector-cardinality ever reaches the driver.

    Cross-engine determinism (the differential-oracle contract): the
    DATA-SCALE sums (second moments, column sums) are rounded at 1e-6 —
    their summation-order drift grows with N and this is where it is
    absorbed.  Everything downstream (covariance, 3 power iterations,
    Rayleigh quotient, projections) is pure float64 arithmetic on those
    identical rounded inputs with NO intermediate rounding: numpy and
    SQL then differ by ~1e-15 relative (64-term sum orderings), far
    from the final 1e-6 output rounding.  Rounding the iteration's
    intermediates instead would QUANTIZE them onto a decimal grid whose
    products sit exactly on half-way points — the mmr_topk lesson; keep
    intermediates off-grid and round once at the edges.  The all-ones
    start vector makes the eigenvector sign deterministic (no sign
    ambiguity to reconcile).  Ties at the top-k boundary break on
    vec_id ascending over the ROUNDED |projection|.

    Raises on corpora the iteration cannot define: fewer than 2 rows,
    or a zero covariance / zero trace (a constant cloud has no
    principal direction; both engines would otherwise diverge on the
    0/0).  Finite-input contract as everywhere in this module — run
    ``finite_gate`` first.

    Reference parity: beyond-reference scale operator (no vector
    surface in the gateway, /root/reference/src/app.py:175-239); the
    DuckDB oracle replays sums, covariance, all three iterations, and
    the projection from the embedding table alone.
    """
    if iters < 1:
        raise ValueError(f"pca_topdir: need iters >= 1, got {iters}")
    spark = vectors.sparkSession
    src = vectors.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
    )

    def stats(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(
                [np.asarray(r, dtype="float64") for r in pdf["v"].values]
            )
            d = x.shape[1]
            g = x.T @ x
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": np.concatenate(
                        [iu, np.arange(d), np.array([-1])]
                    ).astype("int32"),
                    "j": np.concatenate(
                        [ju, np.full(d, -1), np.array([-1])]
                    ).astype("int32"),
                    "val": np.concatenate(
                        [g[iu, ju], x.sum(axis=0), [float(len(pdf))]]
                    ),
                }
            )

    summary = (
        src.mapInPandas(stats, "i int, j int, val double")
        .groupBy("i", "j")
        .agg(F.sum("val").alias("val"))
        .collect()
    )
    if not summary:
        raise ValueError("pca_topdir: empty corpus")
    n = 0.0
    s_map, g_map = {}, {}
    for r in summary:
        if r.i == -1:
            n = r.val
        elif r.j == -1:
            s_map[r.i] = r.val
        else:
            g_map[(r.i, r.j)] = r.val
    d = len(s_map)
    if n < 2:
        raise ValueError(
            f"pca_topdir: need >= 2 vectors, got {int(n)} — a covariance "
            "needs a spread to measure"
        )
    # the ONLY rounding of data-scale sums (see docstring)
    s = np.round(np.array([s_map[i] for i in range(d)]), 6)
    g = np.zeros((d, d))
    for (i, j), val in g_map.items():
        g[i, j] = g[j, i] = np.round(val, 6)
    cov = (g - np.outer(s, s) / n) / n
    v = np.ones(d)
    for _ in range(iters):
        w = cov @ v
        nrm = float(np.sqrt((w * w).sum()))
        if nrm == 0.0:
            raise ValueError(
                "pca_topdir: power iterate vanished — either the "
                "covariance is zero (a constant cloud has no principal "
                "direction) or the all-ones seed is exactly orthogonal "
                "to the covariance's column space (an adversarial "
                "anti-correlated construction; re-seed or perturb the "
                "input).  Raising is deliberate: the oracle's SQL would "
                "emit NULL projections here and the engines would "
                "silently diverge on the 0/0"
            )
        v = w / nrm
    tr = float(np.trace(cov))
    if tr == 0.0:
        raise ValueError("pca_topdir: zero trace — constant cloud")
    lam = float(np.round(v @ (cov @ v), 6))
    expl = float(np.round((v @ (cov @ v)) / tr, 6))
    mu = s / n
    bc = spark.sparkContext.broadcast((mu, v))

    def project(batches):
        b_mu, b_v = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(
                [np.asarray(r, dtype="float64") for r in pdf["v"].values]
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype="int64"),
                    "pc_proj": np.round((x - b_mu) @ b_v, 6),
                }
            )

    return (
        src.mapInPandas(project, "vec_id bigint, pc_proj double")
        .withColumn("lambda1", F.lit(lam))
        .withColumn("explained_ratio", F.lit(expl))
        .orderBy(F.abs(F.col("pc_proj")).desc(), F.asc("vec_id"))
        .limit(k)
    )


def _bound_files_per_list(
    assigned: DataFrame, n_lists: int, files_per_list: int, caller: str
) -> DataFrame:
    """The shared small-files clustering for the IVF layout write AND
    append paths (one definition so the two can never diverge): one
    shuffle on (list_id, hash(vec_id) % F) lands each file-slot on a
    single task — at most F balanced files per touched list."""
    if files_per_list < 1:
        raise ValueError(
            f"{caller}: files_per_list must be >= 1 (got {files_per_list})"
        )
    return assigned.repartition(
        max(1, n_lists) * files_per_list,
        F.col("list_id"),
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(files_per_list)),
    )


def _layout_list_ids(spark, path: str) -> list[int]:
    """List ids present in an IVF layout, from the partition DIRECTORY
    names through the Hadoop FileSystem API — URI-portable (local,
    HDFS, object stores with a Hadoop connector), O(#list dirs) with no
    Spark job, and [] for an empty layout (a reader-based distinct()
    would launch one task per data file and cannot even infer a schema
    when no list attracted a vector)."""
    import re as _re

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    present = []
    for status in fs.listStatus(hpath):
        m = _re.fullmatch(
            r"list_id=(-?\d+)", status.getPath().getName()
        )
        if m and status.isDirectory():
            present.append(int(m.group(1)))
    return sorted(present)


def ivf_layout_write(
    corpus: DataFrame,
    path: str,
    num_centroids: int = 16,
    centroids=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    files_per_list: int | None = None,
) -> list[int]:
    """Write the corpus as an IVF-PARTITIONED parquet layout: one
    partition directory per coarse list (``list_id=<centroid_id>``),
    assignment identical to :func:`ivf_topk`'s fused argmax (rounded
    cosine, NaN→-inf, first-max ties → lowest centroid id).

    This is the storage half of ANN at 100 TB: with the corpus laid out
    by list, a query's ``nprobe`` probes prune at the FILE level —
    Spark's partition pruning skips (1 - nprobe/C) of the BYTES before
    a single task launches, instead of scanning everything and
    discarding in compute (what :func:`ivf_topk` must do over an
    unorganized table): pay one organized write, read forever.

    ``files_per_list`` bounds the FILE COUNT per list directory: the
    default (None) writes straight out of the assignment pass — zero
    extra shuffle, but every upstream partition that touches a list
    emits a file into it, so a 1000-task write can leave 1000 small
    files per list (the classic small-files problem; at 100 TB that
    multiplies NameNode/listing load and read open() counts by the
    task count).  With ``files_per_list=F`` the assigned rows take ONE
    clustering shuffle on (list_id, hash(vec_id) % F) before the write
    — exactly F balanced files per non-empty list, the organized
    write's one-time cost.  (AT MOST F:
    hash partitioning may co-locate two slots of one list in a task,
    which merges them into one larger file — never splits one.)

    Returns the sorted list ids present (centroid-cardinality).
    """
    spark = corpus.sparkSession
    if centroids is None:
        centroids = corpus.filter(F.col(id_col) < num_centroids).select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col)
        )
    c_ids, c_mat, c_norm = _collect_vec_block(
        centroids,
        "centroid_id",
        vec_col,
        "ivf_layout_write: empty centroid relation — same contract "
        "as ivf_topk (ids from 0, or pass centroids explicitly)",
    )
    bc = spark.sparkContext.broadcast((c_ids, c_mat, c_norm))

    def assign(batches):
        b_cids, b_cmat, b_cnorm = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.stack(pdf["v"].values).astype("float64")
            a_norm = np.linalg.norm(a, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype="int64"),
                    "v": pdf["v"],
                    "list_id": _ivf_assign(
                        a, a_norm, b_cids, b_cmat, b_cnorm
                    ),
                }
            )

    src = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
    )
    vec_type = src.schema["v"].dataType.simpleString()
    assigned = src.mapInPandas(
        assign, f"vec_id bigint, v {vec_type}, list_id bigint"
    )
    if files_per_list is not None:
        assigned = _bound_files_per_list(
            assigned, len(c_ids), files_per_list, "ivf_layout_write"
        )
    assigned.write.mode("overwrite").partitionBy("list_id").parquet(path)
    # The layout CARRIES its quantizer: readers and appenders must use
    # the writer's centroids (any index's contract), so they live under
    # the layout itself in an underscore directory (ignored by Spark's
    # partition discovery, like _metadata) instead of in callers' hands.
    # Arrow-local relation (plans/localrel.py): the pickled-list form
    # made this 16-row sidecar write a 4-second job (Python-runner
    # round trip); LocalTableScan writes it in ~0.16 s.
    from ..plans.localrel import local_df

    local_df(
        spark,
        [
            (int(i), [float(x) for x in c_mat[pos]])
            for pos, i in enumerate(c_ids)
        ],
        f"centroid_id bigint, {vec_col} array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/_quantizer")
    # ids actually WRITTEN, from the partition directory names — a
    # centroid that attracted no vectors gets no directory, and the
    # contract is "list ids present in the layout", not "centroids
    # offered".  Hadoop FileSystem listing, not os.listdir: URI-portable
    # (local/HDFS/object store), O(#list dirs) with no Spark job, and
    # correct ([]) for an empty corpus, where a reader-based distinct()
    # cannot even infer a schema.
    return _layout_list_ids(spark, path)


def ivf_pruned_topk(
    spark,
    layout_path: str,
    queries,
    num_centroids: int = 16,
    nprobe: int = 2,
    k: int = 3,
    centroids=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k over an :func:`ivf_layout_write` layout with PARTITION
    PRUNING: the driver computes the probe map (query-cardinality), the
    union of probed list ids becomes a partition filter on the layout
    scan — `PartitionFilters: [list_id IN (...)]` in the plan, so
    unprobed lists' FILES are never opened — and one Arrow pass scores
    each surviving row against exactly the queries probing its list.

    Bit-identical to ``ivf_topk(queries, corpus, ...)`` on the
    unorganized corpus (pinned in tests): same probe map, same rounded
    cosines, same tie rules — the assignment is simply read back from
    the layout instead of recomputed, which is also why the layout and
    the query MUST share the centroid relation (same contract as any
    index: the reader uses the writer's quantizer).
    """
    if centroids is None:
        # the layout's own quantizer (written by ivf_layout_write) — the
        # single source of truth; a caller-supplied centroid relation is
        # only for tests that must prove bit-identity against ivf_topk
        centroids = spark.read.parquet(layout_path + "/_quantizer")
    c_ids, c_mat, c_norm = _collect_vec_block(
        centroids,
        "centroid_id",
        vec_col,
        "ivf_pruned_topk: empty centroid relation (ids from 0, or "
        "pass centroids explicitly)",
    )
    if isinstance(queries, pd.DataFrame):
        queries = queries.rename(columns={id_col: "query_id"})
    else:
        queries = queries.select(
            F.col(id_col).alias("query_id"), vec_col
        )
    q_ids, q_mat, q_norm = _collect_vec_block(
        queries, "query_id", vec_col, "ivf_pruned_topk: empty query block"
    )
    probed_by_centroid = _ivf_probe_map(
        q_ids, q_mat, q_norm, c_ids, c_mat, c_norm, nprobe
    )
    probed_lists = sorted(probed_by_centroid)

    bc = spark.sparkContext.broadcast(
        (q_ids, q_mat, q_norm, probed_by_centroid)
    )

    def score(batches):
        b_qids, b_qmat, b_qnorm, b_probe = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.stack(pdf["v"].values).astype("float64")
            a_norm = np.linalg.norm(a, axis=1)
            ids = pdf["vec_id"].to_numpy(dtype="int64")
            lids = pdf["list_id"].to_numpy(dtype="int64")
            out_q, out_n, out_c = [], [], []
            for cid in np.unique(lids):
                qidx = b_probe.get(int(cid))
                if qidx is None:
                    continue
                mask = lids == cid
                oq, on, oc = _ivf_score_members(
                    a[mask], a_norm[mask], ids[mask],
                    qidx, b_qids, b_qmat, b_qnorm,
                )
                out_q.append(oq)
                out_n.append(on)
                out_c.append(oc)
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "cosine": np.concatenate(out_c),
                    }
                )

    corpus = spark.read.parquet(layout_path).filter(
        F.col("list_id").isin(*[int(x) for x in probed_lists])
    )
    cand = corpus.select("vec_id", "v", "list_id").mapInPandas(
        score, "query_id bigint, neighbor_id bigint, cosine double"
    )
    return _topk_by_cosine(cand, k)
