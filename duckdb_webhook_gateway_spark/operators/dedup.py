"""Deduplication operators for large-scale training-data pipelines.

Four families, each a composition of built-in DataFrame ops (no Python in
the hot path — everything stays in whole-stage codegen):

- exact          — hash-groupBy on content hash
- n-gram Jaccard — shingle inverted index + self-join (exact pairwise)
- MinHash + LSH  — seeded-md5 signatures, banded bucketing, verified pairs
- SimHash        — 32-bit bit-vote fingerprint, bucket grouping

Scale notes (100 TB posture):
- The exact/sim/minhash paths are linear: one explode + one keyed shuffle
  each; signatures are tiny compared to documents, so the shuffle moves
  hashes, not text.
- The exact-Jaccard self-join is quadratic in the worst case (a shingle
  shared by k docs contributes k² candidate rows).  It is the *verify*
  stage; at scale you run it only on MinHash-LSH candidates (see
  ``minhash_lsh_dedup``), which is exactly how the composition below is
  built.  Hot shingles (stop-word runs) should additionally be dropped by
  document frequency; parameterized via ``max_shingle_df``.

All hashing is md5-based (see functions/hashing.py) so results are
reproducible bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# 3-word shingles, 1-based element_at, identical to the oracle's t[i]·t[i+1]·t[i+2].
_SHINGLES_EXPR = (
    "array_distinct(transform(sequence(1, size(t) - 2), "
    "i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))))"
)


def tokenized(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    return docs.select(F.col(id_col), F.split(F.col(text_col), " ").alias("t"))


def shingle_arrays(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, sarr) — the distinct 3-gram shingle SET per document, kept
    nested.  The workhorse relation for every Jaccard-family operator:
    keeping the set in-row means set sizes are ``size(sarr)`` (no
    aggregation), signatures can be computed in-row (no explode), and the
    verify stage is ``array_intersect`` (no pair-by-shingle join).

    NOTE: the output id column is normalized to the literal name
    ``doc_id`` regardless of ``id_col`` (downstream helpers pattern-match
    on it); callers needing the original name should re-alias."""
    return (
        tokenized(docs, id_col, text_col)
        .filter(F.size("t") >= 3)
        .select(F.col(id_col).alias("doc_id"), F.expr(_SHINGLES_EXPR).alias("sarr"))
    )


def shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, shingle) — distinct 3-gram word shingles per document."""
    return shingle_arrays(docs, id_col, text_col).select(
        "doc_id", F.explode("sarr").alias("shingle")
    )


# ---------------------------------------------------------------------------
def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: md5(content) -> keeper (min id) + copy count.

    One map-side-combinable groupBy; the shuffle key is a 32-char hash, so
    at 100 TB the shuffle is ~32B×ndocs regardless of document size.
    """
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# Pair explosion over a sorted posting list: k docs -> k(k-1)/2 (a < b) pairs.
_PAIR_EXPR = (
    "flatten(transform(ds, (x, i) -> "
    "transform(slice(ds, i + 2, size(ds)), "
    "y -> struct(x AS doc_a, y AS doc_b))))"
)


# Jaccard from in-row columns: J = shared / (na + nb - shared), a ratio of
# integers rounded at 1e-6 — bit-identical across engines.
def _with_jaccard(inter: DataFrame, threshold: float) -> DataFrame:
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("shared_shingles").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared_shingles")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "shared_shingles", "jaccard")
    )


# Same explosion when the posting list carries (id, n) structs: each pair
# row arrives with BOTH set sizes attached — the Jaccard denominator needs
# no join at all downstream.
_PAIR_EXPR_SIZED = (
    "flatten(transform(ds, (x, i) -> "
    "transform(slice(ds, i + 2, size(ds)), "
    "y -> struct(x.id AS doc_a, y.id AS doc_b, x.n AS na, y.n AS nb))))"
)


def ngram_jaccard_dedup(
    docs: DataFrame,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = 64,
    hash_shingles: bool = True,
) -> DataFrame:
    """Pairwise 3-gram Jaccard near-dup detection with conservative
    hot-shingle pruning (pass ``max_shingle_df=None`` for the fully exact
    variant — the default prunes, see below).

    Join-free plan: the shingle SET is computed once per doc; each posting
    -list entry is a (doc_id, set_size) struct, so the pair explosion
    emits rows that already carry both Jaccard denominators.  Exactly two
    shuffles — the inverted-index groupBy and the pair-count groupBy —
    and NOTHING is broadcast (the round-2 version broadcast a
    corpus-cardinality sizes relation: multi-GB at 100M+ docs).

    ``hash_shingles`` (default ON — the standard production-dedup trade,
    e.g. the Gopher/SlimPajama pipelines) keys the inverted index on a
    60-bit md5-derived integer instead of the shingle text: the ONE
    corpus-scale shuffle ships 8-byte keys instead of ~25-byte strings
    and the index groupBy compares longs, at the cost of hash-Jaccard
    semantics (a 2^60-space collision merges two shingles — both engines
    hash identically, so the differential identity is unaffected).  Pass
    ``False`` for exact-string shingles.

    ``max_shingle_df`` (default ON) drops posting lists longer than the
    cutoff from the PAIRING stage — a shingle shared by k docs emits k²/2
    pair rows, so one stop-word run in a 100M-doc corpus would otherwise
    dominate the job.  Intersections are undercounted by the pruned
    (ubiquitous, low-information) shingles while denominators stay exact,
    so pruning is conservative: it can only lower a pair's Jaccard, never
    create a false positive.
    """
    sarr = shingle_arrays(docs, id_col, text_col)
    if hash_shingles:
        from ..functions.hashing import hex_to_int_expr

        # hash in-row over the nested set (one pass, before the explode);
        # array_distinct guards the (astronomically unlikely) within-doc
        # collision so set sizes stay consistent with the keyed index
        h = hex_to_int_expr("h", 15, "spark")
        sarr = sarr.withColumn(
            "sarr",
            F.expr(
                f"array_distinct(transform(transform(sarr, x -> md5(x)), h -> {h}))"
            ),
        )
    lists = (
        sarr.select(
            F.struct(
                F.col("doc_id").alias("id"), F.size("sarr").alias("n")
            ).alias("d"),
            F.explode("sarr").alias("shingle"),
        )
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_list("d")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    if max_shingle_df is not None:
        lists = lists.filter(F.size("ds") <= max_shingle_df)
    inter = (
        lists.select(F.explode(F.expr(_PAIR_EXPR_SIZED)).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.na", "p.nb")
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
    )
    return _with_jaccard(inter, threshold)


# ---------------------------------------------------------------------------
# Affine minhash family over a single md5-derived base hash:
#   h_s(x) = ((s·131071 + 65537) · base(x) + s·97531) mod (2³¹-1)
# base < 2³², multiplier < 2²¹ → products < 2⁵³: exact in BIGINT in both
# engines.  One md5 per shingle instead of one per (shingle, seed) — at
# sf0.1 that's 1.5M hashes instead of 24M, and the seeded variants are
# three integer ops each.
def minhash_bands_wide(
    sh: DataFrame, num_hashes: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """Signatures + banding in ONE aggregation over exploded (doc_id,
    shingle) rows: ``num_hashes`` MIN aggregates as columns, then bands
    stacked out of the wide row.  The reference form that
    ``minhash_bands_inrow`` (the production path, shingle SET nested per
    doc) is tested equal to.
    """
    from ..functions.hashing import md5_int_expr

    base = sh.withColumn("base", F.expr(md5_int_expr("shingle", "spark")))
    mins = base.groupBy("doc_id").agg(
        *[
            F.min(
                F.expr(f"(({s} * 131071 + 65537) * base + {s} * 97531) % 2147483647")
            ).alias(f"h{s}")
            for s in range(num_hashes)
        ]
    )
    return _stack_bands(mins, num_hashes, rows_per_band)


def _stack_bands(mins: DataFrame, num_hashes: int, rows_per_band: int) -> DataFrame:
    """(doc_id, h0..h{n-1}) wide row -> (doc_id, band_id, band_key)."""
    num_bands = num_hashes // rows_per_band
    stack_args = []
    for b in range(num_bands):
        cols = ", ".join(
            f"CAST(h{s} AS STRING)"
            for s in range(b * rows_per_band, (b + 1) * rows_per_band)
        )
        stack_args.append(f"{b}, md5(concat_ws('|', {cols}))")
    return mins.select(
        "doc_id",
        F.expr(
            f"stack({num_bands}, {', '.join(stack_args)}) AS (band_id, band_key)"
        ),
    )


def minhash_bands_inrow(
    sarr: DataFrame, num_hashes: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """Banded minhash signatures computed entirely IN-ROW — zero shuffle.

    Input is the nested shingle-set relation (``shingle_arrays``).  One
    md5 per shingle (hashed once, then 8 substr nibbles — the hex string
    is materialized first so the digest isn't recomputed per nibble),
    then each of the ``num_hashes`` affine variants is an ``array_min``
    over three integer ops per element.  Same (doc_id, band_id, band_key)
    rows as ``minhash_bands_wide`` (pinned by an equivalence test), but
    the plan is a pure projection: nothing moves until the band
    self-join, which at 100 TB is the FIRST shuffle of the whole dedup.
    """
    from ..functions.hashing import hex_to_int_expr

    bases = (
        f"transform(transform(sarr, x -> md5(x)), "
        f"h -> {hex_to_int_expr('h', 8, 'spark')})"
    )
    # Materialize the base-hash array as its own projection so the md5
    # pass runs once per doc, not once per seed.
    mins = sarr.withColumn("bases", F.expr(bases)).select(
        "doc_id",
        *[
            F.expr(
                f"array_min(transform(bases, "
                f"base -> (({s} * 131071 + 65537) * base + {s} * 97531) % 2147483647))"
            ).alias(f"h{s}")
            for s in range(num_hashes)
        ],
    )
    return _stack_bands(mins, num_hashes, rows_per_band)


def minhash_lsh_dedup(
    docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """MinHash-LSH near-dup: banded candidate generation + exact Jaccard
    verify restricted to candidates — the scale path for dedup.

    With 16 hashes / 4 bands, P(candidate) ≈ 1-(1-J⁴)⁴: J=0.9 is caught
    w.p. ~0.99, J=0.3 w.p. ~0.03 — the quadratic verify stage sees almost
    nothing but true near-dups.

    Shuffle budget: signatures are in-row (``minhash_bands_inrow``), so
    the first shuffle is the band groupBy (rows = 4×ndocs band keys, not
    shingles); pairs explode per bucket; the candidate ``distinct`` is
    pair-cardinality.  The verify stage broadcasts ONLY the id-pair
    candidate relation (two ints per row) into each side, then
    shuffle-joins the two candidate-restricted halves on (doc_a, doc_b)
    — nothing document-sized is ever broadcast, and set sizes come free
    as ``size(sa)`` / ``size(sb)`` in-row (no sizes relation at all).

    ``max_bucket_size`` (default ON) skips band buckets larger than the
    cutoff: a bucket of k docs explodes k²/2 pairs inside ONE row, so a
    degenerate corpus (thousands of identical docs) would otherwise put
    the whole quadratic blowup on a single task.  Such clusters are
    exact duplicates' territory — ``exact_dedup`` reports them at linear
    cost — so skipping them here loses nothing a sane pipeline needs.
    Pass ``None`` to disable.
    """
    sarr = shingle_arrays(docs, id_col, text_col)
    bands = minhash_bands_inrow(sarr, num_hashes, rows_per_band)
    buckets = (
        bands.groupBy("band_id", "band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ds") <= max_bucket_size)
    cand = (
        buckets.select(F.explode(F.expr(_PAIR_EXPR)).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    return _verify_candidates(docs, cand, threshold, id_col, text_col)


def _verify_candidates(
    docs: DataFrame,
    cand: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-Jaccard verify of an id-pair candidate relation (doc_a, doc_b).

    ``cand`` is pair-cardinality by LSH design (near-dup pairs + band false
    positives — output-scale, not corpus-scale).  It is cached MEMORY_ONLY
    because two downstream subplans reference it; without that each would
    re-run the candidate pipeline, i.e. re-shingle the whole corpus.
    MEMORY_ONLY (not the earlier default persist + module-global release):
    memory blocks LRU-evict on pressure, so nothing pins disk for the
    context lifetime and no cross-call release list is needed —
    interleaved dedup calls can never un-cache each other.  Lazy caching
    (not localCheckpoint) also keeps the full candidate lineage in the
    compiled plan, where the scale pins (`tests/test_plans.py`) audit it.

    Verify re-shingles ONLY candidate docs, exactly once: broadcast the
    union id list (id-width) into the raw-doc scan, shingle the
    survivors, and checkpoint that candidate-cardinality set relation.
    ``cand`` is then the join SPINE — one broadcast attaches the a-side
    sets, and the b-side attaches with a shuffle-hash equi-join on
    ``doc_b`` (hinted: candidate-cardinality on both sides, and a static
    broadcast of document-sized shingle arrays must never happen).  One
    broadcast of cand instead of the earlier one-per-side — one fewer
    chained job per call.  What's broadcast stays id-width (pairs + ids)
    — never document-sized rows — and set sizes come free as
    ``size(sa)``/``size(sb)`` in-row.
    """
    from pyspark import StorageLevel

    cand = cand.persist(StorageLevel.MEMORY_ONLY)
    ids = (
        cand.select(F.explode(F.array("doc_a", "doc_b")).alias(id_col))
        .distinct()
    )
    sarr_cand = shingle_arrays(
        docs.join(F.broadcast(ids), id_col), id_col, text_col
    ).persist(StorageLevel.MEMORY_ONLY)

    a = (
        sarr_cand.select(
            F.col("doc_id").alias("doc_a"), F.col("sarr").alias("sa")
        )
        .join(F.broadcast(cand), "doc_a")
    )
    b = sarr_cand.select(
        F.col("doc_id").alias("doc_b"), F.col("sarr").alias("sb")
    )
    inter = (
        a.join(b.hint("shuffle_hash"), "doc_b", "inner")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sa", "sb")).cast("bigint").alias(
                "shared_shingles"
            ),
            F.size("sa").alias("na"),
            F.size("sb").alias("nb"),
        )
    )
    return _with_jaccard(inter, threshold)


# ---------------------------------------------------------------------------
def build_band_store(
    docs: DataFrame,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, band_id, band_key) — the persistable MinHash signature
    store for INCREMENTAL dedup.

    In production this relation is written once per corpus (bucketed by
    ``band_key`` so incremental probes are co-located) and appended per
    accepted ingest batch; it is ~(4 bands × 32-char key) per document
    regardless of document size, so the store for a 100 TB corpus is
    O(100 GB) — scan-able without touching document text.
    """
    return minhash_bands_inrow(
        shingle_arrays(docs, id_col, text_col), num_hashes, rows_per_band
    )


def incremental_minhash_dedup(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    store: DataFrame | None = None,
    max_store_bucket: int | None = 256,
) -> DataFrame:
    """Near-dup check of a NEW ingest batch against an EXISTING corpus
    without re-shingling (or even re-reading the text of) the corpus.

    This is the steady-state dedup path at 100 TB: the full
    ``minhash_lsh_dedup`` runs once to bootstrap, ``build_band_store``
    persists the signatures, and every subsequent batch runs this —
    touching the corpus only through (a) the band-key probe of the store
    and (b) the text of the handful of candidate docs.

    Shuffle budget: the new batch's bands are computed in-row and
    BROADCAST (an ingest batch is small by contract), so the store-side
    probe join is map-side — with the store bucketed by band_key it reads
    shuffle-free; nothing corpus-sized ever moves.  Candidate pairs,
    bucket-cap counts, and the exact-Jaccard verify are all candidate-
    cardinality.  Verify re-reads text for candidate ids only (broadcast
    id semi-join into the doc scans).

    ``max_store_bucket`` caps the number of DISTINCT store docs sharing a
    probed band key (computed lazily on matched keys only — never a
    corpus-wide aggregation): a degenerate band bucket (thousands of
    near-identical corpus docs) would otherwise fan every probing new doc
    into thousands of verify pairs.  Same rationale as
    ``minhash_lsh_dedup``'s ``max_bucket_size``; pass ``None`` to disable.

    Returns (doc_a, doc_b, shared_shingles, jaccard) with the pair
    normalized to doc_a < doc_b; which side is the new doc is recoverable
    from the caller's batch predicate.
    """
    if store is None:
        store = build_band_store(
            corpus_docs, num_hashes, rows_per_band, id_col, text_col
        )
    new_bands = build_band_store(
        new_docs, num_hashes, rows_per_band, id_col, text_col
    )
    probe = F.broadcast(
        new_bands.select(
            F.col("doc_id").alias("new_id"), "band_id", "band_key"
        )
    )
    matched = store.select(
        F.col("doc_id").alias("store_id"), "band_id", "band_key"
    ).join(probe, ["band_id", "band_key"])
    if max_store_bucket is not None:
        ok_keys = (
            matched.groupBy("band_id", "band_key")
            .agg(F.countDistinct("store_id").alias("n_store"))
            .filter(F.col("n_store") <= max_store_bucket)
            .select("band_id", "band_key")
        )
        matched = matched.join(F.broadcast(ok_keys), ["band_id", "band_key"])
    cand = (
        # a re-ingested id matches its own store rows: drop self-pairs
        # (they would report a bogus jaccard=1.0 "duplicate")
        matched.filter(F.col("store_id") != F.col("new_id"))
        .select(
            F.least("store_id", "new_id").alias("doc_a"),
            F.greatest("store_id", "new_id").alias("doc_b"),
        )
        .distinct()
    )
    # latest-wins on id overlap: a re-ingested doc's NEW text verifies,
    # and the shingle relation never carries duplicate doc_id rows
    # (which would multiply every pair involving that id)
    new_ids = new_docs.select(F.col(id_col)).distinct()
    docs_all = corpus_docs.join(
        F.broadcast(new_ids), id_col, "left_anti"
    ).unionByName(new_docs)
    return _verify_candidates(docs_all, cand, threshold, id_col, text_col)


# ---------------------------------------------------------------------------
# SimHash: 32-bit, nibble-decoded from md5 so the oracle can reproduce it.
# vote(j) = +1 if bit j of md5(token)[0:8] else -1; simhash bit j = Σvotes > 0.
_NIBBLE_EXPR = (
    "(instr('0123456789abcdef', substr(h8, CAST(j / 4 AS INT) + 1, 1)) - 1)"
)
_MASK_EXPR = "(CASE CAST(j % 4 AS INT) WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)"


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, simhash): 32-bit bit-vote fingerprint over token md5s.

    Pure integer arithmetic end to end (nibble decode, bitmask votes,
    power-of-two reassembly) — bit-identical across engines and partition
    orders.  Linear: |tokens|×32 small rows into two keyed aggregations.
    """
    toks = (
        tokenized(docs, id_col, text_col)
        .select(F.col(id_col).alias("doc_id"), F.explode("t").alias("token"))
        .select("doc_id", F.substring(F.md5("token"), 1, 8).alias("h8"))
    )
    votes = (
        toks.select(
            "doc_id",
            "h8",
            F.explode(F.sequence(F.lit(0), F.lit(31))).alias("j"),
        )
        .withColumn(
            "vote",
            F.when(
                F.expr(f"({_NIBBLE_EXPR} & {_MASK_EXPR}) > 0"), F.lit(1)
            ).otherwise(F.lit(-1)),
        )
        .groupBy("doc_id", "j")
        .agg(F.sum("vote").alias("v"))
    )
    return (
        votes.withColumn(
            "bitval",
            F.when(F.col("v") > 0, F.expr("CAST(pow(2, 31 - j) AS BIGINT)")).otherwise(
                F.lit(0).cast("bigint")
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("bitval").alias("simhash"))
    )


def simhash_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc simhash + bucket population (n_bucket > 1 -> near-dup set).

    ``n_bucket`` attaches with the skew-safe partial-agg + join-back
    (``operators/frequency.py``), not a count window: a boilerplate
    corpus can put millions of docs on ONE simhash value, and a count
    window would pin that whole bucket on one task.  The simhash
    relation (doc-cardinality, two bigints) is lazily checkpointed so
    the two-aggregation fingerprint lineage runs once across the count
    and probe branches."""
    sh = simhash(docs, id_col, text_col).localCheckpoint(eager=False)
    from .frequency import attach_group_count

    return attach_group_count(sh, ("simhash",), "n_bucket").select(
        "doc_id", "simhash", "n_bucket"
    )


# ---------------------------------------------------------------------------
# Connected components over a near-dup pair graph: the clustering step that
# turns pairwise near-dup evidence into dedup groups (keep one per cluster).
def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Min-label propagation + pointer jumping: each node's label
    converges to the smallest id reachable from it, so ``cluster_id`` =
    the component's minimum id — deterministic, no randomness,
    engine-independent.

    Each round does two monotone contractions:
    1. propagate — lab(u) := min(lab(u), min over neighbors lab(v));
       one shuffle join keyed on node id over the EDGE relation.
    2. pointer-jump — lab(u) := min(lab(u), lab(lab(u))); one join on
       the LABEL relation.  Labels are always vertex ids, so the hop is
       well-defined, and jumping halves chain depth per round: an
       adversarial path graph converges in O(log diameter) rounds
       instead of O(diameter) — same guarantee class as large-star/
       small-star contraction, with a much simpler skeleton.

    Scale notes (100 TB posture): every relation the loop touches is
    bigint pairs — document text never enters the graph stage.  At
    fixpoint both contractions are no-ops, and on any symmetric edge
    (u,v) fixpoint forces lab(u) = lab(v), so labels are constant per
    component and pinned to the component min (the min node's own label
    can never drop below itself).  Convergence is detected via the
    monotone label-sum invariant (labels only decrease), one cheap agg
    per round.  Lineage is truncated per round with ``localCheckpoint``
    so the plan does not grow with iteration count.

    Returns (node, cluster_id): one row per node that appears in ``pairs``.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    labels = labels.localCheckpoint(eager=True)
    prev_sum = labels.agg(F.sum("lab")).collect()[0][0]
    if prev_sum is None:  # empty graph — keep the documented output schema
        edges.unpersist()
        return labels.select("node", F.col("lab").alias("cluster_id"))
    for _ in range(max_iterations):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("lab").alias("nmin"))
        )
        labels = (
            labels.join(nbr_min, labels["node"] == nbr_min["src"], "left")
            .select(
                "node",
                F.least(F.col("lab"), F.coalesce("nmin", F.col("lab"))).alias("lab"),
            )
        )
        hop = labels.select(
            F.col("node").alias("h_node"), F.col("lab").alias("h_lab")
        )
        labels = (
            labels.join(hop, labels["lab"] == hop["h_node"], "left")
            .select(
                "node",
                F.least(F.col("lab"), F.coalesce("h_lab", F.col("lab"))).alias("lab"),
            )
        )
        labels = labels.localCheckpoint(eager=True)
        cur_sum = labels.agg(F.sum("lab")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    edges.unpersist()
    return labels.select("node", F.col("lab").alias("cluster_id"))


def substring_dedup(
    docs: DataFrame,
    window_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_positions: int | None = 4000,
) -> DataFrame:
    """Exact substring dedup (Lee et al. 2022, arXiv:2107.06499): find
    every maximal span whose ``window_tokens``-token substrings also occur
    elsewhere in the corpus — the scalable stand-in for their suffix
    array (any shared >=k-token substring contains a shared k-token
    window, so window-hash matching finds the same spans).

    OVERLAPPING stride-1 windows, unlike ``passage_dedup``'s aligned
    chunks: a copied passage is caught at ANY offset.  Window hashes are
    computed in-row (one md5 per window); duplicated hashes (seen >=2
    times, within- or cross-doc) come from a partial-agg count +
    semi-filter join back — a count WINDOW over the hash would pin a
    boilerplate window's every occurrence on one task, while the
    aggregate collapses hot hashes map-side and the join back (probe =
    the lazily checkpointed window stream, build = one row per
    duplicated hash) is AQE-skew-splittable.  Duplicated windows then
    merge into maximal spans per doc via the classic interval cummax —
    window partitioned by doc, so span merging never crosses executors
    with doc-cardinality state.

    Returns only docs containing duplicated spans: (doc_id, n_tokens,
    n_dup_spans, n_dup_tokens, dup_token_frac).

    ``max_positions`` bounds window START positions (default 4000 — the
    house oracle convention's token-index table; the differential oracle
    can only enumerate bounded positions).  ``n_tokens`` stays the FULL
    length either way.  Pass None to scan arbitrarily long docs.
    """
    k = window_tokens
    pos_bound = (
        f"size(t) - {k - 1}"
        if max_positions is None
        else f"least(size(t) - {k - 1}, {max_positions})"
    )
    t = tokenized(docs, id_col, text_col)
    win = (
        t.filter(F.size("t") >= k)
        .select(
            F.col(id_col).alias("doc_id"),
            F.size("t").cast("bigint").alias("n_tokens"),
            F.explode(
                F.expr(
                    f"transform(sequence(1, {pos_bound}), i -> "
                    f"struct(i AS pos, md5(concat_ws(' ', slice(t, i, {k}))) AS h))"
                )
            ).alias("w"),
        )
        .select("doc_id", "n_tokens", "w.pos", "w.h")
        .localCheckpoint(eager=False)
    )
    dup_h = (
        win.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .select("h")
    )
    dup = win.join(dup_h, "h").select(
        "doc_id", "n_tokens", "pos", (F.col("pos") + k - 1).alias("pend")
    )
    prior = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ordered = Window.partitionBy("doc_id").orderBy("pos")
    spans = (
        dup.withColumn("cm", F.max("pend").over(prior))
        .withColumn(
            "new_island",
            F.when(F.col("cm").isNull() | (F.col("cm") < F.col("pos")), 1).otherwise(0),
        )
        .withColumn("island_id", F.sum("new_island").over(ordered))
        .groupBy("doc_id", "n_tokens", "island_id")
        .agg(F.min("pos").alias("s"), F.max("pend").alias("e"))
    )
    return spans.groupBy("doc_id", "n_tokens").agg(
        F.count("*").cast("bigint").alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias("n_dup_tokens"),
        F.round(
            F.sum(F.col("e") - F.col("s") + 1) / F.col("n_tokens").cast("double"), 6
        ).alias("dup_token_frac"),
    )


def _bucket_lcp_rows(rows, out):
    """LCP for ONE k-prefix bucket == one contiguous interval of the
    corpus-wide generalized suffix array.  Sort the bucket's suffix
    contexts (token tuples — the suffix-array order restricted to the
    interval), compute the LCP array between adjacent suffixes (Kasai's
    output for the interval), and report each suffix's maximal repeat
    length: the max of its two adjacent LCPs, which equals its max LCP
    against ANY other suffix (the standard suffix-array range-minimum
    property)."""
    items = sorted(
        (tuple(wl.split(" ")), did, pos) for wl, did, pos in rows
    )

    def lcp(a, b):
        n = 0
        for x, y in zip(a, b):
            if x != y:
                break
            n += 1
        return n

    adj = [lcp(items[i][0], items[i + 1][0]) for i in range(len(items) - 1)]
    for i, (_toks, did, pos) in enumerate(items):
        left = adj[i - 1] if i > 0 else 0
        right = adj[i] if i < len(adj) else 0
        out.append((did, pos, max(left, right)))


_PA_TYPES = {
    "bigint": "int64",
    "int": "int32",
    "smallint": "int16",
    "tinyint": "int8",
    "string": "string",
}


def _make_sa_lcp_fn(id_type: str):
    """mapInArrow body over the wk-sorted duplicated-suffix stream.

    The stream is hash-partitioned by wk (the count window's exchange)
    and sorted by wk within each partition, so every bucket is a
    CONTIGUOUS run: this streams bucket-by-bucket holding only the
    current bucket plus a bounded output buffer — the memory profile of
    grouped applyInPandas WITHOUT its per-group pandas-frame overhead
    (measured ~2 s for ~8k tiny buckets at sf0.1; the partition-stream
    form is ~10x cheaper)."""
    if id_type not in _PA_TYPES:
        # an unmapped id type would silently build a string array while
        # the declared mapInArrow schema keeps the input type — fail
        # loudly at plan-construction time instead of with an
        # Arrow/schema mismatch mid-job
        raise ValueError(f"unsupported doc_id type for SA dedup: {id_type}")

    def fn(batches):
        import pyarrow as pa

        pa_id = getattr(pa, _PA_TYPES[id_type])()
        schema = pa.schema(
            [
                ("doc_id", pa_id),
                ("pos", pa.int64()),
                ("match_len", pa.int64()),
            ]
        )
        out: list = []
        cur_key = None
        cur_rows: list = []

        def emit():
            batch = pa.RecordBatch.from_arrays(
                [
                    pa.array([r[0] for r in out], type=pa_id),
                    pa.array([r[1] for r in out], type=pa.int64()),
                    pa.array([r[2] for r in out], type=pa.int64()),
                ],
                schema=schema,
            )
            out.clear()
            return batch

        for batch in batches:
            wks = batch.column("wk").to_pylist()
            wls = batch.column("wl").to_pylist()
            dids = batch.column("doc_id").to_pylist()
            poss = batch.column("pos").to_pylist()
            for wkv, wlv, did, pos in zip(wks, wls, dids, poss):
                if wkv != cur_key:
                    if cur_rows:
                        _bucket_lcp_rows(cur_rows, out)
                        cur_rows = []
                    cur_key = wkv
                cur_rows.append((wlv, did, pos))
            if len(out) >= 65536:
                yield emit()
        if cur_rows:
            _bucket_lcp_rows(cur_rows, out)
        if out:
            yield emit()

    return fn


def substring_dedup_sa(
    docs: DataFrame,
    window_tokens: int = 8,
    context_tokens: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_positions: int | None = 4000,
) -> DataFrame:
    """Exact substring dedup via a DISTRIBUTED generalized suffix array
    (Lee et al. 2022, arXiv:2107.06499 build one corpus-wide suffix array
    on a single machine's disk; this is the shuffle-native formulation).

    Construction: every token position is a suffix.  Suffixes are
    bucketed by their EXACT ``window_tokens``-token prefix (the string
    itself, not a hash — no collision caveat, unlike
    ``substring_dedup``'s md5 windows).  Two facts make the buckets a
    complete suffix-array decomposition with NO cross-boundary merge:
    any repeated substring of length >= k contains its occurrences'
    suffixes in ONE bucket (they share the k-token prefix), and bucket
    boundaries are exactly the points where the global suffix array's
    LCP drops below k — so per-bucket sort + adjacent-LCP computes the
    same duplicated-position marking the corpus-wide SA+LCP would.

    Per bucket (only buckets holding >= 2 suffixes ever reach Python —
    a codegen count-window prunes the singleton tail first), suffix
    contexts are sorted token-wise and adjacent LCPs give each suffix
    its maximal repeat length, capped at ``context_tokens`` (the shipped
    suffix context; match lengths report as ``min(true, cap)``).
    Duplicated starts then merge into maximal per-doc spans via the
    interval-cummax island pattern shared with ``substring_dedup`` — and
    since a length-l >= k repeat marks starts at every offset of its
    window chain, the span UNION is identical to the window-hash
    operator's (differentially cross-checked in tests).

    Returns one row per maximal span: (doc_id, span_start, span_end,
    n_dup_starts, max_match_len), exact span boundaries on any corpus.

    Scale: the one corpus-wide shuffle keys on the k-token prefix and
    ships (k + context)-token suffix contexts — a constant-factor blowup
    of the corpus, the price of distributing what Lee et al. serialize
    through one machine's disk.  Python sees only duplicated suffixes
    (output-cardinality);  span merging is doc-partitioned windows.
    ``max_positions`` bounds suffix starts (oracle convention, as in
    ``substring_dedup``).
    """
    k, L = window_tokens, context_tokens
    pos_bound = (
        f"size(t) - {k - 1}"
        if max_positions is None
        else f"least(size(t) - {k - 1}, {max_positions})"
    )
    t = tokenized(docs, id_col, text_col)
    win = (
        t.filter(F.size("t") >= k)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.expr(
                    f"transform(sequence(1, {pos_bound}), i -> struct("
                    f"CAST(i AS BIGINT) AS pos, "
                    f"concat_ws(' ', slice(t, i, {k})) AS wk, "
                    f"concat_ws(' ', slice(t, i, {L})) AS wl))"
                )
            ).alias("w"),
        )
        .select("doc_id", "w.pos", "w.wk", "w.wl")
    )
    dup = (
        win.withColumn("cnt", F.count("*").over(Window.partitionBy("wk")))
        .filter(F.col("cnt") > 1)
        .select("doc_id", "pos", "wk", "wl")
    )
    # the count-window left the stream hash-partitioned by wk, so a
    # sort WITHIN partitions makes every bucket a contiguous run — no
    # extra exchange — and the Arrow pass streams bucket-by-bucket.
    # The id column keeps its INPUT type (string ids work, not just
    # bigint) — only pos/match_len are fixed-width.
    id_type = docs.schema[id_col].dataType.simpleString()
    starts = dup.sortWithinPartitions("wk").mapInArrow(
        _make_sa_lcp_fn(id_type),
        f"doc_id {id_type}, pos bigint, match_len bigint",
    )
    prior = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ordered = Window.partitionBy("doc_id").orderBy("pos")
    return (
        starts.withColumn("pend", F.col("pos") + k - 1)
        .withColumn("cm", F.max("pend").over(prior))
        .withColumn(
            "new_island",
            F.when(
                F.col("cm").isNull() | (F.col("cm") < F.col("pos")), 1
            ).otherwise(0),
        )
        .withColumn("island_id", F.sum("new_island").over(ordered))
        .groupBy("doc_id", "island_id")
        .agg(
            F.min("pos").alias("span_start"),
            F.max("pend").alias("span_end"),
            F.count("*").cast("bigint").alias("n_dup_starts"),
            F.max("match_len").cast("bigint").alias("max_match_len"),
        )
        .select(
            "doc_id", "span_start", "span_end", "n_dup_starts", "max_match_len"
        )
    )


# ---------------------------------------------------------------------------
# Prefix-filtered set-similarity join (PPJoin-family; Bayardo et al. 2007,
# Xiao et al. 2008 — public algorithms)
# ---------------------------------------------------------------------------


def prefix_jaccard_join(
    docs: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 4000,
) -> DataFrame:
    """All document pairs with token-set Jaccard >= num/den, by prefix
    filtering — the OTHER canonical set-similarity join, complementary to
    MinHash: exact (no probabilistic misses) with a candidate set pruned
    by global token rarity instead of random signatures.

    Every doc's token set is ordered by ascending document frequency
    (rarest first; ties broken by token text — a deterministic TOTAL
    order, which is all the pigeonhole argument needs, so no global
    rank/row_number is ever materialized).  If J(a,b) >= t then
    |a ∩ b| >= ceil(t*|a|), so any matching pair must share a token in
    the first |a| - ceil(t*|a|) + 1 rarest tokens — candidates are pairs
    sharing a PREFIX token, a tiny subset of pairs sharing ANY token.

    All thresholds are exact integer arithmetic on the rational t =
    num/den: required overlap is ceil(num*n/den) = (num*n + den - 1) DIV
    den, and the final test is den*|∩| >= num*|∪| — no float ever
    decides membership, so the result is bit-identical on any engine
    (a float ceil(0.8*5) can round to 5 and silently DROP a valid pair).

    Plan: token df is attached with the SKEW-SAFE partial-aggregate
    shape (operators/frequency.py): ``groupBy(token).count()`` — map-side
    combine collapses a hot stop-word key to one row per task — joined
    back on token with an AQE-skew-splittable sort-merge join (an
    earlier count-window formulation partitioned the (doc, token)
    stream by token with NO partial aggregation and no AQE rescue — a
    corpus-scale single task on any hot token; the count pass re-runs
    the cheap codegen explode lineage, which the checkpoint below
    amortizes to once per run).  One groupBy doc then builds the sorted
    token arrays, and that doc-cardinality relation (id + token array +
    lengths) is materialized ONCE with ``localCheckpoint`` before
    fan-out.  It is consumed three times
    downstream (prefix explode, verify side a, verify side b) and the
    prefix relation twice (self-join): without the checkpoint Catalyst
    re-executes the corpus explode + token-df shuffle for every
    consumer — ~3 full corpus passes per run, the dominant cost at any
    scale.  Downstream: prefix explode (bounded: (1-t) fraction of each
    doc's tokens), candidate pair distinct, then an id-width verify join
    computing the exact intersection in-row.  Nothing corpus-cardinality
    is broadcast or collected; the checkpoint blocks live on executors
    and are reclaimed when the returned DataFrame is garbage-collected.

    Returns (doc_a, doc_b, n_inter, n_union, jaccard) with doc_a < doc_b.
    """
    # first max_tokens positions only — the house oracle convention
    # (every token-table oracle enumerates positions 1..4000), mirrored
    # here so the differential identity holds for docs of any length
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(
                F.slice(F.split(F.col(text_col), " "), 1, max_tokens)
            )
        ).alias("token"),
    ).filter(F.col("token") != "")
    # Materialized ONCE (lazy — rides the per_doc checkpoint job): the
    # df count branch and the join probe are DIFFERENT plans above the
    # explode (partial agg vs raw stream), so ReuseExchange cannot share
    # them and the split+explode lineage would execute twice (the tfidf
    # pattern, operators/text.py — measured −35% on the base stage).
    tok = tok.localCheckpoint(eager=False)
    # (doc_id, token) is distinct, so the per-token row count IS the
    # document frequency; partial-agg + join-back (skew-safe, see above)
    from .frequency import attach_group_count

    per_doc = (
        attach_group_count(tok, ("token",), "df")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(df, token))), x -> x.token)"
            ).alias("toks")
        )
        .select(
            "doc_id",
            "toks",
            F.size("toks").alias("n"),
            # prefix_len = n - ceil(t*n) + 1, integer-exact
            F.expr(
                f"size(toks) - (({threshold_num} * size(toks) + {threshold_den} - 1)"
                f" DIV {threshold_den}) + 1"
            ).alias("plen"),
        )
        # materialize ONCE: consumed by prefix, pa and pb below.  LAZY:
        # all consumers sit in one action, so the blocks build inside
        # that job — eager pays an extra blocking job boundary for the
        # same reuse (interleaved A/B at sf0.1: lazy wins every adjacent
        # pair, ~3.4-4.3 s vs 3.8-4.4 s; same fix as
        # prefix_containment_join this round).
        .localCheckpoint(eager=False)
    )
    prefix = per_doc.select(
        "doc_id",
        "n",
        F.posexplode(F.expr("slice(toks, 1, plen)")).alias("pos", "token"),
    )
    # Candidate pruning (both filters exact, integer cross-multiplied):
    # - LENGTH filter: J(a,b) >= t forces den*min(na,nb) >= num*max(na,nb)
    # - POSITIONAL filter (Xiao et al. 2008 §3.2): a token shared at
    #   0-based prefix positions (pa, pb) bounds the overlap above by
    #   min(na-pa, nb-pb), and J >= num/den forces the overlap to be at
    #   least ceil(num*(na+nb)/(num+den)) — prune when the bound can't
    #   reach it.  Both run BEFORE the pair distinct, shrinking the
    #   distinct shuffle and the verify joins ~4x (measured at sf0.1).
    cand = (
        prefix.alias("x")
        .join(prefix.alias("y"), "token")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .filter(
            F.least(F.col("x.n"), F.col("y.n")) * threshold_den
            >= F.greatest(F.col("x.n"), F.col("y.n")) * threshold_num
        )
        .filter(
            F.least(
                F.col("x.n") - F.col("x.pos"), F.col("y.n") - F.col("y.pos")
            )
            * (threshold_num + threshold_den)
            >= threshold_num * (F.col("x.n") + F.col("y.n"))
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    pa = per_doc.select(
        F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"), F.col("n").alias("na")
    )
    pb = per_doc.select(
        F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"), F.col("n").alias("nb")
    )
    verified = (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("ta", "tb")))
        .withColumn("n_union", F.col("na") + F.col("nb") - F.col("n_inter"))
        .filter(
            F.col("n_inter") * threshold_den >= F.col("n_union") * threshold_num
        )
    )
    return verified.select(
        "doc_a",
        "doc_b",
        "n_inter",
        "n_union",
        F.round(F.col("n_inter") / F.col("n_union").cast("double"), 6).alias(
            "jaccard"
        ),
    )


def prefix_containment_join(
    docs: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_shingles: bool = True,
) -> DataFrame:
    """All document pairs whose 3-gram shingle intersection covers at
    least ``num/den`` of the SMALLER set — the asymmetric containment
    (subset / doc-in-doc) companion to :func:`prefix_jaccard_join`.
    Jaccard misses a short document quoted verbatim inside a long one
    (the union is dominated by the long side); containment is the
    standard detector for that case.

    Prefix filter, containment form: order each doc's shingles by
    ascending global document frequency (rarest first, ties by key — a
    deterministic total order).  If ``den*|a∩b| >= num*min(|a|,|b|)``
    then the smaller doc shares >= ceil(t*|a|) shingles, so at least one
    of its first ``|a| - ceil(t*|a|) + 1`` rarest shingles appears in
    the other doc — candidates are (prefix of the smaller) x (FULL
    posting list), never all pairs.  Unlike the Jaccard prefix join
    there is NO length filter (containment permits any size ratio), so
    the probe side must index every shingle; the join is equi-keyed and
    AQE-skew-splittable, and prefixes hold only each doc's RAREST keys,
    so hot-shingle posting lists are probed by few prefix rows.  The
    PPJoin POSITIONAL filter still applies (see the inline proof): a
    generating event at sorted positions (px, py) is pruned when the
    remaining suffixes cannot cover ``ceil(t*n_min)``, which cuts the
    candidate distinct before the verify joins.

    Thresholds are exact integer cross-multiplication (no float decides
    membership); ``hash_shingles`` mirrors ``ngram_jaccard_dedup`` — the
    corpus-scale shuffles key on a 60-bit md5-derived integer instead of
    shingle text (both engines hash identically, so the differential
    identity is exact).

    Returns ``(doc_a, doc_b, n_inter, n_min, containment)`` with
    ``doc_a < doc_b``.
    """
    sarr = shingle_arrays(docs, id_col, text_col)
    if hash_shingles:
        from ..functions.hashing import hex_to_int_expr

        h = hex_to_int_expr("h", 15, "spark")
        sarr = sarr.withColumn(
            "sarr",
            F.expr(
                f"array_distinct(transform(transform(sarr, x -> md5(x)), h -> {h}))"
            ),
        )
    sh = sarr.select("doc_id", F.explode("sarr").alias("shingle"))
    # Materialized ONCE (lazy — rides the per_doc checkpoint job): df
    # count branch and join probe are different plans above the explode,
    # so the shingle+md5 lineage would otherwise execute twice (same
    # fix as prefix_jaccard_join / tfidf; measured −35% on this stage).
    sh = sh.localCheckpoint(eager=False)
    from .frequency import attach_group_count

    # (doc_id, shingle) is distinct -> per-shingle row count IS the df;
    # partial-agg + join-back (skew-safe, operators/frequency.py)
    per_doc = (
        attach_group_count(sh, ("shingle",), "df")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(df, shingle))), x -> x.shingle)"
            ).alias("toks")
        )
        .select(
            "doc_id",
            "toks",
            F.size("toks").alias("n"),
            # prefix_len = n - ceil(t*n) + 1, integer-exact
            F.expr(
                f"size(toks) - (({threshold_num} * size(toks) + {threshold_den} - 1)"
                f" DIV {threshold_den}) + 1"
            ).alias("plen"),
        )
        # materialize ONCE: consumed by prefix, full, and both verify
        # sides.  LAZY: all four consumers sit in one action, so the
        # blocks build inside that job — an eager checkpoint pays an
        # extra blocking job boundary for the same reuse (interleaved
        # A/B at sf0.1: lazy ~1.20 s vs eager ~1.25 s, and one fewer
        # synchronization point at cluster scale).
        .localCheckpoint(eager=False)
    )
    prefix = per_doc.select(
        "doc_id",
        "n",
        F.posexplode(F.expr("slice(toks, 1, plen)")).alias("pos", "shingle"),
    )
    full = per_doc.select(
        "doc_id", "n", F.posexplode("toks").alias("pos", "shingle")
    )
    # x is the min side (its prefix bound is the one that holds); equal
    # sizes generate from both sides and the distinct collapses them.
    #
    # POSITIONAL filter (Xiao et al. 2008 §3.2, containment form): both
    # arrays share ONE global (df, shingle) sort order, so for the
    # FIRST shared shingle of a pair — at 0-based positions (px, py) —
    # nothing earlier on either side is shared, hence
    # |a∩b| <= min(nx-px, ny-py).  Containment >= num/den needs
    # |a∩b| >= ceil(num*nx/den) (x = min side), so prune generating
    # events where den*min(nx-px, ny-py) < num*nx.  Every valid pair
    # still survives via its first shared shingle (which pigeonhole
    # places inside x's prefix), and the filter runs BEFORE the pair
    # distinct — it prunes the one unbounded candidate class the plain
    # prefix bound admits: a min-side doc sharing one rare shingle with
    # a vastly larger doc whose posting-list tail can no longer cover
    # 4/5 of the min side.
    cand = (
        prefix.alias("x")
        .join(full.alias("y"), "shingle")
        .filter(
            (F.col("x.n") < F.col("y.n"))
            | (
                (F.col("x.n") == F.col("y.n"))
                & (F.col("x.doc_id") != F.col("y.doc_id"))
            )
        )
        .filter(
            F.least(
                F.col("x.n") - F.col("x.pos"), F.col("y.n") - F.col("y.pos")
            )
            * threshold_den
            >= threshold_num * F.col("x.n")
        )
        .select(
            F.least(F.col("x.doc_id"), F.col("y.doc_id")).alias("doc_a"),
            F.greatest(F.col("x.doc_id"), F.col("y.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    pa = per_doc.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("ta"),
        F.col("n").alias("na"),
    )
    pb = per_doc.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("tb"),
        F.col("n").alias("nb"),
    )
    return (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("ta", "tb")))
        .withColumn("n_min", F.least("na", "nb"))
        .filter(
            F.col("n_inter") * threshold_den >= F.col("n_min") * threshold_num
        )
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            "n_min",
            F.round(
                F.col("n_inter") / F.col("n_min").cast("double"), 6
            ).alias("containment"),
        )
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    max_tokens: int = 4000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every ``k``-token gram, then
    from every window of ``w`` consecutive gram hashes select the
    MINIMUM (rightmost position on ties) and keep the distinct selected
    (hash, position) pairs.  The guarantee that makes it the standard
    plagiarism/near-dup fingerprint: any shared token run of length
    >= w + k - 1 contributes at least one shared fingerprint, while the
    stored set is ~2/(w+1) of all grams — position-robust substring
    matching at a fraction of the index size.

    Everything below the explode is IN-ROW higher-order functions over
    the token array (grams, windows, argmin, distinct) — whole-stage
    friendly, embarrassingly parallel; integer md5-prefix hashes make
    the result bit-exact on any partitioning.  Docs shorter than
    ``k + w - 1`` tokens have no full window and emit NO fingerprints
    (pinned; the oracle's join conditions agree by construction).  The
    token array is capped at ``max_tokens`` on BOTH engines (the
    4000-token oracle convention).

    Returns exploded (``id_col``, fp_hash BIGINT, fp_pos INT).

    Reference parity: beyond-reference scale operator (the gateway has
    no text surface, /root/reference/src/app.py:175-239); differential
    oracle in ``workloads/datapipe.py``.
    """
    if k < 1 or w < 1:
        raise ValueError(f"winnow: need k >= 1 and w >= 1, got k={k} w={w}")
    from ..functions.hashing import md5_int_expr

    gram = "concat(" + ", ' ', ".join(
        f"element_at(t, p + {i})" for i in range(k)
    ) + ")"
    grams = (
        f"CASE WHEN size(t) >= {k} THEN "
        f"transform(sequence(1, size(t) - {k - 1}), "
        f"p -> struct({md5_int_expr(gram, 'spark')} AS h, p AS p)) "
        "ELSE array() END"
    )
    # argmin by (h asc, pos desc): rightmost minimal hash per window —
    # struct ordering is lexicographic, so min over (h, -p) IS the tie
    # rule.  The (h, -p) min-struct itself is kept through the distinct
    # (Catalyst does not CSE a repeated array_min inside a lambda, so
    # unpacking both fields inline would evaluate the O(w) scan twice
    # per window); the negated position un-negates after the explode.
    sel = (
        f"CASE WHEN size(g) >= {w} THEN "
        f"array_distinct(transform(sequence(1, size(g) - {w - 1}), "
        f"j -> array_min(transform(slice(g, j, {w}), "
        f"x -> named_struct('a', x.h, 'b', -x.p))))) "
        "ELSE array() END"
    )
    return (
        docs.select(
            F.col(id_col),
            F.expr(
                f"slice(split(coalesce({text_col}, ''), ' '), 1, "
                f"{max_tokens})"
            ).alias("t"),
        )
        .select(id_col, F.expr(grams).alias("g"))
        .select(id_col, F.explode(F.expr(sel)).alias("fp"))
        .select(
            id_col,
            F.col("fp.a").alias("fp_hash"),
            (-F.col("fp.b")).cast("int").alias("fp_pos"),
        )
    )


def winnow_pairs(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_doc_freq: int = 50,
    max_tokens: int = 4000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document near-dup pairs by shared winnowing fingerprints:
    (doc_a < doc_b, n_shared = distinct shared fingerprint hashes),
    kept when n_shared >= ``min_shared``.

    Scale shape: the pair join is keyed on fingerprint hash (the LSH
    banding pattern — candidates meet only inside a posting list,
    never all-pairs), and STOP fingerprints — hashes appearing in more
    than ``max_doc_freq`` docs — are dropped first via a partial-agg
    doc-frequency relation joined back (no count window), exactly the
    boilerplate-gram problem MOSS documents: a ubiquitous gram's
    posting list would otherwise contribute O(df^2) candidate pairs
    while carrying no dedup signal.  With the filter, any hash
    contributes at most max_doc_freq^2/2 pairs regardless of corpus
    size.
    """
    fp = (
        winnow_fingerprints(docs, k, w, max_tokens, id_col, text_col)
        .select(F.col(id_col).alias("d"), "fp_hash")
        .distinct()
    )
    dfreq = fp.groupBy("fp_hash").agg(F.count(F.lit(1)).alias("df"))
    kept = fp.join(dfreq, "fp_hash").filter(F.col("df") <= max_doc_freq)
    a = kept.select(F.col("d").alias("doc_a"), "fp_hash")
    b = kept.select(F.col("d").alias("doc_b"), "fp_hash")
    return (
        a.join(b, "fp_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
