"""Operator-level dedup behavior beyond what the oracle parity suite pins."""

from __future__ import annotations

from pyspark.sql import functions as F

from duckdb_webhook_gateway_spark.operators.dedup import (
    build_band_store,
    exact_dedup,
    incremental_minhash_dedup,
    minhash_lsh_dedup,
    ngram_jaccard_dedup,
    shingles,
    simhash_dedup,
)


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "completely different text with other words entirely here"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_groups_identical_texts(spark):
    out = {r.keeper_id: r.n_copies for r in exact_dedup(_docs(spark)).collect()}
    assert out[1] == 2  # docs 1 and 4 collapse, keeper is min id
    assert out[2] == 1 and out[3] == 1


def test_ngram_jaccard_finds_near_dup(spark):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_dedup(_docs(spark), threshold=0.3).collect()
    }
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # exact dup
    assert (1, 2) in pairs and 0.3 <= pairs[(1, 2)] < 1.0  # near dup
    assert not any(3 in p for p in pairs)  # unrelated doc never pairs


def test_minhash_catches_exact_dup(spark):
    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_dedup(_docs(spark), threshold=0.9).collect()}
    assert (1, 4) in pairs  # identical signatures share every band


def test_incremental_finds_cross_batch_dup(spark):
    """A new batch containing a dup of a corpus doc is flagged; unrelated
    corpus docs never pair."""
    docs = _docs(spark)
    new = docs.filter(F.col("doc_id") == 4)
    corpus = docs.filter(F.col("doc_id") != 4)
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in incremental_minhash_dedup(new, corpus, threshold=0.9).collect()
    }
    assert pairs == {(1, 4): 1.0}


def test_incremental_accepts_precomputed_store(spark):
    """Passing the persisted signature store must give the same answer as
    recomputing it from corpus text (the 100 TB path never re-shingles)."""
    docs = _docs(spark)
    new = docs.filter(F.col("doc_id") == 4)
    corpus = docs.filter(F.col("doc_id") != 4)
    store = build_band_store(corpus)
    with_store = sorted(
        map(tuple, incremental_minhash_dedup(new, corpus, store=store, threshold=0.9).collect())
    )
    without = sorted(
        map(tuple, incremental_minhash_dedup(new, corpus, threshold=0.9).collect())
    )
    assert with_store == without == [(1, 4, 7, 1.0)]


def test_incremental_equals_full_run_cross_subset(spark):
    """On the real corpus, incremental(batch=%10) returns exactly the
    straddling subset of the full LSH run (bucket caps never bind here)."""
    from conftest import sf_dir

    docs = spark.read.parquet(f"{sf_dir('sf0.001')}/documents.parquet")
    full = {
        (r.doc_a, r.doc_b): (r.shared_shingles, r.jaccard)
        for r in minhash_lsh_dedup(docs, threshold=0.5).collect()
    }
    cross_expected = {
        p: v for p, v in full.items() if (p[0] % 10 == 0) != (p[1] % 10 == 0)
    }
    inc = {
        (r.doc_a, r.doc_b): (r.shared_shingles, r.jaccard)
        for r in incremental_minhash_dedup(
            docs.filter(F.col("doc_id") % 10 == 0),
            docs.filter(F.col("doc_id") % 10 != 0),
            threshold=0.5,
        ).collect()
    }
    assert inc == cross_expected and len(inc) > 0


def test_simhash_identical_docs_same_bucket(spark):
    out = {r.doc_id: (r.simhash, r.n_bucket) for r in simhash_dedup(_docs(spark)).collect()}
    assert out[1][0] == out[4][0]
    assert out[1][1] >= 2


def test_inrow_bands_equal_wide_bands(spark):
    """The zero-shuffle in-row signature path must produce byte-identical
    (doc_id, band_id, band_key) rows to the exploded wide-agg path."""
    from duckdb_webhook_gateway_spark.operators.dedup import (
        minhash_bands_inrow,
        minhash_bands_wide,
        shingle_arrays,
    )

    docs = _docs(spark)
    wide = {
        (r.doc_id, r.band_id, r.band_key)
        for r in minhash_bands_wide(shingles(docs)).collect()
    }
    inrow = {
        (r.doc_id, r.band_id, r.band_key)
        for r in minhash_bands_inrow(shingle_arrays(docs)).collect()
    }
    assert wide == inrow and len(wide) == 4 * 4  # 4 docs x 4 bands


def test_ngram_jaccard_pruned_matches_exact_when_no_hot_shingles(spark):
    """With every shingle df below the cutoff, the default-on pruning is a
    no-op: pruned output == fully-exact output."""
    pruned = {
        (r.doc_a, r.doc_b, r.shared_shingles, r.jaccard)
        for r in ngram_jaccard_dedup(_docs(spark), threshold=0.3).collect()
    }
    exact = {
        (r.doc_a, r.doc_b, r.shared_shingles, r.jaccard)
        for r in ngram_jaccard_dedup(
            _docs(spark), threshold=0.3, max_shingle_df=None
        ).collect()
    }
    assert pruned == exact


def test_max_shingle_df_prunes_hot_shingles(spark):
    exact = ngram_jaccard_dedup(
        _docs(spark), threshold=0.01, max_shingle_df=None
    ).count()
    pruned = ngram_jaccard_dedup(
        _docs(spark), threshold=0.01, max_shingle_df=1
    ).count()
    # df<=1 shingles can never co-occur -> no pairs at all
    assert pruned == 0
    assert exact > 0


def test_degenerate_corpus_bucket_cap(spark):
    """1k identical docs: every band bucket holds all of them.  The
    default max_bucket_size must SKIP those buckets (no single-task k²/2
    pair explosion); exact_dedup still reports the cluster linearly."""
    rows = [(i, "the same exact document text repeated verbatim again") for i in range(1000)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    assert minhash_lsh_dedup(docs, threshold=0.5).count() == 0
    # disabling the cap brings the quadratic pairs back
    assert (
        minhash_lsh_dedup(docs, threshold=0.5, max_bucket_size=None).count()
        == 1000 * 999 // 2
    )
    keeper = exact_dedup(docs).collect()
    assert len(keeper) == 1 and keeper[0].n_copies == 1000


# ---------------------------------------------------------------------------
# connected_components: transitive clustering over pair evidence
def _cc(spark, pairs):
    from duckdb_webhook_gateway_spark.operators.dedup import connected_components

    df = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
    return {
        r.node: r.cluster_id for r in connected_components(df).collect()
    }


def test_cc_transitive_chain_collapses_to_min(spark):
    # 1-2, 2-3, 3-4: one component even though 1-4 never paired directly
    out = _cc(spark, [(1, 2), (2, 3), (3, 4)])
    assert out == {1: 1, 2: 1, 3: 1, 4: 1}


def test_cc_separate_components_keep_own_min(spark):
    out = _cc(spark, [(5, 9), (2, 7), (7, 3)])
    assert out == {5: 5, 9: 5, 2: 2, 7: 2, 3: 2}


def test_cc_long_chain_converges(spark):
    # worst-case diameter for propagation: a path graph
    n = 12
    out = _cc(spark, [(i, i + 1) for i in range(1, n)])
    assert out == {i: 1 for i in range(1, n + 1)}


def test_cc_pointer_jumping_beats_linear_rounds(spark):
    # A 100-node path needs ~99 propagate-only rounds; with pointer
    # jumping each round roughly halves chain depth, so 10 must suffice.
    from duckdb_webhook_gateway_spark.operators.dedup import connected_components

    n = 100
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], ["doc_a", "doc_b"]
    )
    out = {
        r.node: r.cluster_id
        for r in connected_components(df, max_iterations=10).collect()
    }
    assert out == {i: 1 for i in range(1, n + 1)}


def test_cc_empty_pairs_returns_empty(spark):
    from duckdb_webhook_gateway_spark.operators.dedup import connected_components

    df = spark.createDataFrame([], "doc_a BIGINT, doc_b BIGINT")
    assert connected_components(df).count() == 0


def test_substring_dedup_catches_unaligned_copy_and_merges_spans(spark):
    """A copied 8-token passage is caught at ANY offset (stride-1 windows,
    unlike aligned chunking), overlapping windows merge into one maximal
    span, and clean docs don't appear."""
    from duckdb_webhook_gateway_spark.operators.dedup import substring_dedup

    passage = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10"  # 10 shared tokens
    rows = [
        (1, "intro words " + passage + " outro"),          # offset 3
        (2, "x1 x2 x3 x4 x5 " + passage),                  # offset 6 (unaligned)
        (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12"),     # unique, >=8 tokens
        (4, "r1 r2 r3 r4 r5 r6 r7 r8 " * 2),               # self-repetition
    ]
    docs = spark.createDataFrame(
        [(i, t.strip()) for i, t in rows], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in substring_dedup(docs).collect()}
    assert set(out) == {1, 2, 4}
    # Doc 1: tokens 3..12 are the copied passage -> one merged 10-token span.
    assert out[1].n_dup_spans == 1 and out[1].n_dup_tokens == 10
    # Doc 2: same passage at a different offset -> also one 10-token span.
    assert out[2].n_dup_spans == 1 and out[2].n_dup_tokens == 10
    # Doc 4: "r1..r8 r1..r8" — every window repeats (the sequence itself
    # appears twice), so the merged span covers the whole doc.
    assert out[4].dup_token_frac == 1.0


def test_substring_sa_exact_spans_and_match_lengths(spark):
    """Seeded corpus, exact expectations: the suffix-array operator must
    report the same maximal span boundaries as the window-hash stand-in
    AND the exact maximal repeat length (capped at the shipped context),
    which the k-aligned stand-in cannot produce."""
    from duckdb_webhook_gateway_spark.operators.dedup import substring_dedup_sa

    passage = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10"  # 10 shared tokens
    rows = [
        (1, "intro words " + passage + " outro"),  # copy at offset 3
        (2, "x1 x2 x3 x4 x5 " + passage),          # copy at offset 6
        (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12"),  # unique
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        (r.doc_id, r.span_start, r.span_end): (r.n_dup_starts, r.max_match_len)
        for r in substring_dedup_sa(docs).collect()
    }
    # doc 1: passage occupies tokens 3..12 -> starts 3,4,5 (8-token
    # windows inside the 10-token repeat), span [3, 12], and the maximal
    # exact repeat is the full 10 tokens.
    # doc 2: same passage at tokens 6..15 -> starts 6,7,8, span [6, 15].
    assert out == {
        (1, 3, 12): (3, 10),
        (2, 6, 15): (3, 10),
    }


def test_substring_sa_match_length_caps_at_context(spark):
    """A repeat longer than the shipped context reports the cap, never a
    wrong exact value; span boundaries stay exact."""
    from duckdb_webhook_gateway_spark.operators.dedup import substring_dedup_sa

    long_rep = " ".join(f"t{i}" for i in range(20))  # 20-token repeat
    docs = spark.createDataFrame(
        [(1, "a1 a2 " + long_rep), (2, long_rep + " z1 z2 z3")],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: (r.span_start, r.span_end, r.max_match_len)
        for r in substring_dedup_sa(docs, context_tokens=16).collect()
    }
    assert out[1] == (3, 22, 16)  # true repeat len 20, reported cap 16
    assert out[2] == (1, 20, 16)


def test_substring_sa_spans_equal_window_hash_stand_in(spark):
    """Differential cross-check on real data: the SA operator's span
    UNION per doc must equal the window-hash operator's (any length-l>=k
    repeat marks the same chained k-window starts)."""
    from conftest import sf_dir
    from duckdb_webhook_gateway_spark.operators.dedup import (
        substring_dedup,
        substring_dedup_sa,
    )

    docs = spark.read.parquet(sf_dir() + "/documents.parquet")
    sa = substring_dedup_sa(docs)
    agg = sa.groupBy("doc_id").agg(
        F.count("*").alias("n_dup_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias(
            "n_dup_tokens"
        ),
    )
    legacy = substring_dedup(docs).select(
        "doc_id", "n_dup_spans", "n_dup_tokens"
    )
    got = {
        r.doc_id: (r.n_dup_spans, r.n_dup_tokens) for r in agg.collect()
    }
    want = {
        r.doc_id: (r.n_dup_spans, r.n_dup_tokens) for r in legacy.collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# prefix-filtered Jaccard join
# ---------------------------------------------------------------------------


def _brute_jaccard_pairs(docs, num, den):
    import itertools

    toks = {i: set(t.split()) for i, t in docs}
    out = set()
    for (ia, ta), (ib, tb) in itertools.combinations(
        sorted(toks.items()), 2
    ):
        inter = len(ta & tb)
        union = len(ta | tb)
        if den * inter >= num * union:
            out.add((ia, ib))
    return out


def test_prefix_jaccard_matches_bruteforce(spark):
    from duckdb_webhook_gateway_spark.operators.dedup import prefix_jaccard_join

    docs = [
        (1, "a b c d e"),
        (2, "a b c d"),       # J(1,2)=4/5 exactly — the float-ceil trap pair
        (3, "a b c d e"),     # J(1,3)=1
        (4, "x y z"),
        (5, "x y z w"),       # J(4,5)=3/4
        (6, "q"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in prefix_jaccard_join(df, 4, 5).collect()
    }
    assert got == _brute_jaccard_pairs(docs, 4, 5)
    # the exact-0.8 pair MUST be present: integer threshold math admits it
    assert (1, 2) in got


def test_prefix_jaccard_partition_independent(spark):
    from duckdb_webhook_gateway_spark.operators.dedup import prefix_jaccard_join

    docs = [(i, f"tok{i % 7} tok{i % 5} tok{i % 3} shared") for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    a = sorted(
        (r["doc_a"], r["doc_b"], r["n_inter"], r["n_union"])
        for r in prefix_jaccard_join(df.repartition(1), 1, 2).collect()
    )
    b = sorted(
        (r["doc_a"], r["doc_b"], r["n_inter"], r["n_union"])
        for r in prefix_jaccard_join(df.repartition(16), 1, 2).collect()
    )
    assert a == b and a


def test_prefix_jaccard_duplicate_tokens_collapse(spark):
    from duckdb_webhook_gateway_spark.operators.dedup import prefix_jaccard_join

    # repeated tokens are SET semantics: "a a a b" == {a, b}
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "a b b")], "doc_id bigint, text string"
    )
    rows = prefix_jaccard_join(df, 9, 10).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in rows] == [(1, 2, 1.0)]


def test_substring_sa_string_doc_ids(spark):
    """The applyInPandas output schema derives the id type from the input
    (ADVICE r5): string doc ids must work end-to-end, not just BIGINT."""
    from duckdb_webhook_gateway_spark.operators.dedup import substring_dedup_sa

    passage = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10"
    rows = [
        ("doc-a", "intro words " + passage + " outro"),
        ("doc-b", "x1 x2 x3 x4 x5 " + passage),
        ("doc-c", "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        (r.doc_id, r.span_start, r.span_end): (r.n_dup_starts, r.max_match_len)
        for r in substring_dedup_sa(docs).collect()
    }
    assert out == {
        ("doc-a", 3, 12): (3, 10),
        ("doc-b", 6, 15): (3, 10),
    }


def test_incremental_dedup_reingest_no_self_pairs(spark):
    """Re-ingesting a doc id already in the corpus must not emit a
    doc==doc self-pair (bogus jaccard=1.0) nor duplicate verify rows;
    the new batch's text wins in the shingle relation (r6 review fix)."""
    from duckdb_webhook_gateway_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    corpus = spark.createDataFrame(
        [(1, base), (2, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10")],
        ["doc_id", "text"],
    )
    # doc 1 re-ingested (same text) + a genuine near-dup of it
    new = spark.createDataFrame(
        [(1, base), (3, base + " tail")], ["doc_id", "text"]
    )
    out = incremental_minhash_dedup(new, corpus, threshold=0.5).collect()
    pairs = sorted((r.doc_a, r.doc_b) for r in out)
    assert all(a != b for a, b in pairs), pairs
    assert len(pairs) == len(set(pairs)), pairs  # no duplicated rows
    assert (1, 3) in pairs


def test_winnowing_guarantee_ties_and_stop_filter(spark):
    """The three winnowing contracts.  (1) Detection guarantee: any
    shared token run of length >= w + k - 1 (= 6 at the defaults)
    yields a shared fingerprint — two docs sharing an 8-token run must
    pair.  (2) Rightmost-minimum tie rule: a constant-token doc has ONE
    distinct gram hash, every window selects it, and the fingerprint
    set collapses to a single hash (array_distinct) — no blowup, no
    divergence.  (3) Stop filter: a gram shared by more than
    max_doc_freq docs is boilerplate and must not create pairs."""
    from duckdb_webhook_gateway_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h i j"),
            (1, "x y a b c d e f g h w q"),  # shared 8-token run
            (2, "z z z z z z z z"),
            (3, "p q"),  # shorter than k + w - 1: no fingerprints
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.doc_a, r.doc_b)
        for r in winnow_pairs(docs, min_shared=1).collect()
    }
    assert (0, 1) in pairs

    fps = winnow_fingerprints(docs).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp_hash)
    assert len(by_doc[2]) == 1  # constant doc: one distinct hash
    assert 3 not in by_doc  # too short

    # boilerplate: the same text in 5 docs with max_doc_freq=4 -> the
    # fingerprints all exceed the stop threshold, zero pairs survive
    boiler = spark.createDataFrame(
        [(i, "the same boilerplate line repeated here") for i in range(5)],
        "doc_id long, text string",
    )
    assert (
        winnow_pairs(boiler, min_shared=1, max_doc_freq=4).collect() == []
    )
    # ...and with the threshold above the df, all 10 pairs appear
    assert (
        len(winnow_pairs(boiler, min_shared=1, max_doc_freq=5).collect())
        == 10
    )
