"""Approximation quality: the LSH/IVF shortcuts must actually find most of
what the exact operators find.  Recall regressions are silent correctness
bugs — the parity suite can't catch them (each operator matches its own
oracle), so they're pinned here against the exact baselines."""

from __future__ import annotations

from conftest import sf_dir

from duckdb_webhook_gateway_spark.workloads import datapipe


def test_minhash_lsh_recall_vs_exact(spark):
    d = sf_dir("sf0.01")
    exact = {
        (r.doc_a, r.doc_b)
        for r in datapipe.dedup_ngram_jaccard(spark, d).collect()
    }  # jaccard >= 0.6 — real near-dups
    lsh = {
        (r.doc_a, r.doc_b)
        for r in datapipe.dedup_minhash_lsh(spark, d).collect()
    }
    assert exact, "no near-dup pairs in test data?"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9, f"minhash-LSH recall {recall:.2f} vs exact jaccard"


def test_ivf_recall_vs_bruteforce(spark):
    d = sf_dir("sf0.01")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in datapipe.ann_cosine_topk(spark, d).collect()
        if r.rank <= 3
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in datapipe.ann_ivf_topk(spark, d).collect()
    }
    recall = len(exact & ivf) / len(exact)
    # nprobe=2 of 16 lists: a top-3 neighbor is found iff it lives in a
    # probed list — anything below this floor means the quantizer broke.
    assert recall >= 0.4, f"IVF recall@3 {recall:.2f} vs brute force"


def test_lsh_buckets_group_near_dups(spark):
    d = sf_dir("sf0.01")
    near = datapipe.embedding_near_dup(spark, d).collect()
    assignments: dict = {}
    for r in datapipe.ann_lsh_buckets(spark, d).collect():
        assignments.setdefault(r.vec_id, set()).add((r.table_id, r.bucket))
    # candidate = pair shares a bucket in ANY of the 4 tables
    same = sum(
        1 for r in near if assignments[r.vec_a] & assignments[r.vec_b]
    )
    assert len(near) > 0
    # theory for cos>=0.45: ~1-(1-0.65^4)^4 ≈ 0.55 expected recall
    assert same / len(near) >= 0.3, f"only {same}/{len(near)} near-dups co-bucketed"


def test_near_dup_lsh_block_split_is_result_invariant(spark):
    """The hot-bucket block split (max_group_members) must not change
    the result at ANY cap: blocks partition each bucket, every unordered
    pair lives in exactly one block pair, cosines round identically.
    A tiny cap forces B>1 on every bucket — the degenerate-hot-bucket
    code path — and the pair set with cosines must match the unblocked
    scoring exactly."""
    from duckdb_webhook_gateway_spark.operators import similarity as S

    emb = spark.read.parquet(sf_dir("sf0.01") + "/embeddings.parquet")
    unblocked = {
        (r.vec_a, r.vec_b, r.cosine)
        for r in S.near_dup_pairs_lsh(
            emb, threshold=0.45, max_group_members=1 << 20
        ).collect()
    }
    blocked = {
        (r.vec_a, r.vec_b, r.cosine)
        for r in S.near_dup_pairs_lsh(
            emb, threshold=0.45, max_group_members=8
        ).collect()
    }
    assert len(unblocked) > 0
    assert blocked == unblocked

    # and the split actually bounds group membership: no (table, bucket,
    # g1, g2) scoring group exceeds ~2 blocks of cap expected members
    from pyspark.sql import functions as F

    cap = 8
    buckets = S.lsh_buckets(emb)
    member = (
        buckets.withColumn(
            "n_blocks",
            F.expr(f"CAST((bucket_size + {cap - 1}) DIV {cap} AS INT)"),
        )
        .withColumn(
            "block", F.expr("CAST(pmod(xxhash64(vec_id), n_blocks) AS INT)")
        )
        .withColumn("j", F.explode(F.expr("sequence(0, n_blocks - 1)")))
        .groupBy(
            "table_id",
            "bucket",
            F.least("block", "j"),
            F.greatest("block", "j"),
        )
        .count()
    )
    max_group = member.agg(F.max("count")).collect()[0][0]
    assert max_group <= 4 * (2 * cap), max_group


def test_near_dup_auto_routes_to_lsh(spark):
    """Past the exact ceiling, near_dup_pairs must switch to the LSH
    composition (no full-corpus driver collect); below it, stay exact."""
    from duckdb_webhook_gateway_spark.operators import similarity as S

    emb = spark.read.parquet(sf_dir() + "/embeddings.parquet")
    exact = S.near_dup_pairs(emb, threshold=0.45)          # under ceiling
    routed = S.near_dup_pairs(emb, threshold=0.45, exact_ceiling=1)
    forced = S.near_dup_pairs_lsh(emb, threshold=0.45)
    # The routed plan IS the LSH plan (same candidate recall), and the
    # LSH result is a subset of the exact pairs.
    assert routed.count() == forced.count()
    exact_pairs = {(r.vec_a, r.vec_b) for r in exact.collect()}
    routed_pairs = {(r.vec_a, r.vec_b) for r in routed.collect()}
    assert routed_pairs <= exact_pairs


def test_q8_recall_vs_float(spark):
    """int8 quantization trades precision for 4× memory: top-5 by q8
    cosine must still recover most of the float top-5."""
    exact = {
        (r.query_id, r.neighbor_id)
        for r in datapipe.ann_cosine_topk(spark, sf_dir("sf0.01")).collect()
    }
    q8 = {
        (r.query_id, r.neighbor_id)
        for r in datapipe.ann_q8_topk(spark, sf_dir("sf0.01")).collect()
    }
    recall = len(exact & q8) / len(exact)
    assert recall >= 0.7, f"q8 recall@5 {recall:.2f} vs float brute force"


def test_semantic_dedup_vs_exact_near_dup(spark):
    """SemDeDup prunes a SUBSET of the exact near-dup graph: every dup it
    counts corresponds to an exact >=threshold pair, and totals are
    consistent (members partition the corpus; dups < members)."""
    from duckdb_webhook_gateway_spark.operators import similarity as S

    d = sf_dir("sf0.01")
    emb = spark.read.parquet(d + "/embeddings.parquet")
    n = emb.count()
    clusters = datapipe.semantic_dedup(spark, d).collect()
    assert len(clusters) == 8
    assert sum(r.n_members for r in clusters) == n
    total_dups = sum(r.n_dups for r in clusters)
    assert 0 < total_dups < n
    # Exact pairs at the same threshold bound the semantic dup count:
    # within-cluster pruning can never claim more dup ids than the global
    # near-dup graph has distinct higher-id endpoints.
    exact_high_ids = {
        r.vec_b for r in S.near_dup_pairs(emb, threshold=0.45).collect()
    }
    assert total_dups <= len(exact_high_ids)


def test_dsir_selection_enriches_target_domain(spark):
    """DSIR's selected set must be substantially enriched for the target
    domain vs the base rate — the whole point of importance resampling."""
    d = sf_dir("sf0.01")
    docs = spark.read.parquet(d + "/documents.parquet")
    en = {r.doc_id for r in docs.filter("lang = 'en'").select("doc_id").collect()}
    base_rate = len(en) / docs.count()
    sel = {
        r.doc_id
        for r in datapipe.dsir_selection(spark, d).filter("selected").collect()
    }
    assert sel, "DSIR selected nothing"
    precision = len(sel & en) / len(sel)
    assert precision >= base_rate + 0.25, (precision, base_rate)


def test_quantile_sketch_error_within_one_bin(spark):
    """Histogram interpolation can be off by at most one bin width
    ((mx-mn)/256) from the exact order statistic."""
    from conftest import sf_dir
    import pyspark.sql.functions as F
    from duckdb_webhook_gateway_spark.sources.files import read_table
    from duckdb_webhook_gateway_spark.workloads.analytics import (
        value_quantile_sketch,
    )

    rows = value_quantile_sketch(spark, sf_dir()).collect()
    spans = {
        r["event_type"]: (r["mx"] - r["mn"]) / 256
        for r in read_table(spark, sf_dir(), "events")
        .groupBy("event_type")
        .agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
        .collect()
    }
    assert rows
    for r in rows:
        assert abs(r["est"] - r["exact"]) <= spans[r["event_type"]] + 1e-9, r


def test_kmv_overlap_union_estimate_bounded_error(spark):
    """Merged-sketch union estimates stay within KMV error bounds
    (~1/sqrt(k) ≈ 12.5% stderr at k=64; assert a generous 4-sigma)."""
    from conftest import sf_dir
    from duckdb_webhook_gateway_spark.workloads.datapipe import source_overlap_kmv

    rows = source_overlap_kmv(spark, sf_dir()).collect()
    assert rows
    for r in rows:
        assert r["est_union"] > 0
        rel = abs(r["est_union"] - r["exact_union"]) / max(r["exact_union"], 1)
        assert rel < 0.5, r
        # intersection estimate can be zero only when the exact is small
        if r["exact_inter"] == 0:
            assert r["est_inter"] <= r["est_union"]


def test_cm_sketch_never_underestimates(spark):
    """Count-Min's one-sided error guarantee: est >= exact for every
    probed token (collisions only add)."""
    from conftest import sf_dir
    from duckdb_webhook_gateway_spark.workloads.datapipe import (
        token_freq_cm_sketch,
    )

    rows = token_freq_cm_sketch(spark, sf_dir()).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["cm_est"] >= r["exact_cnt"], r
        assert r["overcount"] == r["cm_est"] - r["exact_cnt"]


def test_pq_topk_recall_and_memory_shape(spark):
    """PQ ADC ranking vs the exact squared-L2 top-3 (the metric PQ
    approximates).  Uniform random 64-dim vectors are PQ's WORST case
    (no cluster structure; distances concentrate), so the pins are the
    quality GRADIENT, not an absolute: recall must rise substantially
    with codebook size (measured 0.10 @ 16 codes -> 0.37 @ 256 on this
    corpus) — if quantization or the ADC gather were wrong, more codes
    would not help."""
    import numpy as np

    from pyspark.sql import functions as F

    from duckdb_webhook_gateway_spark.operators import similarity as S

    emb = spark.read.parquet(sf_dir("sf0.01") + "/embeddings.parquet")
    rows = emb.orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.stack([np.asarray(r.embedding, dtype="float64") for r in rows])
    q_idx = np.nonzero(ids < 10)[0]
    exact = {}
    for qi in q_idx:
        d = ((mat - mat[qi]) ** 2).sum(axis=1)
        order = np.lexsort((ids, np.round(d, 6)))
        top = [ids[i] for i in order if ids[i] != ids[qi]][:3]
        exact[ids[qi]] = set(top)

    def recall(num_codes):
        got = {}
        out = S.pq_topk(
            emb.filter(F.col("vec_id") < 10), emb, num_codes=num_codes, k=3
        ).collect()
        for r in out:
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
        return hits / sum(len(v) for v in exact.values())

    r16 = recall(16)
    r256 = recall(256)
    assert r16 >= 0.05, f"PQ recall@3 {r16:.2f} with 16 codes"
    assert r256 >= 0.3, f"PQ recall@3 {r256:.2f} with 256 codes"
    assert r256 >= r16 + 0.1, (r16, r256)


def test_pq_trained_codebook_raises_recall(spark):
    """Wiring pq_train into pq_topk (codebook=) is the production path:
    per-subspace Lloyd codewords follow the data distribution, so the
    same code budget must recover at least as much of the exact
    squared-L2 top-3 as the first-N differential-testing codebook — and
    clear a floor the first-N codebook is not held to.  Also sanity:
    one trained codeword per (code, subspace), correct concatenated
    width, and a mean-of-members codeword reduces assignment distortion
    round over round (Lloyd's monotonicity, spot-checked end to end)."""
    import numpy as np

    from pyspark.sql import functions as F

    from duckdb_webhook_gateway_spark.operators import similarity as S

    emb = spark.read.parquet(sf_dir("sf0.01") + "/embeddings.parquet")
    rows = emb.orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.stack([np.asarray(r.embedding, dtype="float64") for r in rows])
    exact = {}
    for qi in np.nonzero(ids < 10)[0]:
        d = ((mat - mat[qi]) ** 2).sum(axis=1)
        order = np.lexsort((ids, np.round(d, 6)))
        exact[ids[qi]] = set([ids[i] for i in order if ids[i] != ids[qi]][:3])

    def recall(cb):
        got = {}
        out = S.pq_topk(
            emb.filter(F.col("vec_id") < 10), emb, num_codes=16, k=3,
            codebook=cb,
        ).collect()
        for r in out:
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(len(exact[q] & got.get(q, set())) for q in exact) / sum(
            len(v) for v in exact.values()
        )

    trained = S.pq_train(emb, num_subspaces=8, num_codes=16, iterations=3)
    t_rows = trained.collect()
    assert len(t_rows) == 16
    assert all(len(r.embedding) == 64 for r in t_rows)
    r_first = recall(None)
    r_trained = recall(trained.withColumnRenamed("code_id", "vec_id"))
    assert r_trained >= r_first, (r_trained, r_first)
    assert r_trained >= 0.25, f"trained PQ recall@3 {r_trained:.2f}"

    # exact_nano mode (the ann_pq_trained_topk engine-portable Lloyd):
    # 1e-9 codeword quantization + truncating division must not cost
    # recall, and the code_id-keyed output must be a GENUINE drop-in
    # for pq_topk(codebook=...) — no vec_id rename (the documented
    # contract; regression for the round-10 docstring/arg mismatch)
    # same iteration count as the float arm so the 0.25 floor is
    # comparing MODES, not iteration budgets (2 Lloyd iterations land
    # at ~0.23 in either mode; ann_pq_trained_topk's 2-iteration device
    # is value-pinned by the oracle parity gate instead)
    trained_nano = S.pq_train(
        emb, num_subspaces=8, num_codes=16, iterations=3, exact_nano=True
    )
    assert "code_id" in trained_nano.columns
    r_nano = recall(trained_nano)
    assert r_nano >= r_first, (r_nano, r_first)
    assert r_nano >= 0.25, f"exact_nano trained PQ recall@3 {r_nano:.2f}"


def test_ivfpq_consistent_with_components(spark):
    """IVF-PQ must be the exact composition of its parts: every returned
    neighbor shares a probed list with its query (IVF side), and its
    nano-distance equals the full-PQ ADC distance for that pair (PQ
    side, same codebook) — the composition adds candidate restriction,
    never different scores."""
    from pyspark.sql import functions as F

    from duckdb_webhook_gateway_spark.operators import similarity as S

    d = sf_dir("sf0.01")
    emb = spark.read.parquet(d + "/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    got = S.ivfpq_topk(queries, emb, k=3).collect()
    assert len(got) == 30

    # PQ side: pair distances equal the unrestricted PQ ADC distances
    pq_all = {
        (r.query_id, r.neighbor_id): r.pq_dist_nano
        for r in S.pq_topk(queries, emb, k=1 << 30).collect()
    }
    for r in got:
        assert pq_all[(r.query_id, r.neighbor_id)] == r.pq_dist_nano, r

    # IVF side: every neighbor lives in one of its query's probed lists
    assigned = {
        r.vec_id: r.centroid_id
        for r in S.ivf_assign(
            emb,
            emb.filter(F.col("vec_id") < 16).select(
                F.col("vec_id").alias("centroid_id"), "embedding"
            ),
        ).collect()
    }
    import numpy as np

    rows = queries.orderBy("vec_id").collect()
    cent = emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    c_mat = np.stack([np.asarray(r.embedding, dtype="float64") for r in cent])
    c_ids = np.array([r.vec_id for r in cent])
    probes = {}
    for r in rows:
        q = np.asarray(r.embedding, dtype="float64")
        with np.errstate(invalid="ignore", divide="ignore"):
            sims = np.round(
                (c_mat @ q)
                / (np.linalg.norm(c_mat, axis=1) * np.linalg.norm(q)),
                6,
            )
        sims = np.where(np.isnan(sims), -np.inf, sims)
        probes[r.vec_id] = set(
            c_ids[np.argsort(-sims, kind="stable")[:2]].tolist()
        )
    for r in got:
        assert assigned[r.neighbor_id] in probes[r.query_id], r


def test_ivf_family_rejects_offset_id_space(spark):
    """The default centroid devices (ids < num_centroids) assume ids
    start at 0; on an offset id space they must fail LOUDLY with the
    explicit-centroids remedy, not die in an opaque np.stack."""
    import pytest
    from pyspark.sql import functions as F

    from duckdb_webhook_gateway_spark.operators import similarity as S

    emb = spark.read.parquet(sf_dir("sf0.01") + "/embeddings.parquet")
    offset = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    qs = offset.limit(2)
    with pytest.raises(ValueError, match="ids starting at 0"):
        S.ivf_topk(qs, offset).collect()
    with pytest.raises(ValueError, match="ids starting at 0"):
        S.ivfpq_topk(qs, offset).collect()
    with pytest.raises(ValueError, match="ids starting at 0"):
        S.ivfq8_topk(qs, offset).collect()


def test_ivfq8_full_probe_equals_flat_q8(spark):
    """IVF-SQ8 must be the exact composition of its parts: probing ALL
    lists removes the IVF candidate restriction, so the result —
    neighbors, integer-exact q8 scores, ranks — equals flat
    ``quantized_topk`` bit-for-bit (the fused numpy encode and the
    DataFrame-expression encode implement the same half-away rounding)."""
    from pyspark.sql import functions as F

    from duckdb_webhook_gateway_spark.operators import similarity as S

    emb = spark.read.parquet(sf_dir("sf0.01") + "/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 10)
    full = sorted(
        map(tuple, S.ivfq8_topk(qs, emb, num_centroids=16, nprobe=16, k=5).collect())
    )
    flat = sorted(map(tuple, S.quantized_topk(qs, emb, k=5).collect()))
    assert full == flat


def test_q8_rounding_guard_and_empty_query_contracts(spark):
    """r13 contracts on the fused q8 scan (ADVICE r12).  (1) The final
    6dp score rounds HALF-AWAY-FROM-ZERO like Spark/DuckDB ``round``,
    not numpy banker's — asserted on the shared helper at exactly
    representable halfway points where the two modes disagree (both
    q8 score sites route through it, so the full-probe identity pin
    is by construction).  (2) An EMPTY query block returns an empty
    typed frame (the declarative pre-r12 contract, restored), not a
    raise.  (3) A query side past ``max_queries`` is rejected
    descriptively (the banded_hamming_topk loud-reject convention) —
    the broadcast is what the bound protects."""
    import numpy as np
    import pytest
    from pyspark.sql import functions as F

    from duckdb_webhook_gateway_spark.operators import similarity as S

    # 2.5e-6 * 1e6 == 2.5 exactly in float64 (verified): banker's gives
    # 2e-6 / 4e-6 / 0.0 for these, half-away must give 3e-6 / 5e-6 / 1e-6
    x = np.array([2.5e-6, -2.5e-6, 0.5e-6, 4.5e-6, -1.5e-6])
    got = S._round_half_away_np(x, 6)
    assert got.tolist() == [3e-6, -3e-6, 1e-6, 5e-6, -2e-6]
    assert np.isnan(S._round_half_away_np(np.array([np.nan]), 6)).all()

    emb = spark.read.parquet(sf_dir("sf0.01") + "/embeddings.parquet")
    out = S.quantized_topk(emb.filter(F.col("vec_id") < 0), emb, k=5)
    assert out.columns == ["query_id", "neighbor_id", "q8_cosine", "rank"]
    assert out.count() == 0

    with pytest.raises(ValueError, match="max_queries"):
        S.quantized_topk(emb.limit(4), emb, k=5, max_queries=3)


def test_ivfq8_recall_vs_float(spark):
    """nprobe=2/16 + int8 scoring must still recover most of the float
    top-5 (measured 0.90 on this corpus; gate at 0.7 like flat q8)."""
    from pyspark.sql import functions as F

    from duckdb_webhook_gateway_spark.operators import similarity as S

    d = sf_dir("sf0.01")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in datapipe.ann_cosine_topk(spark, d).collect()
    }
    emb = spark.read.parquet(d + "/embeddings.parquet")
    iq = {
        (r.query_id, r.neighbor_id)
        for r in S.ivfq8_topk(
            emb.filter(F.col("vec_id") < 10), emb, k=5
        ).collect()
    }
    recall = len(exact & iq) / len(exact)
    assert recall >= 0.7, f"ivf-q8 recall@5 {recall:.2f} vs float brute force"


def test_ivfq8_rejects_zero_vectors(spark):
    """The q8 scale of a zero vector is undefined; the fused numpy path
    has no NULL to degrade to, so it must refuse loudly (the DataFrame
    path's try_divide NULL and Spark's NaN ordering diverge — same
    contract class as finite_gate)."""
    import pytest
    from pyspark.sql import functions as F

    from duckdb_webhook_gateway_spark.operators import similarity as S

    emb = spark.read.parquet(sf_dir("sf0.01") + "/embeddings.parquet")
    zeroed = emb.select(
        "vec_id",
        F.expr(
            "CASE WHEN vec_id = 42 THEN transform(embedding, x -> "
            "CAST(0.0 AS FLOAT)) ELSE embedding END"
        ).alias("embedding"),
    )
    qs = zeroed.filter(F.col("vec_id") < 10)
    with pytest.raises(Exception, match="zero vectors"):
        S.ivfq8_topk(qs, zeroed, k=5).collect()


def test_hard_negatives_consistency_and_label_guarantee(spark):
    """hard_negatives must equal the brute reconstruction from its own
    components (all cosine_scores pairs, filtered by label mismatch,
    top-5 by (cosine desc, neighbor_id)) and may never return a
    neighbor sharing the anchor's label."""
    import pandas as pd

    from duckdb_webhook_gateway_spark.operators import similarity as S

    emb = spark.read.parquet(sf_dir() + "/embeddings.parquet")
    queries = emb.filter("vec_id < 10")
    got = S.hard_negatives(queries, emb, k=5).toPandas()
    assert len(got) == 50
    assert (got["neighbor_label"] != got["query_label"]).all()

    scored = S.cosine_scores(queries, emb, carry=("label",)).toPandas()
    q_lab = {
        r["vec_id"]: r["label"]
        for _, r in queries.select("vec_id", "label").toPandas().iterrows()
    }
    want_rows = []
    for qid, grp in scored.groupby("query_id"):
        neg = grp[grp["label"] != q_lab[qid]]
        neg = neg.sort_values(
            ["cosine", "neighbor_id"], ascending=[False, True]
        ).head(5)
        for rank, (_, r) in enumerate(neg.iterrows(), 1):
            want_rows.append(
                (qid, q_lab[qid], r["neighbor_id"], r["label"],
                 r["cosine"], rank)
            )
    want = sorted(want_rows)
    got_rows = sorted(
        map(
            tuple,
            got[
                ["query_id", "query_label", "neighbor_id",
                 "neighbor_label", "cosine", "rank"]
            ].itertuples(index=False),
        )
    )
    assert got_rows == want


def test_rerank_full_shortlist_equals_exact_topk(spark):
    """With the shortlist covering the whole corpus the rerank cascade
    must reproduce exact cosine_topk bit-for-bit — the full-probe
    identity the IVF family pins, applied to the q8→float cascade."""
    from duckdb_webhook_gateway_spark.operators import similarity as S

    emb = spark.read.parquet(sf_dir() + "/embeddings.parquet")
    queries = emb.filter("vec_id < 10")
    n = emb.count()
    full = S.rerank_topk(queries, emb, m=n, k=5).select(
        "query_id", "neighbor_id", "cosine", "rank"
    )
    exact = S.cosine_topk(queries, emb, k=5)
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, exact.collect())
    )


def test_rerank_recall_not_below_q8_only(spark):
    """Any exact-top-5 member that survives the q8 top-20 shortlist is
    kept by the exact re-score, so rerank recall@5 >= q8-only recall@5
    holds structurally — a drop means the cascade's stage wiring broke."""
    from duckdb_webhook_gateway_spark.operators import similarity as S

    d = sf_dir("sf0.01")
    emb = spark.read.parquet(d + "/embeddings.parquet")
    queries = emb.filter("vec_id < 10")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk(queries, emb, k=5).collect()
    }
    q8 = {
        (r.query_id, r.neighbor_id)
        for r in S.quantized_topk(queries, emb, k=5).collect()
    }
    rr = {
        (r.query_id, r.neighbor_id)
        for r in S.rerank_topk(queries, emb, m=20, k=5).collect()
    }
    recall_q8 = len(exact & q8) / len(exact)
    recall_rr = len(exact & rr) / len(exact)
    assert recall_rr >= recall_q8, (recall_rr, recall_q8)
    assert recall_rr >= 0.8, f"rerank recall@5 {recall_rr:.2f}"


def test_cosine_scores_rejects_colliding_carry_names(spark):
    """A carry column named like a fixed output column (query_id /
    neighbor_id / cosine) would silently overwrite the score in the
    fused pass's output dict — reject it loudly instead."""
    import pytest

    from duckdb_webhook_gateway_spark.operators import similarity as S

    emb = spark.read.parquet(sf_dir() + "/embeddings.parquet")
    bad = emb.withColumn("cosine", emb.label)
    with pytest.raises(ValueError, match="collide with"):
        S.cosine_scores(bad.filter("vec_id < 10"), bad, carry=("cosine",))


def test_mmr_lam1_is_pure_relevance_and_diversity_reorders(spark):
    """MMR semantics pinned two ways.  (1) lam=1 kills the diversity
    term, so selection order must equal cosine_topk's (rounded cosine
    desc, neighbor id) bit-for-bit on the shared shortlist.  (2) On a
    planted corpus where the two most-relevant vectors are EXACT
    duplicates of each other, pure relevance returns the duplicate at
    rank 2 while MMR at lam=0.5 must skip it for the distinct
    direction — the redundancy filter the operator exists for."""
    import pyspark.sql.functions as F

    from duckdb_webhook_gateway_spark.operators import similarity as S

    emb = spark.read.parquet(sf_dir() + "/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5)
    pure = S.mmr_topk(qs, emb, k=5, m=20, lam=1.0).collect()
    base = S.cosine_topk(qs, emb, k=5).collect()
    key = lambda rows: sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cosine) for r in rows
    )
    assert key(pure) == key(base)

    # planted: the query must DIFFER from the top hit (if q == top hit,
    # every candidate's sim-to-selected equals its relevance and MMR
    # ties to zero across the board).  e100 leans toward q, e101 is its
    # exact duplicate (sim 1.0 -> mmr goes negative), e102 is slightly
    # less relevant but far from e100 -> MMR must pick it at rank 2.
    q_v = [1.0] + [0.0] * 63
    top_v = [1.0, 0.2] + [0.0] * 62
    off_v = [1.0, 0.0, 0.9] + [0.0] * 61
    rows = [
        (0, q_v),      # the query device (id<10)
        (100, top_v),  # top hit (rel ~0.981)
        (101, top_v),  # exact duplicate of 100
        (102, off_v),  # distinct direction (rel ~0.743, sim-to-100 ~0.729)
    ]
    planted = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    got = (
        S.mmr_topk(
            planted.filter("vec_id = 0"), planted, k=3, m=10, lam=0.5
        )
        .orderBy("rank")
        .collect()
    )
    assert [r.neighbor_id for r in got] == [100, 102, 101]
    # the duplicate's mmr is negative (0.5*rel - 0.5*1.0 with rel < 1)
    assert got[2].mmr < 0 < got[1].mmr


def test_mmr_guards(spark):
    import pyspark.sql.functions as F
    import pytest

    from duckdb_webhook_gateway_spark.operators import similarity as S

    emb = spark.read.parquet(sf_dir() + "/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 3)
    with pytest.raises(ValueError, match="1 <= k <= m"):
        S.mmr_topk(qs, emb, k=21, m=20)
    with pytest.raises(ValueError, match="0 <= lam <= 1"):
        S.mmr_topk(qs, emb, lam=1.5)


def test_pca_topdir_finds_planted_direction_and_guards(spark):
    """Power-iteration PCA on a PLANTED anisotropic cloud: 60 isotropic
    low-variance vectors plus 6 spread along one axis must put every
    planted outlier in the extreme-|projection| set with a dominant
    explained-variance ratio; degenerate clouds (constant, singleton)
    must RAISE rather than emit a 0/0 the engines would disagree on."""
    import pytest
    import random

    from duckdb_webhook_gateway_spark.operators import similarity as S

    rng = random.Random(17)
    rows = [
        (i, [rng.uniform(-0.05, 0.05) for _ in range(64)])
        for i in range(60)
    ]
    for j, mag in enumerate([4.0, -4.0, 3.0, -3.0, 2.0, -2.0]):
        v = [rng.uniform(-0.05, 0.05) for _ in range(64)]
        v[7] = mag  # the planted axis
        rows.append((100 + j, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = S.pca_topdir(emb, iters=3, k=6).collect()
    assert {r.vec_id for r in got} == {100, 101, 102, 103, 104, 105}
    assert got[0].explained_ratio > 0.8  # the axis dominates the trace
    # signs must oppose for the +4 / -4 pair (one component, two sides)
    by_id = {r.vec_id: r.pc_proj for r in got}
    assert by_id[100] * by_id[101] < 0

    const = spark.createDataFrame(
        [(i, [1.0] * 64) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="power iterate vanished"):
        S.pca_topdir(const).collect()
    single = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match=">= 2 vectors"):
        S.pca_topdir(single).collect()


def test_mmr_reduces_shortlist_redundancy_on_real_corpus(spark):
    """The metric MMR exists to move: on the sf0.01 embeddings, the
    mean pairwise cosine WITHIN each query's selected set must be lower
    under MMR (lam=0.7) than under pure relevance top-k — if this ever
    fails, the operator is reordering without diversifying."""
    import numpy as np
    import pyspark.sql.functions as F

    from duckdb_webhook_gateway_spark.operators import similarity as S

    d = sf_dir("sf0.01")
    emb = spark.read.parquet(d + "/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 10)
    vecs = {
        r.vec_id: np.asarray(r.embedding, dtype="float64")
        for r in emb.collect()
    }

    def mean_pairwise(rows):
        by_q = {}
        for r in rows:
            by_q.setdefault(r.query_id, []).append(r.neighbor_id)
        sims = []
        for ids in by_q.values():
            for i in range(len(ids)):
                for j in range(i + 1, len(ids)):
                    a, b = vecs[ids[i]], vecs[ids[j]]
                    sims.append(
                        float(
                            a @ b
                            / (np.linalg.norm(a) * np.linalg.norm(b))
                        )
                    )
        return sum(sims) / len(sims)

    rel = mean_pairwise(S.cosine_topk(qs, emb, k=5).collect())
    mmr = mean_pairwise(
        S.mmr_topk(qs, emb, k=5, m=20, lam=0.7).collect()
    )
    assert mmr < rel, (mmr, rel)
