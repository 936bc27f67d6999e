"""Headline workloads: the SQL operator surface of SURVEY.md §2B plus the
large-scale training-data operators, each paired with a DuckDB oracle.

Every entry is ``name -> (spark_fn, oracle_sql_or_None)`` where
``spark_fn(spark, sf_dir) -> DataFrame`` and the oracle is ANSI SQL DuckDB
can run over the same parquet tables.  Column names/aliases match exactly
between the two — the driver's comparator sorts columns by name before
hashing values.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]
Entry = tuple[QueryFn, Optional[str]]

from . import analytics, datapipe  # noqa: E402

# The correctness driver checks the first 50 registered queries per round.
# Rotation policy: every query is driver-re-verified at least every third
# round CAPACITY PERMITTING, and every query whose PHYSICAL PLAN changed
# re-certifies the same round.  The registry outgrew the window's
# 3-round capacity late in round 11 (153 entries > 3 x 50 slots), so the
# policy gained a mechanical second tier: when a round's due set exceeds
# 50, the window is filled with dues STALEST-FIRST and only the
# least-stale dues defer (by construction at most one round — the
# tools/rotation.py HARD_CEILING of 4 rounds is unconditional and
# arithmetically satisfiable at 4 x 50 = 200 >= registry size).
# tests/test_rotation.py enforces both tiers; tools/rotation.py
# prioritized_dues() emits the exact window order to use.
# Since round 11 the due set is MECHANICAL, not narrated:
# tools/rotation.py derives each entry's last green round from the
# CORRECTNESS_r*.json history and tests/test_rotation.py fails the suite
# if this window misses any due entry — the round-10 slip (six
# r7-certified queries missed their r10 window while comments claimed
# "zero slips") cannot silently recur.
#
# _WINDOW_ROUND records which round this _CHECK_FIRST was built FOR:
# tests/test_rotation.py asserts the window equals
# prioritized_dues(upcoming_round=_WINDOW_ROUND)[:50] — evaluated
# against the history AS OF that round — so the suite stays green in
# the handoff state after the driver records CORRECTNESS_r{N}.json
# (rounds 11 and 12 both ended pytest-red on exactly that artifact),
# while a window more than one round behind the recorded history still
# fails loudly.  Bump _WINDOW_ROUND and rebuild _CHECK_FIRST from
# `python tools/rotation.py` as the FIRST commit of every round.
_WINDOW_ROUND = 15
# Round-15 _CHECK_FIRST is EXACTLY
# tools/rotation.prioritized_dues()[:50] for the r15 history
# (CORRECTNESS_r1..r14 on disk; zero plan-change voids at window-build
# time — r15 is an optimization round and any in-round plan change
# re-emits this window in the same commit):
#   (a) the 4 clock-r11 dues deferred from the r14 window
#       (source_ngram_novelty, split_contamination, stratified_sample,
#       substring_dup_spans_sa — lead the window, stalest block) plus
#       the 5 remaining clock-r11 dues (alphabetical within block);
#   (b) the clock-r12 block fills the remaining 41 slots (alphabetical;
#       the least-stale clock-r12 dues defer to r16, ceiling-checked —
#       MAX_STALENESS arithmetic holds at 4 x 50 = 200 >= 152).
# The tail (_CHECK_LAST) is the round-14-certified block (due r17).
# The parity suite still covers EVERY registry entry at sf0.1 every
# round (count-free on purpose — tools/rotation.py is the ledger now,
# not this comment).
# First-certification ledger for entries registered mid-round BEHIND an
# already-full driver window: a never-certified entry becomes due the
# round AFTER its registration round (the embedding_finite_gate
# precedent, registered mid-r10 → first certification r11).  The r11
# window was exactly full (49 genuinely-due entries + the plan-changed
# ann_ivf_recall), so the late-r11 additions below are due r12 —
# tools/rotation.py consumes this map and tests/test_rotation.py
# asserts every never-certified registry entry is annotated here (an
# unannotated new entry FAILS the suite, so the ledger cannot drift).
_REGISTERED_ROUND = {
    "embedding_finite_gate": 10,
    "ann_pq_trained_topk": 11,
    "image_near_dup_phash": 11,
    "audio_near_dup_fp": 11,
    "video_near_dup_phash": 11,
    "part_kcore": 11,
    "ann_ivfq8_topk": 11,
    # late-r11 registrations (window full) — first certification r12:
    "part_communities_lpa": 11,
    "ann_rerank_topk": 11,
    "embedding_hard_negatives": 11,
    "streaming_user_sessions": 11,
    "ann_mmr_topk": 11,
    "doc_cdc_chunks": 11,
    "streaming_dedup_events": 11,
    "embedding_pca_topdir": 11,
    "doc_winnow_pairs": 11,
    "ann_ivf_pruned_topk": 11,
    "doc_cdc_dup_chunks": 11,
}

# Plan-change ledger, MECHANICAL since round 12 (the same
# narrated-to-derived move the staleness clock made in r11): an entry
# listed here with round R has every driver certification from rounds
# < R VOIDED — tools/rotation.py makes it due (priority clock 0, may
# never defer) until a green record from round >= R exists.  Annotate
# IN THE SAME COMMIT as the plan change; tests/test_rotation.py
# validates names and rounds, and the window invariant then forces the
# re-certification through the next driver run.
#
# No r15 entry: r15 changed only ranks.py's bracket route (fused
# verify+pick, footer-scaled percentile_approx accuracy), and that
# route does not run at certification scale — orders at sf0.1 is
# 2.6 MB, under ranks.SMALL_INPUT_CEILING (16 MB), so the rank queries
# take the plain window there and no certified plan changed.
_PLAN_CHANGED_ROUND = {
    # r14: tiny literal relations (rank-pick broadcast sides, quantile
    # label tables, source-pair tables, PQ codebooks, the IVF layout's
    # 16-row _quantizer sidecar) moved from pickled-list
    # createDataFrame (a Python-RDD scan per consuming job — measured
    # 4.05 s for the sidecar WRITE alone, ~0.3-0.4 s per job
    # otherwise) to Arrow-backed LocalTableScan via plans/localrel.py.
    # Values identical (same rows, same joins); the physical scan node
    # changed in these five certified plans, so re-certify:
    # (value_quantile_sketch's r14 entry lives below, replacing its
    # r13 one — a duplicate key in this literal would silently lose
    # whichever comes first)
    # (review fix, same round: the pairs-table conversion lives in
    # source_overlap_kmv — an earlier commit voided cross_source_overlap
    # by mistake; that query's lineage carries no literal relation and
    # its r13 certification stands)
    "orders_price_exact_quantiles": 14,
    "source_overlap_kmv": 14,
    "ann_ivf_pruned_topk": 14,
    "ann_pq_trained_topk": 14,
    # r13 (ADVICE r12): the q8 family's FINAL-SCORE rounding moved from
    # numpy banker's to the oracle's half-away-from-zero — the same
    # copysign(floor(abs+0.5)) the quantization levels already used —
    # in BOTH the flat scan (quantized_topk) and the probed in-list
    # scorer (ivfq8_topk), keeping the full-probe identity pin exact
    # by construction instead of measure-zero; quantized_topk also
    # gained the max_queries limit+count broadcast guard and the
    # empty-query-block empty-frame contract.  Values are expected
    # identical at every tested scale (divergence needs a score within
    # 1 ulp of a representable 6dp halfway point), but a changed
    # scoring function voids a value certification on principle:
    "ann_q8_topk": 13,
    "ann_rerank_topk": 13,
    "ann_ivfq8_topk": 13,
    # r13: value_quantile_sketch's exact-check column now locates the
    # k-th order statistic THROUGH the bin histogram (sort window over
    # one bin's rows per pick) instead of a per-type sort window over
    # every event row — the 6.2x-at-sf1 hazard the r12 verdict flagged
    # as a stale measure.  r14: its qname/q label table additionally
    # moved to the Arrow-local form (the r14 batch above) — bumped to
    # 14 here rather than duplicated above:
    "value_quantile_sketch": 14,
    # r13: the Misra-Gries candidate pass vectorized (mg_update_batch —
    # the mergeable-summaries construction at C speed; the per-token
    # Python loop was ~1.35 s of 3.19 s at sf1).  Same superset
    # contract, same exact recount, output identical; the mapInPandas
    # UDF changed, re-certify:
    "token_heavy_hitters": 13,
    # r12 history (kept for the ledger arc): quantized_topk rewritten
    # to the fused Arrow pass; banded_hamming_topk probe checkpoint.
    # Superseded above for the q8 entries; the multimodal trio's last
    # change remains r12:
    "image_near_dup_phash": 12,
    "audio_near_dup_fp": 12,
    "video_near_dup_phash": 12,
}

_CHECK_FIRST = (
    # (a) the 9 clock-r11 dues (the 4 deferred from the r14
    # window lead), stalest-first, alphabetical within block
    # (b) 41 clock-r12 dues, alphabetical

    "source_ngram_novelty",
    "split_contamination",
    "stratified_sample",
    "substring_dup_spans_sa",
    "supplier_revenue_having",
    "text_char_stats",
    "text_pattern_scrub",
    "text_tfidf_top_terms",
    "text_token_stats",
    "ann_mmr_topk",
    "audio_near_dup_fp",
    "bloom_prefilter_join",
    "boilerplate_ratio",
    "bpe_merge_candidates",
    "brand_top_parts",
    "corpus_stats",
    "corpus_token_coverage",
    "cube_order_status",
    "customer_order_counts",
    "customer_scd2_snapshot",
    "dedup_exact",
    "doc_fingerprint",
    "doc_length_histogram",
    "events_anomaly_zscore",
    "events_cohort_retention",
    "events_funnel",
    "events_pivot_by_type",
    "events_recent_topk",
    "events_type_rate",
    "image_near_dup_phash",
    "lineitem_distinct_counts",
    "lm_perplexity_filter",
    "mixture_resample",
    "nation_key_intersect",
    "order_priority_rate",
    "orders_value_quartiles",
    "part_filter_like_in",
    "part_projection",
    "part_triangle_count",
    "q3_shipping_priority",
    "q5_region_revenue",
    "quality_funnel",
    "region_keys_union",
    "rollup_region_nation",
    "sequence_packing",
    "source_mixture",
    "split_ngram_decontamination",
    "supplier_string_funcs",
    "text_language_id",
    "text_quality",
)
# Queries certified in round 14 — rotate to the unchecked tail (due
# r17); the parity suite still covers them at sf0.1 every round.
_CHECK_LAST = (
    "ann_cosine_topk",
    "ann_ivf_pruned_topk",
    "ann_ivf_recall",
    "ann_ivf_topk",
    "ann_pq_trained_topk",
    "corpus_top_bigrams",
    "customers_with_urgent_orders",
    "customers_without_orders",
    "dataset_split",
    "dedup_clusters",
    "dedup_keeplist",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "doc_cdc_chunks",
    "doc_cdc_dup_chunks",
    "doc_winnow_pairs",
    "embedding_finite_gate",
    "embedding_hard_negatives",
    "embedding_near_dup",
    "embedding_pca_topdir",
    "events_hourly",
    "events_runtime_udf",
    "gopher_quality_gate",
    "hybrid_rank_fusion",
    "lineitem_price_quantiles",
    "monthly_revenue_incremental",
    "multimodal_audio_features",
    "multimodal_features",
    "multimodal_image_features",
    "orderkey_hll_distinct",
    "orders_per_month",
    "orders_price_exact_quantiles",
    "part_avg_qty_subquery",
    "part_basket_pairs",
    "part_communities_lpa",
    "part_kcore",
    "part_name_fuzzy_pairs",
    "part_size_class",
    "parts_never_ordered",
    "q10_returned_revenue",
    "q1_pricing_summary",
    "region_status_grouping_sets",
    "salted_join_orders",
    "source_overlap_kmv",
    "streaming_dedup_events",
    "streaming_user_sessions",
    "training_order_manifest",
    "value_quantile_sketch",
    "vocab_oov_rate",
    "weighted_sample_topk",
)

def all_entries() -> dict[str, Entry]:
    entries: dict[str, Entry] = {}
    entries.update(analytics.ENTRIES)
    entries.update(datapipe.ENTRIES)
    ordered: dict[str, Entry] = {}
    # A typo'd or renamed rotation name must FAIL here, not silently
    # shrink the driver's 50-query verification window.
    missing = [n for n in (*_CHECK_FIRST, *_CHECK_LAST) if n not in entries]
    if missing:
        raise KeyError(
            f"rotation names not in the query registry: {missing}"
        )
    for name in _CHECK_FIRST:
        ordered[name] = entries[name]
    for name, e in entries.items():
        if name not in _CHECK_FIRST and name not in _CHECK_LAST:
            ordered[name] = e
    for name in _CHECK_LAST:
        ordered[name] = entries[name]
    return ordered
