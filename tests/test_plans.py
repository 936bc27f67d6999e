"""Physical-plan assertions: the scale-relevant plan shapes must not
regress.  These check the *compiled plan text*, not timings — a wrong plan
at sf0.001 is a catastrophe at 100 TB."""

from __future__ import annotations

import pytest

from conftest import sf_dir

from duckdb_webhook_gateway_spark.workloads.analytics import (
    q1_pricing_summary,
    q3_shipping_priority,
    q5_region_revenue,
    top_orders_by_value,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_q3_dimension_joins_broadcast(spark):
    plan = _plan(q3_shipping_priority(spark, sf_dir()))
    # customer joins as a broadcast dim; the customer⋈orders reduction
    # joins lineitem as the HINTED shuffled-hash join (round 9: unique
    # o_orderkey build keys — bounded per-partition builds, and no SMJ,
    # whose fact-side SORT was the measured sf1 cost; broadcast of the
    # reduction is rejected as not scale-safe, it grows with the facts).
    assert "BroadcastHashJoin" in plan
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q3_filters_pushed_to_scan(spark):
    plan = _plan(q3_shipping_priority(spark, sf_dir()))
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan
    assert "GreaterThan(l_shipdate" in plan


def test_q1_column_pruning(spark):
    plan = _plan(q1_pricing_summary(spark, sf_dir()))
    # The scan must read only the 7 referenced columns, not all 11.
    read_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_lines, "no ReadSchema in plan"
    assert "l_orderkey" not in read_lines[0]
    assert "l_partkey" not in read_lines[0]
    assert "l_quantity" in read_lines[0]


def test_q1_partial_aggregation(spark):
    plan = _plan(q1_pricing_summary(spark, sf_dir()))
    # Two HashAggregates around one Exchange = map-side partial agg.
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_topk_uses_take_ordered(spark):
    plan = _plan(top_orders_by_value(spark, sf_dir()))
    # ORDER BY + LIMIT must compile to TakeOrderedAndProject (per-partition
    # top-k + merge), never a global sort.
    assert "TakeOrderedAndProject" in plan


def test_q5_whole_stage_codegen(spark):
    df = q5_region_revenue(spark, sf_dir())
    df.collect()  # AQE finalizes the physical plan only on execution
    plan = _plan(df)
    assert "== Final Plan ==" in plan
    # '*'-prefixed operators / codegen ids mark whole-stage codegen spans.
    assert "codegen id" in plan
    # All five joins must be broadcast — the fact spine never shuffles.
    assert plan.count("BroadcastHashJoin") >= 5
    assert "SortMergeJoin" not in plan


def test_salted_join_matches_plain_join(spark):
    from duckdb_webhook_gateway_spark.operators.joins import salted_join

    orders = spark.read.parquet(sf_dir() + "/orders.parquet")
    cust = spark.read.parquet(sf_dir() + "/customer.parquet").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = orders.join(cust, "o_custkey").count()
    salted = salted_join(orders, cust, "o_custkey", salt_factor=4).count()
    assert plain == salted


def test_audit_store_partition_pruning(spark, tmp_path):
    """A date-filtered scan of the audit store must prune partitions."""
    import datetime as dt

    from duckdb_webhook_gateway_spark.engine import TableStore
    from duckdb_webhook_gateway_spark.engine.store import new_id

    store = TableStore(spark, str(tmp_path / "s"))
    for day in (1, 2, 3):
        store.append_events(
            "raw_events",
            [
                {
                    "id": new_id(),
                    "timestamp": dt.datetime(2026, 8, day, 12, 0),
                    "source_path": "/p",
                    "payload": "{}",
                }
            ],
        )
    df = spark.sql(
        "SELECT * FROM raw_events WHERE timestamp >= TIMESTAMP '2026-08-03 00:00:00'"
    )
    assert df.count() == 1


def test_ngram_jaccard_broadcasts_nothing(spark):
    """The Jaccard pair plan must be join-free: set sizes travel inside
    the posting-list structs, so a corpus-cardinality broadcast (the
    round-2 regression — multi-GB at 100M docs) can never reappear."""
    from duckdb_webhook_gateway_spark.operators.dedup import ngram_jaccard_dedup

    docs = spark.read.parquet(sf_dir() + "/documents.parquet")
    plan = _plan(ngram_jaccard_dedup(docs))
    assert "BroadcastExchange" not in plan
    assert "Join" not in plan  # neither broadcast nor shuffle join


def test_minhash_broadcasts_only_id_width_relations(spark):
    """Every broadcast in the MinHash verify stage is id-width — the
    (doc_a, doc_b) candidate pairs or a single-column candidate id list
    used to restrict re-shingling; document-sized shingle arrays must
    never be broadcast (8 GB broadcast limit / executor OOM at scale)."""
    from duckdb_webhook_gateway_spark.operators.dedup import minhash_lsh_dedup

    docs = spark.read.parquet(sf_dir() + "/documents.parquet")
    plan = _plan(minhash_lsh_dedup(docs))
    assert "BroadcastExchange" in plan
    # Parse each BroadcastExchange node's Input line: only id columns may
    # cross the wire.
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        for nxt in lines[i + 1 : i + 4]:
            if "Input" in nxt:
                assert "sarr" not in nxt and "sa#" not in nxt and "sb#" not in nxt, nxt
                assert "text#" not in nxt, nxt  # raw doc text is doc-sized too
                assert "doc_a" in nxt or "doc_b" in nxt or "doc_id" in nxt, nxt
                break


def test_incremental_dedup_store_probe_is_broadcast(spark):
    """Incremental dedup must probe the corpus signature store with the
    NEW batch broadcast (map-side join — the store never shuffles), and
    no broadcast anywhere may carry document text or shingle arrays.
    (The candidate-restricted verify joins may shuffle — they are
    candidate-cardinality by design.)"""
    from pyspark.sql import functions as F

    from duckdb_webhook_gateway_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    docs = spark.read.parquet(sf_dir() + "/documents.parquet")
    out = incremental_minhash_dedup(
        docs.filter(F.col("doc_id") % 10 == 0),
        docs.filter(F.col("doc_id") % 10 != 0),
    )
    plan = _plan(out)
    lines = plan.splitlines()
    saw_band_probe = False
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        for nxt in lines[i + 1 : i + 4]:
            if "Input" in nxt:
                assert "sarr" not in nxt and "text#" not in nxt, nxt
                if "band_key" in nxt:
                    saw_band_probe = True
                break
    assert saw_band_probe  # the new batch's bands are what gets broadcast


def test_asof_join_is_single_shuffle_window(spark):
    """The as-of join must stay a union + one keyed window — never a
    BroadcastNestedLoopJoin / range crossJoin (the quadratic trap)."""
    from duckdb_webhook_gateway_spark.workloads.datapipe import (
        events_asof_attribution,
    )

    plan = _plan(events_asof_attribution(spark, sf_dir()))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # no join at all: union + window
    assert plan.count("Window") >= 1


def test_chunk_manifest_is_join_free_single_scan(spark):
    """Retrieval chunking is computed in-row: one parquet scan, no joins,
    and the only exchanges are the input spread + presentation sort —
    chunk count must never introduce a data-dependent shuffle."""
    from duckdb_webhook_gateway_spark.workloads.datapipe import doc_chunk_manifest

    plan = _plan(doc_chunk_manifest(spark, sf_dir()))
    # formatted mode prints each scan twice (tree + detail); count details
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Join" not in plan
    assert "BroadcastExchange" not in plan


def test_quality_funnel_single_scan_no_joins(spark):
    """The cleaning funnel must stay one corpus scan (in-row token stats,
    one window, stack unpivot) — a per-stage rescan would read the corpus
    four times at 100 TB."""
    from duckdb_webhook_gateway_spark.workloads.datapipe import quality_funnel

    plan = _plan(quality_funnel(spark, sf_dir()))
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Join" not in plan
    assert plan.count("Window") >= 1


def test_boilerplate_ratio_no_quadratic_joins(spark):
    """Boilerplate scoring joins chunk instances to chunk doc-frequencies
    on the 16-byte hash — equi-joins only (no nested-loop/cartesian), and
    both groupBys must show map-side partial aggregation."""
    from duckdb_webhook_gateway_spark.workloads.datapipe import boilerplate_ratio

    plan = _plan(boilerplate_ratio(spark, sf_dir()))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan


def test_mixture_resample_docs_never_shuffle(spark):
    """The per-source rate relation must broadcast into the corpus pass —
    a SortMergeJoin here would shuffle every doc by source (skewed keys,
    corpus-sized exchange) for a few-row lookup."""
    from duckdb_webhook_gateway_spark.workloads.datapipe import mixture_resample

    plan = _plan(mixture_resample(spark, sf_dir()))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bpe_pair_counting_is_vocab_cardinality(spark):
    """BPE merge counting must collapse to the (word, freq) vocabulary
    before pair enumeration: two partial-agg groupBys, no joins — the
    corpus-cardinality token stream shuffles once, pairs come from
    vocab-cardinality rows only."""
    from duckdb_webhook_gateway_spark.workloads.datapipe import bpe_merge_candidates

    plan = _plan(bpe_merge_candidates(spark, sf_dir()))
    assert "Join" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_ngram_decontamination_equi_join_only(spark):
    """Train and test chunk streams must meet in a hash equi-join — never
    a nested-loop/cartesian — and document text must not appear in any
    Exchange (only (doc_id, split, 16-byte hash) rows move)."""
    from duckdb_webhook_gateway_spark.workloads.datapipe import (
        split_ngram_decontamination,
    )

    plan = _plan(split_ngram_decontamination(spark, sf_dir()))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # Hash-partitioned (data-dependent) exchanges must carry only
    # (doc_id, split, hash) rows; the round-robin input spread is the
    # documented local-mode exception and may carry raw text.
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Input" not in line:
            continue
        args = next(
            (l for l in lines[i + 1 : i + 3] if "Arguments: " in l), ""
        )
        if "hashpartitioning" in args:
            assert "text#" not in line, (line, args)


def test_join_key_skew_uses_take_ordered(spark):
    """Top-k heaviest keys must be TakeOrderedAndProject over a
    partial-agg groupBy, never a global sort of the key counts."""
    from duckdb_webhook_gateway_spark.workloads.analytics import join_key_skew

    plan = _plan(join_key_skew(spark, sf_dir()))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan


def test_leakage_safe_split_single_scan(spark):
    """Representative lookup is a partial-agg min + join-back over the
    lazily checkpointed hashed stream (round 10: a min WINDOW over
    md5(text) pinned a viral duplicate's whole cluster on one task).
    The corpus scans once (the checkpoint feeds both branches) and no
    full-frame window remains."""
    from duckdb_webhook_gateway_spark.workloads.datapipe import leakage_safe_split

    plan = _plan(leakage_safe_split(spark, sf_dir()))
    assert "Scan ExistingRDD" in plan          # checkpointed hash stream
    assert "Location: InMemoryFileIndex" not in plan
    assert "Window" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )


def test_training_order_manifest_no_global_sort(spark):
    """Exact global ordering must come from bucket-rank + broadcast
    offsets — a single-partition global window (Sort over Exchange
    SinglePartition of the corpus) would serialize the corpus through
    one task at scale."""
    from duckdb_webhook_gateway_spark.workloads.datapipe import (
        training_order_manifest,
    )

    plan = _plan(training_order_manifest(spark, sf_dir()))
    assert "BroadcastHashJoin" in plan  # 256-row offsets join
    assert "SortMergeJoin" not in plan
    # Both windows present: per-bucket row_number + 256-row cumsum.
    assert plan.count("Window") >= 2


def test_vocab_oov_join_is_broadcast_topk(spark):
    """The vocabulary (constant-size top-k) must be TakeOrdered +
    broadcast; a shuffle join against a 16-row relation means the
    planner lost the cardinality plot."""
    from duckdb_webhook_gateway_spark.workloads.datapipe import vocab_oov_rate

    plan = _plan(vocab_oov_rate(spark, sf_dir()))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cross_source_overlap_join_free(spark):
    """Posting-list pair explosion: one corpus scan, zero join nodes —
    the self-join formulation would shuffle the chunk relation twice
    and explode quadratically on hot chunks."""
    from duckdb_webhook_gateway_spark.workloads.datapipe import (
        cross_source_overlap,
    )

    plan = _plan(cross_source_overlap(spark, sf_dir()))
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Join" not in plan


def test_events_anomaly_zscore_broadcast_stats(spark):
    """Per-type stats (type-cardinality) broadcast back onto hourly
    counts; both aggregations partial — and no window anywhere (a
    corpus-wide stddev window was the tempting wrong plan)."""
    from duckdb_webhook_gateway_spark.workloads.analytics import (
        events_anomaly_zscore,
    )

    plan = _plan(events_anomaly_zscore(spark, sf_dir()))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan
    assert "Window" not in plan


def test_ensemble_near_dup_single_doc_scan_no_cartesian(spark):
    """Pair generation must stay join-free (one documents scan); the
    embedding lookups are two id-keyed equi-joins (embeddings scanned
    once per side) — never a cartesian/nested-loop, and never a
    hint-forced broadcast of a corpus-sized relation."""
    from duckdb_webhook_gateway_spark.workloads.datapipe import ensemble_near_dup

    plan = _plan(ensemble_near_dup(spark, sf_dir()))
    assert plan.count("Location: InMemoryFileIndex") == 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_is_bucketed_equi_join(spark):
    # The 30-min range join must compile to hash equi-joins on
    # (user_id, bucket) — a BroadcastNestedLoopJoin/CartesianProduct here
    # is the O(n*m) plan Catalyst emits for raw inequality joins and dies
    # at scale.
    from duckdb_webhook_gateway_spark.workloads.datapipe import events_range_join

    plan = _plan(events_range_join(spark, sf_dir()))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rolling_features_single_user_shuffle(spark):
    # One hash partitioning by user_id feeds the RANGE-frame window; the
    # only other exchange is the final presentation sort's rangepartition.
    from duckdb_webhook_gateway_spark.workloads.datapipe import (
        events_rolling_features,
    )

    plan = _plan(events_rolling_features(spark, sf_dir()))
    assert plan.count("hashpartitioning(") == 1
    assert "Window" in plan


def test_kmv_sketch_no_global_sort_of_hashes(spark):
    # The sketch must reduce per (event_type, shard) with a map-side
    # partial aggregate and only rank the tiny merged candidate set — a
    # global Sort of the distinct-hash relation means the "sketch" is a
    # full sort in disguise.
    from duckdb_webhook_gateway_spark.workloads.datapipe import distinct_kmv_sketch

    plan = _plan(distinct_kmv_sketch(spark, sf_dir()))
    assert "partial_" in plan  # map-side combine on the shard aggregation
    assert "BroadcastHashJoin" in plan  # 5-row kth/exact merge stays broadcast


def test_pmi_pairs_all_joins_broadcast(spark):
    # Every join is against the 40-row head vocabulary — broadcast only;
    # per-doc pair generation is in-row, so no document-side SortMergeJoin
    # (which would mean the corpus shuffles for a vocab lookup) and the
    # final top-20 is TakeOrderedAndProject, not a global sort.
    from duckdb_webhook_gateway_spark.workloads.datapipe import corpus_pmi_pairs

    plan = _plan(corpus_pmi_pairs(spark, sf_dir()))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_embedding_centroids_no_explode_no_vector_shuffle(spark):
    # Centroids must come from a partial-aggregable groupBy of per-dim
    # avg() expressions: no Generate/Explode of the vector column (64x row
    # blowup), and the join back to members is the 10-row centroid
    # broadcast — vectors themselves never shuffle.
    from duckdb_webhook_gateway_spark.workloads.datapipe import (
        embedding_label_quality,
    )

    plan = _plan(embedding_label_quality(spark, sf_dir()))
    assert "Generate" not in plan  # explode would appear as Generate
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # map-side partials


def test_semantic_dedup_broadcasts_only_centroids(spark):
    """SemDeDup's only broadcast is the K-row centroid relation (the
    assignment crossJoin); the corpus itself must never be broadcast, and
    the within-cluster dup scan must key on centroid_id (equi-join), not
    a cartesian pair blow-up."""
    from duckdb_webhook_gateway_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(sf_dir() + "/embeddings.parquet")
    plan = _plan(semantic_dedup(emb, num_clusters=8))
    # Assignment: centroids broadcast to a nested-loop crossJoin.
    assert "BroadcastNestedLoopJoin" in plan
    # Dup scan: hinted shuffle-hash equi-join on centroid_id.  A plain
    # cartesian would be O(N^2) rows, and a planner-picked broadcast of
    # either pair side would pin a corpus-sized build table at scale.
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        for nxt in lines[i + 1 : i + 4]:
            if "Input" in nxt:
                # Only the K-row relations may broadcast: centroid vectors
                # (cv/embedding + centroid_id) or the K-row dup-count side
                # of the final summary join — never a corpus pair side.
                assert "va#" not in nxt and "vb#" not in nxt, nxt
                break


def test_substring_dedup_single_hash_shuffle_no_joins(spark):
    """Window hashes are computed in-row; duplicated hashes come from a
    partial-agg count + semi-filter join back over the checkpointed
    window stream (round 10: the count WINDOW over h pinned a
    boilerplate window's every occurrence on one task).  Exchanges key
    only on the window hash h (dup marking) and doc_id (span merge):
    nothing text-sized or pair-quadratic ever moves, and no full-frame
    window remains — the only Window nodes are the doc-partitioned
    interval-merge cummax/cumsum."""
    import re

    from duckdb_webhook_gateway_spark.operators.dedup import substring_dedup

    docs = spark.read.parquet(sf_dir() + "/documents.parquet")
    plan = _plan(substring_dedup(docs))
    assert "Scan ExistingRDD" in plan          # checkpointed window stream
    assert "unboundedfollowing$()" not in plan  # no full-frame window
    keys = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert keys, "expected keyed exchanges"
    for l in keys:
        assert "h#" in l or "doc_id#" in l, l


def test_bloom_prefilter_is_broadcast_semi_chain(spark):
    """The bloom pre-filter must reach the probe side as h broadcast
    LeftSemi joins (map-side slot lookups) — never a shuffled join or a
    probe-side exchange below the filter."""
    from duckdb_webhook_gateway_spark.operators.joins import bloom_semi_filter
    from duckdb_webhook_gateway_spark.sources.files import read_table

    orders = read_table(spark, sf_dir(), "orders")
    cust = read_table(spark, sf_dir(), "customer").select("c_custkey")
    plan = _plan(bloom_semi_filter(orders, cust, "o_custkey", "c_custkey"))
    assert plan.count("BroadcastHashJoin LeftSemi") == 2, plan
    assert "SortMergeJoin" not in plan
    # shuffles may appear only under the tiny build-side slot distinct;
    # the probe (orders) columns must never be a shuffle partitioning key
    for line in plan.splitlines():
        if "hashpartitioning" in line and "o_custkey" in line:
            raise AssertionError(f"probe-side shuffle: {line}")


def test_bloom_prefilter_no_false_negatives(spark):
    """Every actually-matching probe row must survive the pre-filter for
    any (m, h) — the Bloom contract."""
    from duckdb_webhook_gateway_spark.operators.joins import bloom_semi_filter

    build = spark.createDataFrame([(i,) for i in range(0, 50, 5)], "k bigint")
    probe = spark.createDataFrame([(i,) for i in range(50)], "p bigint")
    for m, h in ((8, 1), (64, 2), (4096, 3)):
        kept = {
            r["p"]
            for r in bloom_semi_filter(probe, build, "p", "k", m=m, h=h).collect()
        }
        assert set(range(0, 50, 5)) <= kept, (m, h, kept)


def test_weighted_sample_is_takeordered_no_shuffle(spark):
    """The replication-trick priority is in-row; the global k-smallest must
    compile to TakeOrderedAndProject (partial per-partition top-k, driver
    merge) — never a full sort exchange, never an Explode of the weight."""
    from duckdb_webhook_gateway_spark.workloads.datapipe import weighted_sample_topk

    plan = _plan(weighted_sample_topk(spark, sf_dir()))
    assert "TakeOrderedAndProject" in plan
    assert "Generate" not in plan  # no weight explode
    assert "Exchange" not in plan or "rangepartitioning" not in plan


def test_q10_nation_broadcast_filter_pushed(spark):
    from duckdb_webhook_gateway_spark.workloads.analytics import (
        q10_returned_revenue,
    )

    plan = _plan(q10_returned_revenue(spark, sf_dir()))
    # the returnflag filter must reach the lineitem scan, the nation dim
    # must broadcast, and the top-k must not globally sort
    assert "EqualTo(l_returnflag,R)" in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_grouping_sets_single_expand_single_scan(spark):
    from duckdb_webhook_gateway_spark.workloads.analytics import (
        region_status_grouping_sets,
    )

    plan = _plan(region_status_grouping_sets(spark, sf_dir()))
    # one Expand node feeds one aggregation — the three grouping sets must
    # NOT each rescan/re-join the fact table.  (Formatted plans print each
    # node in the tree AND the detail section; count scan *locations*.)
    assert "Expand" in plan
    assert plan.count("Location: InMemoryFileIndex") <= 4  # orders + 3 dims


def test_markov_single_user_shuffle(spark):
    from duckdb_webhook_gateway_spark.workloads.analytics import (
        events_markov_transitions,
    )

    plan = _plan(events_markov_transitions(spark, sf_dir()))
    # the lag window and the per-prev_type normalization are both
    # partition-local after ONE hash shuffle each; no joins at all
    assert "Join" not in plan
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and "props" not in read[0]  # column pruning on events


def test_basket_pairs_no_self_join(spark):
    from duckdb_webhook_gateway_spark.workloads.analytics import (
        part_basket_pairs,
    )

    plan = _plan(part_basket_pairs(spark, sf_dir()))
    # pair expansion is in-row (Generate/explode), not a self-join of the
    # item relation on the basket key
    assert "Generate" in plan and "explode" in plan
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_hll_sketch_no_broadcast_no_collect(spark):
    from duckdb_webhook_gateway_spark.workloads.analytics import (
        orderkey_hll_distinct,
    )

    plan = _plan(orderkey_hll_distinct(spark, sf_dir()))
    # registers aggregate map-side; the only join is the group-cardinality
    # grid/exact join — nothing item-cardinality is broadcast
    assert "partial_max" in plan or "partial" in plan.lower()


def test_trade_matrix_nation_broadcast_no_cartesian(spark):
    from duckdb_webhook_gateway_spark.workloads.analytics import (
        nation_trade_matrix,
    )

    plan = _plan(nation_trade_matrix(spark, sf_dir()))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_prefix_jaccard_no_cartesian_no_corpus_broadcast(spark):
    from duckdb_webhook_gateway_spark.operators.dedup import prefix_jaccard_join

    docs = spark.read.parquet(sf_dir() + "/documents.parquet")
    plan = _plan(prefix_jaccard_join(docs))
    # candidate generation is an equi-join on the prefix token; the verify
    # joins are id-keyed equi-joins — never a nested-loop/cartesian pairing
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the token-df lineage (corpus explode + window) runs exactly ONCE:
    # per_doc is localCheckpoint-ed before the three-way fan-out, so the
    # final plan reads materialized blocks and never rescans the parquet
    assert "Scan ExistingRDD" in plan
    assert "Location: InMemoryFileIndex" not in plan
    # no broadcast may carry the token arrays (document-sized)
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "BroadcastExchange" in line:
            for nxt in lines[i + 1 : i + 4]:
                if "Input" in nxt:
                    assert "toks" not in nxt, nxt
                    break


def test_functional_deps_single_scan(spark):
    from duckdb_webhook_gateway_spark.workloads.analytics import (
        customer_functional_deps,
    )

    plan = _plan(customer_functional_deps(spark, sf_dir()))
    # all k + k(k-1) distinct counts from ONE customer scan (+ nation dim)
    # via Expand-based multi-distinct — never a per-pair rescan
    assert plan.count("Location: InMemoryFileIndex") <= 2
    assert "Expand" in plan


def test_pagerank_no_node_cardinality_broadcast(spark):
    from duckdb_webhook_gateway_spark.workloads.analytics import part_pagerank

    plan = _plan(part_pagerank(spark, sf_dir()))
    # degree/rank relations are node-cardinality: they must shuffle-join
    # on src, never broadcast; the only broadcasts Catalyst may insert
    # locally are under its size threshold and the plan must stay free of
    # nested-loop pairings at any size
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_tfidf_skew_safe_partial_agg_df(spark):
    """TF-IDF (round-8 shape): df comes from a PARTIAL aggregate over
    the checkpointed tf relation — map-side combine collapses hot
    stop-word keys — joined back, never from a count window (no
    map-side combine, no AQE skew rescue).  The tf lineage is
    materialized once (localCheckpoint), so the final plan reads
    ExistingRDD blocks, and the raw token stream never feeds a
    token-keyed window."""
    import re

    from duckdb_webhook_gateway_spark.workloads.datapipe import (
        text_tfidf_top_terms,
    )

    plan = _plan(text_tfidf_top_terms(spark, sf_dir()))
    # no count window anywhere (the skew hazard this shape replaces)
    assert "Window" not in plan
    # df is a partial-aggregated count relation
    assert "partial_count" in plan
    # tf relation materialized once — no parquet rescan in the final plan
    assert "Scan ExistingRDD" in plan
    assert "Location: InMemoryFileIndex" not in plan
    # the join back is an equi-join (AQE-skew-splittable SMJ, or a BHJ
    # of the vocab-cardinality count relation) — never a nested loop
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exchanges: df partial-count, (join re-key), top-k regroup
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3


def test_dsir_single_corpus_pass_join_free_scoring(spark):
    """DSIR (round-6 shape): the corpus explode+hash reduces ONCE into a
    checkpointed (doc, bucket) contingency relation; scoring reads ONLY
    the materialized blocks (no parquet rescan) and attaches the learned
    distribution as a constant array literal — no join of any kind."""
    import re

    from duckdb_webhook_gateway_spark.workloads.datapipe import (
        dsir_selection,
    )

    plan = _plan(dsir_selection(spark, sf_dir()))
    assert "Scan ExistingRDD" in plan
    assert "Location: InMemoryFileIndex" not in plan
    assert len(re.findall(r"\(\d+\) \w*Join", plan)) == 0
    assert "BroadcastExchange" not in plan
    # one shuffle: the per-doc aggregate
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1


def test_lm_perplexity_skew_safe_partial_agg_stats(spark):
    """LM perplexity (round-8 shape, round-9 decile): the position
    stream reduces ONCE into a checkpointed (doc, w1, w2, occ)
    contingency relation; c(w1) and c(w1,w2) are PARTIAL aggregates
    over it — map-side combine collapses hot stop-word keys (a count
    window over the occurrence stream had no partial agg and no AQE
    skew rescue) — joined back with equi-joins whose build sides are
    vocab-cardinality.  |V| counts the c(w1) relation, never the
    stream.  The decile stage checkpoints (global_ntile pins one range
    sampling), which truncates the end-to-end lineage — so the model
    stage is asserted on lm_doc_scores and the decile stage on the
    final plan: no single-task GLOBAL window anywhere (the round-8
    shape ended in ntile(10) over an unpartitioned orderBy — one task
    sorting every doc score), and the offsets attach via broadcast."""
    import re

    from duckdb_webhook_gateway_spark.operators.text import lm_doc_scores
    from duckdb_webhook_gateway_spark.workloads.datapipe import (
        lm_perplexity_filter,
    )

    docs = spark.read.parquet(sf_dir() + "/documents.parquet")
    model = _plan(lm_doc_scores(docs))
    # no count window partitioned on token keys
    win_specs = re.findall(r"windowspecdefinition\(([^)]*)\)", model)
    for spec in win_specs:
        assert "w1#" not in spec and "w2#" not in spec, spec
    # model statistics are partial aggregates (map-side combine)
    assert "partial_sum" in model
    # contingency relation materialized once — no parquet rescan
    assert "Scan ExistingRDD" in model
    assert "Location: InMemoryFileIndex" not in model
    # joins are equi-joins; the only nested pairing is the 1-row |V|
    assert "CartesianProduct" not in model
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", model)) <= 1

    plan = _plan(lm_perplexity_filter(spark, sf_dir()))
    assert "CartesianProduct" not in plan
    # the decile routes by source bytes: the test corpus is statable-
    # small, so the plain window is EXPECTED here; the scale path's
    # shape (no one-task global sort — every window keys on the pinned
    # range partition id) is pinned by forcing the routing bound
    from pyspark.sql import functions as F

    from duckdb_webhook_gateway_spark.operators.ranks import global_ntile
    from duckdb_webhook_gateway_spark.operators.text import lm_doc_scores

    scale = _plan(
        global_ntile(
            lm_doc_scores(docs),
            10,
            [F.asc("bits_per_bigram"), F.asc("doc_id")],
            "ppl_decile",
            input_bytes=1 << 40,
        )
    )
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", scale):
        assert "_gnt_pid" in spec, spec
    assert "Scan ExistingRDD" in scale


def test_substring_sa_single_prefix_shuffle_no_joins(spark):
    """The distributed suffix array keys ONE corpus-scale exchange on the
    k-token prefix; the codegen count-window and the bucket-streaming
    mapInArrow SA stage share that partitioning (no second wk
    exchange), span merging is doc-partitioned, and the whole plan is
    join-free with nothing broadcast."""
    import re

    from duckdb_webhook_gateway_spark.workloads.datapipe import (
        substring_dup_spans_sa,
    )

    plan = _plan(substring_dup_spans_sa(spark, sf_dir()))
    assert len(re.findall(r"\(\d+\) \w*Join", plan)) == 0
    assert "BroadcastExchange" not in plan
    keys = re.findall(r"hashpartitioning\((\w+)#", plan)
    assert keys.count("wk") == 1, keys
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 4


def test_gopher_gate_single_scan_no_joins(spark):
    """The rule gate is one scan: rules project in-row (source carried
    through — no join back to documents), one source-cardinality
    aggregate, nothing broadcast."""
    import re

    from duckdb_webhook_gateway_spark.workloads.datapipe import (
        gopher_quality_gate,
    )

    plan = _plan(gopher_quality_gate(spark, sf_dir()))
    assert len(re.findall(r"\(\d+\) \w*Join", plan)) == 0
    assert "BroadcastExchange" not in plan
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1, scans


def test_gopher_repetition_single_arrow_pass(spark):
    """Repetition signals: ONE ArrowEvalPython/mapInPandas pass over the
    document scan — the token stream never shuffles for the doc-local
    statistic — then a source-cardinality aggregate; join-free."""
    import re

    from duckdb_webhook_gateway_spark.workloads.datapipe import (
        gopher_repetition_report,
    )

    plan = _plan(gopher_repetition_report(spark, sf_dir()))
    assert len(re.findall(r"\(\d+\) \w*Join", plan)) == 0
    assert "BroadcastExchange" not in plan
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1, scans


def test_bm25_skew_safe_df_checkpointed_tf(spark):
    """BM25 (round 10): df attaches with the skew-safe partial-agg +
    join-back over the lazily checkpointed tf relation — the previous
    count window over (token) pinned a stop-word term's whole posting
    list on one task.  The checkpoint keeps the corpus explode
    single-execution (exactly one parquet scan remains visible: the
    stats pass), no full-frame window survives, and top-k still
    compiles to TakeOrderedAndProject (no global sort)."""
    import re

    from duckdb_webhook_gateway_spark.workloads.datapipe import doc_bm25_topk

    plan = _plan(doc_bm25_topk(spark, sf_dir()))
    assert "TakeOrderedAndProject" in plan
    assert "Scan ExistingRDD" in plan          # checkpointed tf relation
    assert "unboundedfollowing$()" not in plan  # no full-frame window
    # the stats branch is the only parquet scan left in the main plan
    # (the explode lineage lives behind the checkpoint)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_ngram_novelty_skew_safe_partial_agg(spark):
    """Novelty (round-8 shape): NO window at all — novelty counts come
    from a groupBy(ngram) PARTIAL aggregate over the checkpointed
    distinct relation (map-side combine collapses hot boilerplate
    n-grams; the earlier count window had no partial agg and no AQE
    skew rescue) filtered to df = 1; the only join pairs two
    GROUP-cardinality relations."""
    import re

    from duckdb_webhook_gateway_spark.workloads.datapipe import (
        source_ngram_novelty,
    )

    plan = _plan(source_ngram_novelty(spark, sf_dir()))
    assert "Window" not in plan
    # df=1 detection is a partial aggregate keyed on ngram
    assert "partial_count" in plan or re.search(r"partial_\w+", plan)
    # distinct relation materialized once — no parquet rescan
    assert "Scan ExistingRDD" in plan
    assert "Location: InMemoryFileIndex" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the only broadcast is a group-cardinality relation (novel counts)
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "BroadcastExchange" in line:
            for nxt in lines[i + 1 : i + 4]:
                if "Input" in nxt:
                    assert "ngram#" not in nxt and "doc_id#" not in nxt, nxt
                    break


def test_hybrid_fusion_query_side_broadcast_only(spark):
    """RRF hybrid retrieval: every broadcast is the 5-row query set (or a
    k-bounded rank list) — the corpus relation itself must never sit on
    the build side, and the per-query rank windows must be fed by the
    broadcast-probe stream, not a SortMergeJoin of corpus vs corpus."""
    from duckdb_webhook_gateway_spark.workloads.datapipe import (
        hybrid_rank_fusion,
    )

    plan = _plan(hybrid_rank_fusion(spark, sf_dir()))
    assert "CartesianProduct" not in plan
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        for nxt in lines[i + 1 : i + 4]:
            if "Input" in nxt:
                # query-set (qt/qv) or rank-list columns only — never the
                # corpus-side token arrays / vectors (ct/cv)
                assert "ct#" not in nxt and "cv#" not in nxt, nxt
                break


def test_triangle_count_partial_agg_no_window(spark):
    """Triangle counting (round 8): degree and per-corner triangle counts
    are PARTIAL aggregates (map-side combine — a count window keyed on a
    hub node would pin its whole arc set on one task), wedges close via
    equi-joins under the degree orientation, and the top-20 compiles to
    TakeOrderedAndProject (no global sort)."""
    from duckdb_webhook_gateway_spark.workloads.analytics import (
        part_triangle_count,
    )

    plan = _plan(part_triangle_count(spark, sf_dir()))
    assert "Window" not in plan
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_containment_checkpoint_two_explodes_no_window(spark):
    """Containment join (round 8): the df-ordered shingle-array relation
    is materialized ONCE (localCheckpoint) before the fan-out — the
    final plan reads ExistingRDD blocks, never rescans parquet — and
    exactly two Generates explode it (prefix and full posting list);
    candidate + verify stages are equi-joins, no windows anywhere (df
    attaches via the skew-safe partial-agg shape inside the
    checkpointed lineage)."""
    import re

    from duckdb_webhook_gateway_spark.operators.dedup import (
        prefix_containment_join,
    )

    docs = spark.read.parquet(sf_dir() + "/documents.parquet")
    plan = _plan(prefix_containment_join(docs))
    assert "Scan ExistingRDD" in plan
    assert "Location: InMemoryFileIndex" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(re.findall(r"\(\d+\) \*?\s?Generate", plan)) == 2


def test_ivf_recall_topk_windows_group_limited(spark):
    """ANN recall eval (round 8): both retrieval arms keep their top-k
    rank windows behind WindowGroupLimit (partial top-k before the
    shuffle — the property that makes rank<=k scale-safe), and the eval
    join itself is an equi-join on (query_id, neighbor_id)."""
    from duckdb_webhook_gateway_spark.workloads.datapipe import ann_ivf_recall

    plan = _plan(ann_ivf_recall(spark, sf_dir()))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_all_queries_free_of_scale_hazard_joins(spark):
    """Global sweep: EVERY registered workload query's physical plan must
    be free of CartesianProduct, and BroadcastNestedLoopJoin may appear
    only in the whitelisted queries whose cross join is a deliberate
    1-row/bounded-side shape.  The per-query pins above check specific
    plan properties; this sweep guarantees no UNPINNED query ships a
    pairing that explodes at corpus scale."""
    from duckdb_webhook_gateway_spark.workloads import all_entries

    # Each BNLJ below pairs a corpus-scale side with a BOUNDED broadcast
    # side — one row of global stats/bounds/|V|, or the small query set
    # of an ANN search:
    bnlj_ok = {
        "ann_cosine_topk",       # broadcast query set x corpus (by design)
        # ann_q8_topk / ann_rerank_topk left this list in r12: the q8
        # scan is a fused Arrow pass now (no join at all); rerank's
        # stage-2 joins are broadcast-hash on Q×m ids
        "semantic_dedup",        # 1-row stats / K-row centroid pairing
        "value_quantile_sketch", # 1-row min/max stats
        "events_hourly_gapfill", # 1-row calendar bounds
        "corpus_zipf_stats",     # 1-row corpus totals
        "lm_perplexity_filter",  # 1-row |V|
        "bloom_prefilter_join",  # 1-row probe/prefiltered count sides
        "events_funnel",         # 1-row stage-count aggregate chain
        "token_heavy_hitters",   # 1-row stream total from the MG pass
        "doc_bm25_topk",         # 1-row (N, avgdl) corpus-stats side
        "hybrid_rank_fusion",    # broadcast 5-query set x corpus, both arms
        "ann_ivf_recall",        # broadcast 10-query set x corpus (exact arm)
        "corpus_token_coverage", # threshold location is non-equi vs a
                                 # broadcast side of <= len(fracs) rows (3)
                                 # on both routes since r13 (scale route:
                                 # offsets x thresholds, <= partitions x 3
                                 # rows); the DATA-side prune stays an equi
                                 # broadcast join on the partition id
        "join_key_skew",         # 1-row total-orders count side (round 10)
        "split_divergence",      # 1-row token-total stats side (round 10)
    }
    # Full-frame windows (unbounded preceding..following) get NO map-side
    # partial aggregation and no AQE skew split: partitioned by a
    # DATA-cardinality key (a token, a content hash, a join key) they pin
    # that key's entire row set on one task — the round-8/round-10
    # scale-killer class (purged from tfidf, bm25, simhash, substring
    # spans, pagerank degree, LSH bucket_size...).  Whitelisted queries
    # carry a BOUNDED-input justification: the window's input relation is
    # aggregate-cardinality (per-source / per-type totals), k-bounded
    # (KMV sketches), or per-user (the sessionize assumption: one user's
    # history fits an executor).
    fullframe_ok = {
        "source_mixture",             # global over per-source aggregate
        "mixture_resample",           # global over per-source aggregate
        "source_temperature_mixture", # global over per-source aggregate
        "source_lang_mix",            # per-(source, lang) aggregate input
        "events_markov_transitions",  # type-pair aggregate input
        "events_cohort_retention",    # per-user frame + per-cohort-week agg
        "events_multitouch_attribution",  # per-user path frame
        "distinct_kmv_sketch",        # k-bounded KMV candidate input
        "source_overlap_kmv",         # k-bounded KMV candidate input
        "substring_dup_spans_sa",     # count-window rides the wk exchange
                                      # the per-bucket LCP Arrow pass needs
                                      # anyway (buckets must be contiguous);
                                      # hot-bucket concentration is inherent
                                      # to the per-bucket algorithm, not the
                                      # window
    }
    offenders = {}
    for name, (fn, _) in all_entries().items():
        plan = _plan(fn(spark, sf_dir()))
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in bnlj_ok:
            offenders[name] = "BroadcastNestedLoopJoin"
        if (
            "unboundedpreceding$(), unboundedfollowing$()" in plan
            and name not in fullframe_ok
        ):
            offenders[name] = offenders.get(name, "") + " full-frame window"
    assert offenders == {}, offenders


def test_pq_topk_single_pass_window_group_limited(spark):
    """PQ ANN (round 10): encode+ADC is ONE Arrow pass over the
    partitioned corpus (queries/codebook broadcast driver-side — no
    join, no corpus collect), and the only shuffle is the final top-k
    window, which must keep WindowGroupLimit (partial top-k before the
    exchange)."""
    # operator-level since r12 (the ann_pq_topk registry entry was
    # retired — subsumed by ann_pq_trained_topk); the untrained
    # first-16-codebook path keeps this plan pin
    import pyspark.sql.functions as F

    from duckdb_webhook_gateway_spark.operators import similarity as S

    emb = spark.read.parquet(sf_dir() + "/embeddings.parquet")
    plan = _plan(S.pq_topk(emb.filter(F.col("vec_id") < 10), emb, k=3))
    assert "WindowGroupLimit" in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Location: InMemoryFileIndex") <= 2  # corpus scan(s)


def test_ivfpq_topk_single_pass_window_group_limited(spark):
    """IVF-PQ (round 10): list assignment + PQ encode + ADC scoring all
    fuse into ONE Arrow pass (centroids/queries/codebook/LUT broadcast
    driver-side); the only shuffle is the WindowGroupLimit top-k."""
    from duckdb_webhook_gateway_spark.workloads.datapipe import ann_ivfpq_topk

    plan = _plan(ann_ivfpq_topk(spark, sf_dir()))
    assert "WindowGroupLimit" in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_ivfq8_topk_single_pass_window_group_limited(spark):
    """IVF-SQ8 (round 11): list assignment + int8 encode + integer-dot
    scoring fuse into ONE Arrow pass (centroids/quantized queries
    broadcast driver-side); the only shuffle is the WindowGroupLimit
    top-k — identical shape to the PQ/IVF-PQ pins."""
    from duckdb_webhook_gateway_spark.workloads.datapipe import ann_ivfq8_topk

    plan = _plan(ann_ivfq8_topk(spark, sf_dir()))
    assert "WindowGroupLimit" in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_kcore_round_plan_partial_agg_no_window(spark):
    """k-core peel round (round 11): the degree count must be a hash
    aggregate with a map-side partial (skew-safe — a count window would
    pin a hub's edge set on one task), and the survivor filter must be
    semi-joins, never a cartesian or a broadcast of the node relation
    forced from the operator."""
    from pyspark.sql import functions as F

    from duckdb_webhook_gateway_spark.operators.graphs import kcore

    edges = (
        spark.read.parquet(sf_dir() + "/lineitem.parquet")
        .select(
            F.col("l_orderkey").alias("a"), F.col("l_partkey").alias("b")
        )
        .limit(500)
    )
    # one peel round, lazily: build the round's plan by hand from the
    # operator's own building blocks via rounds=0 (degree relation only)
    core = kcore(edges, k=2, rounds=1)
    # the returned relation is the post-peel degree aggregate
    plan = _plan(core)
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "CartesianProduct" not in plan
    assert "unboundedpreceding$(), unboundedfollowing$()" not in plan


def test_hard_negatives_fused_pass_broadcast_label_join(spark):
    """Hard-negative mining (round 11): the neighbor label must ride the
    fused cosine Arrow pass IN-ROW (an equi-join of the Q×N pair stream
    back against the corpus would add a corpus-cardinality shuffle — the
    plan may contain exactly one join, the broadcast-hash join against
    the 10-row anchor-label relation), and the only shuffle is the
    WindowGroupLimit top-k."""
    from duckdb_webhook_gateway_spark.workloads.datapipe import (
        embedding_hard_negatives,
    )

    plan = _plan(embedding_hard_negatives(spark, sf_dir()))
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rerank_topk_stage2_never_rescans_corpus_wide(spark):
    """Retrieve-then-rerank (round 11): stage 1 is the quantized scan
    (its BNLJ is the whitelisted broadcast-query shape); stage 2 must
    prune the corpus with a broadcast semi-join on the Q×m shortlist ids
    BEFORE the exact cosine pass, and both stages' top-k windows keep
    WindowGroupLimit.  No sort-merge join anywhere — every pairing is
    against a bounded broadcast side."""
    from duckdb_webhook_gateway_spark.workloads.datapipe import (
        ann_rerank_topk,
    )

    df = ann_rerank_topk(spark, sf_dir())
    df.collect()  # materialize the lazy shortlist checkpoint + AQE plan
    plan = _plan(df)
    assert "WindowGroupLimit" in plan  # stage-2 top-k (stage 1 is behind
    # the materialized checkpoint: both consumers read Scan ExistingRDD,
    # so the quantized corpus pass planned/ran ONCE, not once per branch)
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    import re as _re

    assert len(_re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1


def test_communities_lpa_round_plan_partial_agg_no_window(spark):
    """LPA vote round (round 11): the per-(node, label) vote count must
    be a hash aggregate with a map-side partial (a per-node window over
    raw votes would pin a hub's arc set on one task), and the argmin
    over votes is itself an aggregate — no window function, no
    cartesian, nothing node-cardinality broadcast from the operator."""
    from pyspark.sql import functions as F

    from duckdb_webhook_gateway_spark.operators.graphs import (
        _lpa_round,
        undirect,
    )

    edges = (
        spark.read.parquet(sf_dir() + "/lineitem.parquet")
        .select(
            F.col("l_orderkey").alias("a"), F.col("l_partkey").alias("b")
        )
        .limit(500)
    )
    arcs = undirect(edges).withColumnRenamed(
        "src", "node"
    ).withColumnRenamed("dst", "nbr")
    labels = arcs.select("node").distinct().withColumn(
        "label", F.col("node")
    )
    plan = _plan(_lpa_round(arcs, labels))
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "unboundedpreceding$(), unboundedfollowing$()" not in plan


def test_mmr_topk_one_exchange_grouped_map_reuses_window_partitioning(spark):
    """MMR (round 11 fourth batch): the fused cosine pass feeds a top-m
    WindowGroupLimit whose hash(query_id) exchange must ALSO satisfy the
    greedy stage's FlatMapGroupsInPandas — one Exchange in the whole
    plan (ENSURE_REQUIREMENTS), partial+final group limits around it,
    and no join of any kind (the query block rides a broadcast variable
    inside the Arrow pass, the shortlist group is <= m rows per task)."""
    import re

    from duckdb_webhook_gateway_spark.workloads.datapipe import ann_mmr_topk

    plan = _plan(ann_mmr_topk(spark, sf_dir()))
    assert "FlatMapGroupsInPandas" in plan
    assert "WindowGroupLimit" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "ENSURE_REQUIREMENTS" in plan
    for bad in (
        "SortMergeJoin",
        "ShuffledHashJoin",
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
        "BroadcastHashJoin",
    ):
        assert bad not in plan, bad


def test_cdc_chunks_pure_projection_pruned_scan(spark):
    """Content-defined chunking (round 11 fourth batch): the whole
    operator is IN-ROW higher-order-function projection — the plan may
    contain only the input-spread and presentation-sort exchanges (no
    hash partitioning at all), no window, no join, and no Python
    evaluation of any kind; the parquet scan must read exactly
    (doc_id, text)."""
    import re

    from duckdb_webhook_gateway_spark.workloads.datapipe import (
        doc_cdc_chunks,
    )

    plan = _plan(doc_cdc_chunks(spark, sf_dir()))
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert "hashpartitioning" not in plan
    for bad in (
        "Window",
        "Join",
        "CartesianProduct",
        "MapInPandas",
        "FlatMapGroupsInPandas",
        "BatchEvalPython",
        "ArrowEvalPython",
        "HashAggregate",
    ):
        assert bad not in plan, bad


def test_pca_topdir_bounded_summary_take_ordered(spark):
    """Power-iteration PCA (round 11 fifth batch): the returned plan is
    projection-pass -> TakeOrderedAndProject over the broadcast
    component — no window, no join; the corpus never shuffles on a
    data key (the stats pass collects a dimension-cardinality summary
    in a separate bounded job)."""
    from duckdb_webhook_gateway_spark.workloads.datapipe import (
        embedding_pca_topdir,
    )

    df = embedding_pca_topdir(spark, sf_dir())
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "MapInPandas" in plan
    for bad in (
        "Window",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
        "BroadcastHashJoin",
    ):
        assert bad not in plan, bad


def test_winnow_pairs_in_row_selection_no_window(spark):
    """Winnowing (round 11 sixth batch): gram hashing, the per-window
    rightmost-minimum, and fingerprint dedup are all IN-ROW array ops —
    no window function anywhere (the oracle's row_number is the SQL
    replay, not the plan); the stop-filter doc-frequency is a partial
    hash aggregate joined back, and the pair join is keyed on the
    fingerprint hash (posting lists, never all-pairs)."""
    from duckdb_webhook_gateway_spark.workloads.datapipe import (
        doc_winnow_pairs,
    )

    plan = _plan(doc_winnow_pairs(spark, sf_dir()))
    assert "Window" not in plan
    assert "HashAggregate" in plan
    for bad in (
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
        "MapInPandas",
        "FlatMapGroupsInPandas",
    ):
        assert bad not in plan, bad


def test_cdc_dup_chunks_single_keyed_aggregate_no_window(spark):
    """The CDC dedup ledger (round 11): explode -> hash aggregate keyed
    on the chunk hash (count-distinct expands to the standard two-level
    keyed aggregate) — no window, no join, pruned 2-column scan."""
    from duckdb_webhook_gateway_spark.workloads.datapipe import (
        doc_cdc_dup_chunks,
    )

    plan = _plan(doc_cdc_dup_chunks(spark, sf_dir()))
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan
    assert "HashAggregate" in plan
    assert "Generate" in plan  # the chunk-list explode
    for bad in (
        "Window",
        "Join",
        "CartesianProduct",
        "MapInPandas",
        "BatchEvalPython",
    ):
        assert bad not in plan, bad


def test_q8_topk_single_pass_window_group_limited(spark):
    """Flat SQ8 (rewritten r12): encode + integer dots fuse into ONE
    Arrow pass over the corpus scan (quantized queries broadcast
    driver-side — no join, no corpus collect); the only shuffle is the
    final top-k window, which must keep WindowGroupLimit — the
    ivfq8/pq family shape.  The old declarative form's broadcast
    crossJoin + per-pair zip_with lambda measured 15x slower at sf1."""
    from duckdb_webhook_gateway_spark.workloads.datapipe import ann_q8_topk

    plan = _plan(ann_q8_topk(spark, sf_dir()))
    assert "WindowGroupLimit" in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
