"""Semantic unit tests for the round-3 cleaning/tokenization queries on
crafted corpora — oracle parity checks agreement on the driver's testdata;
these pin the intended behavior on edge cases that data may not contain."""

from __future__ import annotations

import pytest

from duckdb_webhook_gateway_spark.workloads.datapipe import (
    boilerplate_ratio,
    bpe_merge_candidates,
    doc_chunk_manifest,
    mixture_resample,
    quality_funnel,
)


def _write_docs(spark, tmp_path, rows):
    """rows: list of (doc_id, text, lang, source).  Returns the sf_dir."""
    df = spark.createDataFrame(
        [(i, t, lang, src, len(t)) for i, t, lang, src in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


W8 = "w1 w2 w3 w4 w5 w6 w7 w8"  # exactly one 8-token chunk


def test_boilerplate_ratio_flags_shared_chunks(spark, tmp_path):
    # Docs 0 and 1 share their first 8-token chunk (boilerplate header);
    # their second chunks differ.  Doc 2 is fully unique.
    rows = [
        (0, W8 + " a1 a2 a3 a4 a5 a6 a7 a8", "en", "s"),
        (1, W8 + " b1 b2 b3 b4 b5 b6 b7 b8", "en", "s"),
        (2, "c1 c2 c3 c4 c5 c6 c7 c8", "en", "s"),
    ]
    out = {
        r["doc_id"]: r
        for r in boilerplate_ratio(spark, _write_docs(spark, tmp_path, rows))
        .collect()
    }
    assert out[0]["n_chunks"] == 2 and out[0]["n_boilerplate"] == 1
    assert out[0]["boilerplate_ratio"] == 0.5
    assert out[1]["n_boilerplate"] == 1
    assert out[2]["n_boilerplate"] == 0 and out[2]["boilerplate_ratio"] == 0.0


def test_boilerplate_ratio_skips_short_docs(spark, tmp_path):
    # A doc under 8 tokens yields no chunks and must be ABSENT (not a
    # fabricated row from Spark's descending sequence(0, -1)).
    rows = [(0, "only three tokens", "en", "s"), (1, W8, "en", "s")]
    ids = [
        r["doc_id"]
        for r in boilerplate_ratio(spark, _write_docs(spark, tmp_path, rows))
        .collect()
    ]
    assert ids == [1]


def test_chunk_manifest_window_arithmetic(spark, tmp_path):
    # 100 tokens, window 64 / stride 48: chunks start at 0 and 48 ->
    # n_chunks=3 would need a start of 96 < 100 — yes, 3 chunks; the last
    # starts at 96 and holds 4 tokens.
    text = " ".join(f"t{i}" for i in range(100))
    rows = [(0, text, "en", "s"), (1, "single", "en", "s")]
    out = {
        r["doc_id"]: r
        for r in doc_chunk_manifest(spark, _write_docs(spark, tmp_path, rows))
        .collect()
    }
    assert out[0]["n_chunks"] == 3 and out[0]["last_chunk_tokens"] == 4
    assert out[1]["n_chunks"] == 1 and out[1]["last_chunk_tokens"] == 1
    assert out[0]["chunk_fingerprint"] != out[1]["chunk_fingerprint"]


def test_quality_funnel_stages_are_nested(spark, tmp_path):
    # 120 tokens (length score saturates at 0.5, so quality >= 0.5 always
    # passes) with "the" sprinkled in for the stopword gate — both dup
    # docs MUST reach stage 3, where exactly one is dropped.
    en = " ".join(
        f"the word{i}" if i % 6 == 0 else f"word{i}" for i in range(100)
    )
    rows = [
        (0, en, "en", "s"),           # passes lang + quality; keeper
        (1, en, "en", "s"),           # exact dup of 0 -> dropped at stage 3
        (2, "zz yy xx ww vv uu", "xx", "s"),  # no stopwords -> dropped at lang
    ]
    out = {r["stage"]: r for r in quality_funnel(
        spark, _write_docs(spark, tmp_path, rows)).collect()}
    assert out["0_total"]["n_docs"] == 3
    assert out["1_lang_en"]["n_docs"] == 2
    assert out["2_quality"]["n_docs"] == 2   # length-saturated score >= 0.5
    assert out["3_dedup_keeper"]["n_docs"] == 1  # the dup is dropped HERE
    assert out["3_dedup_keeper"]["n_tokens"] * 2 == out["2_quality"]["n_tokens"]
    assert out["0_total"]["doc_pct"] == 1.0


def test_mixture_resample_downsamples_only_heavy_sources(spark, tmp_path):
    # 'heavy' has ~9x the tokens of 'light': its keep-rate is < 1 so some
    # docs may drop; 'light' is under the uniform share so its rate
    # saturates at >= 1 and every doc MUST survive.
    heavy = [(i, " ".join(f"h{i}_{j}" for j in range(90)), "en", "heavy")
             for i in range(10)]
    light = [(100 + i, " ".join(f"l{i}_{j}" for j in range(10)), "en", "light")
             for i in range(10)]
    out = {r["source"]: r for r in mixture_resample(
        spark, _write_docs(spark, tmp_path, heavy + light)).collect()}
    assert out["light"]["n_kept"] == out["light"]["n_docs"] == 10
    assert out["heavy"]["n_kept"] <= out["heavy"]["n_docs"]
    assert out["heavy"]["kept_tokens"] <= out["heavy"]["n_tokens"]
    # Invariant: shares sum to 1 (within rounding).
    total_share = sum(r["resampled_share"] for r in out.values())
    assert total_share == pytest.approx(1.0, abs=1e-4)


def test_bpe_counts_are_freq_weighted_and_skip_single_chars(spark, tmp_path):
    # vocab: 'ab' freq 2, 'b' freq 1, 'abc' freq 1.
    # pairs: 'a b' = 2 (from ab) + 1 (from abc) = 3; 'b c' = 1.
    # The 1-char word 'b' must contribute nothing.
    rows = [(0, "ab ab b", "en", "s"), (1, "abc", "en", "s")]
    out = {r["pair"]: r for r in bpe_merge_candidates(
        spark, _write_docs(spark, tmp_path, rows)).collect()}
    assert set(out) == {"a b", "b c"}
    assert out["a b"]["pair_count"] == 3 and out["a b"]["n_vocab_positions"] == 2
    assert out["b c"]["pair_count"] == 1


def test_lm_perplexity_flags_gibberish(spark, tmp_path):
    """A document of corpus-frequent bigrams must land in a strictly lower
    perplexity decile than a document of singleton gibberish bigrams, and
    deciles must partition the scored docs evenly."""
    from duckdb_webhook_gateway_spark.workloads.datapipe import (
        lm_perplexity_filter,
    )

    common = "the cat sat on the mat"
    rows = [(i, common, "en", "web") for i in range(18)]
    rows.append((98, "zq xv qj vk jx kq", "en", "web"))  # unique bigrams
    d = _write_docs(spark, tmp_path, rows)
    out = {r.doc_id: r for r in lm_perplexity_filter(spark, d).collect()}
    assert len(out) == 19
    sizes = {}
    for r in out.values():
        sizes[r.ppl_decile] = sizes.get(r.ppl_decile, 0) + 1
    assert sum(sizes.values()) == 19 and max(sizes.keys()) == 10
    assert out[98].ppl_decile == 10  # gibberish lands in the worst decile
    assert out[98].bits_per_bigram > out[0].bits_per_bigram
    assert out[0].ppl_decile == 1  # common-bigram doc, lowest tie-break id


def test_table_profile_counts_nulls_and_distincts(spark):
    from duckdb_webhook_gateway_spark.operators.profile import table_profile

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, 2.5), (3, "a", None), (4, "b", None)],
        "id long, s string, v double",
    )
    out = {r.column_name: r for r in table_profile(df).collect()}
    assert set(out) == {"id", "s", "v"}
    assert all(r.n_rows == 4 for r in out.values())
    assert out["s"].n_nulls == 1 and out["s"].n_distinct == 2
    assert out["v"].n_nulls == 2 and out["v"].n_distinct == 2
    assert out["v"].min_repr == "1.500000" and out["v"].max_repr == "2.500000"
    assert out["id"].n_nulls == 0 and out["id"].n_distinct == 4
    # Every corpus-touching aggregate must be hash-based: the multi-
    # distinct Expand formulation degrades to SortAggregate over the
    # expanded corpus when string min/max is present (non-mutable agg
    # buffer).  Only the distinct-cardinality rollup may sort.
    plan = table_profile(df)._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    assert "HashAggregate" in plan


def test_weighted_sample_biases_toward_heavy_docs(spark):
    """Selection probability must rise with weight: the sampled docs'
    mean weight exceeds the corpus mean (deterministic fixture, fixed
    hashes — this is a regression pin, not a flaky statistical test)."""
    from conftest import sf_dir
    from duckdb_webhook_gateway_spark.workloads.datapipe import weighted_sample_topk

    import os
    import pyspark.sql.functions as F

    sample = weighted_sample_topk(spark, sf_dir())
    mean_w = sample.agg(F.avg("weight")).collect()[0][0]
    docs = spark.read.parquet(os.path.join(sf_dir(), "documents.parquet"))
    corpus_w = docs.select(
        F.avg(1 + F.least(F.floor(F.col("n_chars") / 100), F.lit(7)))
    ).collect()[0][0]
    assert mean_w > corpus_w


def test_multitouch_credit_conserves_purchase_value(spark):
    """Per purchase, position weights must sum to ~1.0: total credited
    micro-units equal round(value * 1e6) up to n half-ulps of per-click
    rounding."""
    import os

    import pyspark.sql.functions as F
    from pyspark.sql import Window
    from conftest import sf_dir
    from duckdb_webhook_gateway_spark.functions import epoch_us

    from duckdb_webhook_gateway_spark.sources.files import read_table

    ev = read_table(spark, sf_dir(), "events")
    base = ev.select(
        "event_id", "user_id", "value", epoch_us("ts").alias("us"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("kind"),
    ).filter(F.col("event_type").isin("click", "purchase"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("us"), F.asc("kind"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    assigned = (
        base.withColumn(
            "np_id",
            F.last(F.when(F.col("kind") == 1, F.col("event_id")), True).over(w),
        )
        .withColumn(
            "np_us", F.last(F.when(F.col("kind") == 1, F.col("us")), True).over(w)
        )
        .filter(
            (F.col("kind") == 0)
            & F.col("np_us").isNotNull()
            & (F.col("np_us") - F.col("us") <= 7 * 86400 * 1_000_000)
        )
    )
    wp = Window.partitionBy("np_id").orderBy("us", "event_id")
    wn = Window.partitionBy("np_id")
    pos = assigned.withColumn("pos", F.row_number().over(wp)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    wfrac = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("n")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    purchases = base.filter(F.col("kind") == 1).select(
        F.col("event_id").alias("np_id"), F.col("value").alias("p_value")
    )
    per_purchase = (
        pos.join(purchases, "np_id")
        .withColumn(
            "credit_micro",
            F.round(F.col("p_value") * wfrac * 1_000_000).cast("bigint"),
        )
        .groupBy("np_id", "p_value")
        .agg(F.sum("credit_micro").alias("total"), F.max("n").alias("n"))
        .collect()
    )
    assert per_purchase
    for r in per_purchase:
        assert abs(r["total"] - round(r["p_value"] * 1_000_000)) <= r["n"], r


def test_gopher_rules_seeded_verdicts(spark):
    """Each Gopher rule fires on exactly the documents built to trip it
    (Rae et al. 2021 §A1.1 thresholds, integer-exact arithmetic)."""
    from duckdb_webhook_gateway_spark.operators.text import (
        gopher_quality_rules,
    )

    good = " ".join(["the"] + ["word"] * 59)          # 60 words, all rules ok
    short = "the tiny doc"                            # < 50 words
    longwords = " ".join(["the"] + ["x" * 15] * 59)   # mean word len > 10
    symbols = " ".join(["the"] + ["#"] * 59)          # symbol ratio + alpha
    nostop = " ".join(["word"] * 60)                  # no stop words
    docs = spark.createDataFrame(
        [(1, good), (2, short), (3, longwords), (4, symbols), (5, nostop)],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in gopher_quality_rules(docs, min_stop_words=1).collect()
    }
    assert out[1].passed
    assert not out[2].r_words and out[2].r_wordlen
    assert not out[3].r_wordlen and out[3].r_words
    assert not out[4].r_symbol and not out[4].r_alpha
    assert not out[5].r_stop and out[5].r_words
    assert all(not out[i].passed for i in (2, 3, 4, 5))


def test_gopher_repetition_seeded_signals(spark):
    """Exact expectations on a seeded corpus: top-n-gram chars count every
    occurrence; duplicated-n-gram coverage marks each position ONCE even
    under overlapping repeats."""
    from duckdb_webhook_gateway_spark.operators.text import (
        gopher_repetition_signals,
    )

    docs = spark.createDataFrame(
        [
            # period-3 cycle: every 3-gram (a,b,c)/(b,c,a)/(c,a,b)
            # occurs twice -> all 8 positions covered
            (1, "a b c a b c a b"),
            # one repeated 3-gram 'p q r' at positions 1-3 and 5-7; the
            # middle token x and tail s are uncovered
            (3, "p q r x p q r s"),
            (2, "x y z w v u t s"),  # no repeats at all
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in gopher_repetition_signals(docs, dup_n=3).collect()
    }
    d1 = out[1]
    assert d1.total_chars == 8
    # 'a b' x3 overlapping, 2 NON-SPACE chars per occurrence (the joining
    # space is excluded, matching the total_chars denominator)
    assert d1.top2_chars == 6
    assert d1.dup5_chars == 8  # every 3-gram repeats -> full coverage
    d3 = out[3]
    assert d3.dup5_chars == 6  # positions 1-3 and 5-7, x and s excluded
    d2 = out[2]
    assert d2.dup5_chars == 0
    assert d2.top2_chars == 2  # every 2-gram once; tie -> lexicographic min


def test_asof_join_null_right_value_yields_null(spark):
    """r6 review fix: the most recent right row VALUE being NULL must
    surface as NULL — per-column ignorenulls used to reach back past it
    to a stale earlier value (and could mix columns across rows)."""
    from duckdb_webhook_gateway_spark.operators.joins import (
        asof_join_backward,
    )

    right = spark.createDataFrame(
        [("k", 1, 5, "a"), ("k", 2, None, "b")],
        "key string, ts int, v int, w string",
    )
    left = spark.createDataFrame([("k", 3)], "key string, ts int")
    row = asof_join_backward(left, right, "key", "ts", ["v", "w"]).first()
    assert row["v"] is None  # ts=2 row's v is genuinely NULL
    assert row["w"] == "b"   # and w comes from the SAME (ts=2) row


def test_asof_join_backward_semantics(spark):
    """Backward as-of: greatest right ts <= left ts per key; equal ts
    matches; no earlier right row -> null."""
    from duckdb_webhook_gateway_spark.operators.joins import asof_join_backward

    left = spark.createDataFrame(
        [(1, 100, "p1"), (1, 205, "p2"), (2, 50, "p3")],
        ["k", "ts", "pid"],
    )
    right = spark.createDataFrame(
        [(1, 100, "c1"), (1, 200, "c2"), (2, 60, "c3")],
        ["k", "ts", "cid"],
    )
    out = {
        r.pid: r.cid
        for r in asof_join_backward(left, right, "k", "ts", ["cid"]).collect()
    }
    assert out == {"p1": "c1", "p2": "c2", "p3": None}


def test_salted_join_rejects_outer_modes(spark):
    """r6 review fix: right/full outer would duplicate unmatched small
    rows per salt — rejected loudly instead of silently x8 wrong."""
    import pytest

    from duckdb_webhook_gateway_spark.operators.joins import salted_join

    df = spark.range(4).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(df, df, "k", how="right")


def test_text_repetition_single_token_and_empty_docs(spark, tmp_path):
    """r6 review fix (reproduced crash): a no-space document made the
    in-row folds evaluate sequence(2, 1) DESCENDING and element_at out
    of range; guarded docs now match the oracle exactly — run 1, zero
    bigram slots, NULL dup_bigram_frac (try_divide, since ANSI Spark
    errors on /0 where DuckDB yields NULL)."""
    from duckdb_webhook_gateway_spark.workloads.datapipe import (
        text_repetition,
    )

    rows = [
        (0, "oneword", "en", "s"),
        (1, "a a a b", "en", "s"),
        (2, "", "en", "s"),
    ]
    out = {
        r["doc_id"]: r
        for r in text_repetition(
            spark, _write_docs(spark, tmp_path, rows)
        ).collect()
    }
    assert out[0]["max_run"] == 1 and out[0]["dup_bigram_frac"] is None
    assert out[2]["max_run"] == 1 and out[2]["dup_bigram_frac"] is None
    assert out[1]["max_run"] == 3 and out[1]["dup_token_frac"] == 0.5


def _cdc_ref(text, cap=4000, B=257, M=1_000_003, mask=64):
    """Independent plain-Python CDC reference: 8-char window polynomial
    hash, boundary where (h % M) % mask == 0, final boundary at end.
    Returns the chunk list (None text -> None, empty -> [])."""
    if text is None:
        return None
    s = text[:cap]
    L = len(s)
    ends = []
    for i in range(8, L + 1):  # 1-based window-end positions
        h = sum(ord(s[i - 8 + t]) * pow(B, 7 - t, M) for t in range(8)) % M
        if h % mask == 0:
            ends.append(i)
    if L >= 1 and (not ends or ends[-1] != L):
        ends.append(L)
    chunks, prev = [], 0
    for e in ends:
        chunks.append(s[prev:e])
        prev = e
    return chunks


def test_cdc_chunks_match_python_reference_and_resync_property(
    spark, tmp_path
):
    """doc_cdc_chunks vs an independent Python reference on a corner
    battery (empty, <8 chars, exactly 8, long random, NULL), plus the
    property the operator exists for: chunks REASSEMBLE to the text,
    and inserting a prefix re-synchronizes — all chunks after the
    first untouched boundary keep their identity (a fixed-size chunker
    would shift every one of them)."""
    import hashlib
    import random

    from duckdb_webhook_gateway_spark.workloads.datapipe import (
        doc_cdc_chunks,
    )

    rng = random.Random(11)
    long_doc = "".join(
        rng.choice("abcdefghijklmnopqrstuvwxyz      ") for _ in range(520)
    )
    docs = [
        (0, ""),
        (1, "abc"),
        (2, "exactly8"),
        (3, long_doc),
        (4, "inserted prefix " + long_doc),
        (5, None),
    ]
    # _write_docs computes len(text) and cannot carry NULL text
    df = spark.createDataFrame(
        [(i, t, "en", "s0", len(t or "")) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    sf = str(tmp_path)
    got = {r.doc_id: r for r in doc_cdc_chunks(spark, sf).collect()}

    for i, t in docs:
        ref = _cdc_ref(t)
        r = got[i]
        if ref is None:
            assert r.n_chunks is None and r.chunk_fingerprint is None
            continue
        assert "".join(ref) == (t or "")[:4000]  # reassembly
        assert r.n_chunks == len(ref)
        if ref:
            assert r.max_chunk_len == max(len(c) for c in ref)
            fp = hashlib.md5(
                "".join(
                    hashlib.md5(c.encode()).hexdigest() for c in ref
                ).encode()
            ).hexdigest()
            assert r.chunk_fingerprint == fp
        else:
            assert r.max_chunk_len is None and r.chunk_fingerprint is None

    # content-defined re-sync: the prefixed doc shares the tail of the
    # original's chunk list (boundaries are content-local), losing at
    # most the chunks overlapping the insertion
    a, b = _cdc_ref(long_doc), _cdc_ref("inserted prefix " + long_doc)
    assert len(a) >= 4, "long doc too short for the property to bite"
    shared = 0
    while (
        shared < min(len(a), len(b))
        and a[-1 - shared] == b[-1 - shared]
    ):
        shared += 1
    assert shared >= len(a) - 2, (shared, len(a))


def test_passage_dedup_semantics_retired_entry(spark, tmp_path):
    """passage_dedup left the driver registry in round 13 (consolidation
    toward the 150-entry rotation capacity), but its DISTINCTIVE
    evidence lives on here: a planted corpus where every document is
    UNIQUE at document level (exact dedup finds nothing) yet two docs
    share an 8-token passage — the chunk-level detector must surface
    exactly that chunk, with n_docs/n_occurrences/min_doc_id agreeing
    with the DuckDB oracle replay of the same chunking."""
    import duckdb

    from duckdb_webhook_gateway_spark.workloads.datapipe import (
        PASSAGE_DEDUP_SQL,
        passage_dedup,
    )

    shared = "p1 p2 p3 p4 p5 p6 p7 p8"
    rows = [
        (0, shared + " a1 a2 a3 a4 a5 a6 a7 a8", "en", "s"),
        (1, shared + " b1 b2 b3 b4 b5 b6 b7 b8", "en", "s"),
        (2, "c1 c2 c3 c4 c5 c6 c7 c8", "en", "s"),
    ]
    d = _write_docs(spark, tmp_path, rows)
    got = passage_dedup(spark, d).collect()
    # document-level exact dedup finds nothing (all texts unique)...
    assert len({t for _, t, _, _ in rows}) == len(rows)
    # ...while chunk level finds exactly the shared passage
    assert len(got) == 1
    assert got[0]["n_docs"] == 2
    assert got[0]["n_occurrences"] == 2
    assert got[0]["min_doc_id"] == 0
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    oracle = con.execute(PASSAGE_DEDUP_SQL).fetchall()
    assert sorted(map(tuple, got)) == sorted(map(tuple, oracle))


def test_value_quantile_sketch_single_bin_degenerate(spark, tmp_path):
    """The r13 exact-pick rewrite locates the k-th order statistic
    through the bin histogram; a type whose values are ALL EQUAL
    collapses to one bin (the mx == mn guard), so the in-bin sort
    degenerates to the whole type — the branch must still agree with
    the oracle's direct full-sort replay, including alongside a normal
    multi-bin type and a NULL-valued row."""
    import datetime as dt

    import duckdb

    from duckdb_webhook_gateway_spark.workloads.analytics import (
        VALUE_QUANTILE_SKETCH_SQL,
        value_quantile_sketch,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [(i, base, 1, "flat", 7.25, None) for i in range(40)]
    rows += [(100 + i, base, 1, "spread", float(i) - 3.0, None) for i in range(60)]
    rows += [(500, base, 1, "flat", None, None)]
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(d + "/events.parquet")
    got = sorted(map(tuple, value_quantile_sketch(spark, d).collect()))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{d}/events.parquet/*.parquet')"
    )
    oracle = sorted(map(tuple, con.execute(VALUE_QUANTILE_SKETCH_SQL).fetchall()))
    assert got == oracle
    flat = [r for r in got if r[0] == "flat"]
    assert len(flat) == 3 and all(r[4] == 7.25 for r in flat)
