"""IVF storage layout: the corpus partitioned by coarse list, its
stored quantizer, and the per-list file-count bound."""

from __future__ import annotations

import os


def test_ivf_layout_prunes_partitions_and_matches_unorganized_scan(
    spark, tmp_path
):
    """The IVF storage layout (round 11): ivf_layout_write partitions
    the corpus by coarse list; ivf_pruned_topk's probe map must appear
    as a PARTITION filter on the layout scan (unprobed lists' files are
    never opened — the byte-level point of the index) and the result
    must be BIT-IDENTICAL to ivf_topk over the unorganized table (same
    probe map, same rounded cosines, same ties — the layout round-trip
    changes nothing)."""
    import pyspark.sql.functions as F

    from duckdb_webhook_gateway_spark.operators import similarity as S

    from conftest import sf_dir

    emb = spark.read.parquet(sf_dir("sf0.01") + "/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 10)
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    base = sorted(
        map(tuple, S.ivf_topk(qs, emb, nprobe=2, k=3).collect())
    )
    d = str(tmp_path / "ivf_layout")
    lists = S.ivf_layout_write(emb, d, centroids=cents)
    assert lists == list(range(16))
    pruned = S.ivf_pruned_topk(spark, d, qs, nprobe=2, k=3, centroids=cents)
    assert sorted(map(tuple, pruned.collect())) == base

    plan = pruned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "list_id" in pf[0] and "INSET" in pf[0], pf
    # with nprobe=2 over 16 lists and 10 queries, SOME list must be
    # unprobed — the filter is a real subset, not the full range
    import re

    inset = re.findall(r"INSET ([\d, ]+)", pf[0])[0]
    assert len(inset.split(",")) < 16


def test_ivf_layout_stored_quantizer_matches_explicit_centroids(
    spark, tmp_path
):
    """The layout carries its own quantizer: ivf_pruned_topk with
    centroids=None resolves the STORED quantizer and matches the
    explicit-centroids call bit-for-bit."""
    import pyspark.sql.functions as F

    from conftest import sf_dir
    from duckdb_webhook_gateway_spark.operators import similarity as S

    emb = spark.read.parquet(sf_dir("sf0.01") + "/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 400)
    qs = emb.filter(F.col("vec_id") < 10)
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    d = str(tmp_path / "ivf_layout_stored")
    S.ivf_layout_write(base, d, centroids=cents)

    explicit = sorted(
        map(
            tuple,
            S.ivf_pruned_topk(
                spark, d, qs, nprobe=2, k=3, centroids=cents
            ).collect(),
        )
    )
    stored = sorted(
        map(tuple, S.ivf_pruned_topk(spark, d, qs, nprobe=2, k=3).collect())
    )
    assert stored == explicit  # quantizer round-trip changes nothing


def test_ivf_layout_write_files_per_list_bounds_file_count(
    spark, tmp_path
):
    """The small-files control: files_per_list=F clusters the assigned
    rows before the write, so every list directory holds at most F
    parquet files no matter how many upstream tasks touched the list —
    and the clustered layout is bit-identical to the default one under
    ivf_pruned_topk (file layout is physical only)."""
    import glob as _glob

    import pyspark.sql.functions as F
    import pytest

    from conftest import sf_dir
    from duckdb_webhook_gateway_spark.operators import similarity as S

    emb = (
        spark.read.parquet(sf_dir("sf0.01") + "/embeddings.parquet")
        .filter(F.col("vec_id") < 400)
        .repartition(16)  # many upstream tasks per list on purpose
    )
    cents = (
        spark.read.parquet(sf_dir("sf0.01") + "/embeddings.parquet")
        .filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("centroid_id"), "embedding")
    )
    qs = spark.read.parquet(
        sf_dir("sf0.01") + "/embeddings.parquet"
    ).filter(F.col("vec_id") < 5)

    d_default = str(tmp_path / "ivf_many_files")
    d_bounded = str(tmp_path / "ivf_bounded_files")
    S.ivf_layout_write(emb, d_default, centroids=cents)
    S.ivf_layout_write(emb, d_bounded, centroids=cents, files_per_list=2)

    def files_per_dir(root):
        out = {}
        for lst in _glob.glob(os.path.join(root, "list_id=*")):
            out[os.path.basename(lst)] = len(
                _glob.glob(os.path.join(lst, "*.parquet"))
            )
        return out

    bounded = files_per_dir(d_bounded)
    assert bounded and all(n <= 2 for n in bounded.values()), bounded
    # the 16-task default layout shows the problem the option solves
    assert any(n > 2 for n in files_per_dir(d_default).values())

    a = sorted(map(tuple, S.ivf_pruned_topk(
        spark, d_default, qs, nprobe=2, k=3, centroids=cents
    ).collect()))
    b = sorted(map(tuple, S.ivf_pruned_topk(
        spark, d_bounded, qs, nprobe=2, k=3, centroids=cents
    ).collect()))
    assert a == b

    with pytest.raises(ValueError, match="files_per_list"):
        S.ivf_layout_write(
            emb, str(tmp_path / "bad"), centroids=cents, files_per_list=0
        )


def test_ivf_layout_write_empty_corpus_returns_no_lists(spark, tmp_path):
    """An empty corpus writes an empty layout (only _SUCCESS and the
    stored quantizer) — the list-id read-back must return [] instead of
    failing schema inference (r12 review finding: the reader-based
    distinct() crashed here; the Hadoop-FS directory listing does not)."""
    import pyspark.sql.functions as F

    from conftest import sf_dir
    from duckdb_webhook_gateway_spark.operators import similarity as S

    emb = spark.read.parquet(sf_dir("sf0.001") + "/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    d = str(tmp_path / "ivf_empty")
    present = S.ivf_layout_write(
        emb.filter(F.col("vec_id") < 0), d, centroids=cents
    )
    assert present == []
    # the quantizer is still stored with the empty layout
    assert spark.read.parquet(d + "/_quantizer").count() == 4
