"""File-layout tests: runtime bloom filters, file-level Bloom sidecars
and the IVF index prune scans, AQE splits skewed join partitions at
runtime, and the Z-order and bucketed layouts plan as SCALING.md says.

These pin the 100 TB scale story in SCALING.md to observable behavior
at test scale.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """A selective dim-side filter should inject a runtime bloom filter
    into the fact scan side of a shuffle join (row-level semi-join
    pushdown — at 100 TB this drops most fact rows BEFORE the shuffle
    instead of after the join)."""
    # explicitly set values only: conf.get returns a default for an
    # unset key, and setting that back would leave the key set
    explicit = spark.conf.getAll
    saved = {k: explicit.get(k) for k in _BLOOM_CONFS}
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(
            os.path.join(SF_DIR, "lineitem.parquet")
        ).select("l_orderkey", "l_quantity")
        orders = spark.read.parquet(
            os.path.join(SF_DIR, "orders.parquet")
        ).filter(F.col("o_totalprice") > 500_000)
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan or "might_contain" in plan, plan
        # and the filtered join still returns correct rows
        n_sel = orders.count()
        assert joined.count() >= n_sel
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_SKEW_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def test_aqe_splits_skewed_join_partition(spark):
    """One key holding ~75% of a fact would pin a sort-merge join to a
    single straggler task; AQE's skew-join rule must split that shuffle
    partition at runtime (the no-code-change complement to the salted
    join operator, operators/joins.py salted_join)."""
    # explicitly set values only: conf.get returns a default for an
    # unset key, and setting that back would leave the key set
    explicit = spark.conf.getAll
    saved = {k: explicit.get(k) for k in _SKEW_CONFS}
    for k, v in _SKEW_CONFS.items():
        spark.conf.set(k, v)
    try:
        fact = spark.range(0, 120_000).select(
            F.when(F.col("id") % 4 != 0, F.lit(0))
            .otherwise(F.col("id") % 97)
            .alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(0, 97).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        joined = fact.join(dim, "k")
        # collect() executes THIS DataFrame's plan (count() would wrap it
        # in a new one whose AdaptiveSparkPlan never finalizes here)
        assert len(joined.collect()) == 120_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew" in plan.lower(), plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bloom_index_point_lookup_skips_files(spark, tmp_path):
    """File-level Bloom sidecar: a point lookup on an unclustered
    high-cardinality key must (a) return exactly the full-scan result
    for present AND absent keys, and (b) prune a large fraction of
    files — the skipping zone maps cannot provide when every file's
    [min,max] overlaps."""
    from data_warehouse_co_healthy_spark.sources import bloomindex

    path = str(tmp_path / "facts")
    # hash-scattered layout: every file spans the whole key range, so
    # min/max pruning is useless by construction
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    li.repartition(16).write.parquet(path)
    n_files = bloomindex.build_bloom_index(spark, path, "l_orderkey")
    assert n_files == 16

    key = li.select("l_orderkey").first()["l_orderkey"]
    got = (
        bloomindex.read_point_lookup(spark, path, "l_orderkey", key)
        .toPandas()
        .sort_values(["l_partkey", "l_quantity"])
        .reset_index(drop=True)
    )
    want = (
        spark.read.parquet(path)
        .filter(F.col("l_orderkey") == key)
        .toPandas()
        .sort_values(["l_partkey", "l_quantity"])
        .reset_index(drop=True)
    )
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    kept, total = bloomindex.bloom_prune_files(
        spark, path, "l_orderkey", key
    )
    assert total == 16
    # one order's rows live in few files; bloom must skip most others
    assert len(kept) <= total // 2, (len(kept), total)

    # absent key: correct empty result, and (usually) zero files read
    missing = bloomindex.read_point_lookup(
        spark, path, "l_orderkey", -12345
    )
    assert missing.count() == 0


def test_bloom_index_on_partitioned_table_keeps_partition_columns(
    spark, tmp_path
):
    """Bloom-pruned reads of a HIVE-PARTITIONED table must preserve the
    partition columns in the result schema (basePath) and still equal
    the full scan."""
    from data_warehouse_co_healthy_spark.sources import bloomindex

    path = str(tmp_path / "pfacts")
    df = spark.createDataFrame(
        [(uid, uid % 3, f"v{uid}") for uid in range(60)],
        "user_id long, p int, payload string",
    )
    df.repartition(4).write.partitionBy("p").parquet(path)
    bloomindex.build_bloom_index(spark, path, "user_id")
    got = bloomindex.read_point_lookup(spark, path, "user_id", 17)
    assert "p" in got.columns
    rows = got.collect()
    assert len(rows) == 1
    assert rows[0]["p"] == 17 % 3 and rows[0]["payload"] == "v17"


def test_bloom_index_staleness_is_detected_not_silent(spark, tmp_path):
    """The sidecar keys on file names, so rewrites invalidate it. The
    probe must (a) raise a clear rebuild-me ValueError when the indexed
    file set drifts from a fresh listing — NOT a raw path-not-found
    later, and NOT a silent miss of rows that moved into unindexed
    files — and (b) raise a clear FileNotFoundError when the sidecar
    itself is gone (compaction drops sidecars). Rebuild restores
    service."""
    from data_warehouse_co_healthy_spark.sources import bloomindex, writers

    path = str(tmp_path / "stale")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(200)], "user_id long, payload string"
    )
    df.repartition(6).write.parquet(path)
    bloomindex.build_bloom_index(spark, path, "user_id")

    # in-place overwrite: new part-file names, sidecar still on disk
    df.repartition(3).write.mode("overwrite").parquet(path)
    with pytest.raises(ValueError, match="stale.*build_bloom_index"):
        bloomindex.bloom_prune_files(spark, path, "user_id", 17)
    with pytest.raises(ValueError, match="stale"):
        bloomindex.read_point_lookup(spark, path, "user_id", 17)

    # rebuild restores correct pruned lookups
    bloomindex.build_bloom_index(spark, path, "user_id")
    got = bloomindex.read_point_lookup(spark, path, "user_id", 17).collect()
    assert [(r["user_id"], r["payload"]) for r in got] == [(17, "v17")]

    # compaction drops the sidecar entirely -> clear missing-index error
    writers.compact_parquet(spark, path, 2)
    assert not os.path.exists(f"{path}__bloom_user_id")
    with pytest.raises(FileNotFoundError, match="build_bloom_index"):
        bloomindex.read_point_lookup(spark, path, "user_id", 17)
    bloomindex.build_bloom_index(spark, path, "user_id")
    kept, total = bloomindex.bloom_prune_files(spark, path, "user_id", 17)
    assert total == 2 and len(kept) >= 1


def test_ivf_index_probe_prunes_partitions_and_matches_inline(spark, tmp_path):
    """The persisted IVF index must (a) return EXACTLY what the inline
    ann_ivf_kmeans computes for the same queries (same quantizer, same
    scoring, same tie-break), and (b) prune: the probe's parquet scan
    carries the probed-cell IN-list as a partition filter, so unprobed
    cells' directories are never read."""
    from data_warehouse_co_healthy_spark.catalog import load_table
    from data_warehouse_co_healthy_spark.llm import similarity

    path = str(tmp_path / "ivf")
    similarity.ivf_index_write(spark, SF_DIR, path)

    e = load_table(spark, SF_DIR, "embeddings")
    queries = e.select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).filter(F.col("query_id") < similarity.N_QUERIES)
    got = similarity.ivf_index_probe(spark, path, queries)
    want = similarity.ann_ivf_kmeans(spark, SF_DIR)
    g = [tuple(r) for r in got.orderBy("query_id", "rk").collect()]
    w = [tuple(r) for r in want.orderBy("query_id", "rk").collect()]
    assert g == w and len(g) > 0

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan, plan[:3000]
    # the layout actually has one dir per cell, and probing reads fewer
    cell_dirs = {
        d for d in os.listdir(f"{path}/vectors") if d.startswith("cell=")
    }
    assert len(cell_dirs) > similarity.IVF_NPROBE


def test_zorder_layout_profile_bounds_both_dims(spark):
    """The in-plan layout planner must show the Morton payoff the
    file-level test above measures physically: the z-layout bounds
    BOTH dimensions' zone spans (~ domain/sqrt(files) each), while
    ingest order leaves every off-key dimension at full domain (no
    pruning). Also pins the streaming of metrics: expected_files_hit
    == n_files * avg_span_share by construction."""
    from data_warehouse_co_healthy_spark.operators.warehouse import (
        ZORDER_N_FILES,
        zorder_layout_profile,
    )

    rows = {
        (r["layout"], r["dim"]): r
        for r in zorder_layout_profile(spark, SF_DIR).collect()
    }
    assert len(rows) == 4
    for dim in ("custkey_q", "orderdate_q"):
        z, lin = rows[("zorder", dim)], rows[("linear", dim)]
        # z-order: both dims bounded well below half the domain
        assert z["avg_span_share"] <= 0.5, dim
        # ingest order: off-key dims span ~the whole domain
        assert lin["expected_files_hit"] > ZORDER_N_FILES * 0.8, dim
        # and the z layout beats it by at least 2x on EVERY dim
        assert z["expected_files_hit"] * 2 < lin["expected_files_hit"]
        assert abs(
            z["expected_files_hit"]
            - z["n_files"] * z["avg_span_share"]
        ) < 1e-4


def test_bucketed_join_revenue_plan_is_exchange_free_before_join(spark):
    """The graded sink-path query (bucketed_join_revenue) must show
    the bucketing payoff in its PLAN: both sides scan with
    Bucketed: true and the SortMergeJoin consumes them with no
    Exchange in between — the only exchange in the whole plan is the
    final small groupBy(o_orderstatus). Guards against a silent
    regression to a shuffled join (wrong bucket counts, a dropped
    hint, or a planner change)."""
    from data_warehouse_co_healthy_spark.operators.warehouse import (
        bucketed_join_revenue,
    )

    df = bucketed_join_revenue(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Bucketed: true") == 2, plan
    assert "SortMergeJoin" in plan, plan
    # exactly ONE exchange: the post-join aggregate's; none below the
    # join (the join subtree is everything after the SMJ line)
    join_subtree = plan[plan.index("SortMergeJoin"):]
    assert "Exchange" not in join_subtree, join_subtree
    assert plan.count("Exchange") == 1, plan
