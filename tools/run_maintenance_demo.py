"""End-to-end table-maintenance walkthrough: the lifecycle an
operations team runs against a 100 TB fact table, composed from the
engine's maintenance utilities (all storage access via the Hadoop
FileSystem API — the same code path from this local demo to HDFS/S3A).

  partitioned fact write        (write_parquet partitionBy)
    → atomic committed snapshots (write_versioned_committed + markers)
    → torn-write simulation      (read_committed never sees it;
                                  vacuum_uncommitted reclaims it)
    → small-files compaction     (compact_parquet, FS-API swap)
    → Bloom point-lookup index   (build + pruned lookup, files skipped)
    → targeted key erasure       (delete_keys_partitioned — only hit
                                  partitions rewritten)
    → retention                  (vacuum_versions keeps committed)

Usage: python tools/run_maintenance_demo.py [sf_dir] [output_dir]
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F  # noqa: E402

from data_warehouse_co_healthy_spark.catalog import load_table  # noqa: E402
from data_warehouse_co_healthy_spark.session import get_spark  # noqa: E402
from data_warehouse_co_healthy_spark.sources import (  # noqa: E402
    bloomindex,
    writers,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/maintenance_demo"
    spark = get_spark("maintenance-demo")
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(out, ignore_errors=True)

    # 1. partitioned fact
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
    )
    fact = f"{out}/fact"
    writers.write_parquet(orders, fact, partition_by=("order_month",))
    print(f"fact: {spark.read.parquet(fact).count()} rows, partitioned")

    # 2. committed snapshots + torn-write simulation
    snaps = f"{out}/snapshots"
    v1 = writers.write_versioned_committed(orders.limit(1000), snaps)
    writers.write_versioned(orders.limit(10), snaps)  # dies pre-marker
    assert writers.committed_versions(spark, snaps) == [v1]
    assert writers.read_committed(spark, snaps).count() == 1000
    orphans = writers.vacuum_uncommitted(snaps, spark=spark)
    print(f"snapshots: v{v1} committed; torn {orphans} reclaimed")

    # 3. compaction (many small files -> few)
    small = f"{out}/small"
    orders.repartition(64).write.parquet(small)
    n = writers.compact_parquet(spark, small, 4)
    print(f"compaction: 64 files -> {n}")

    # 4. Bloom point-lookup index on the unclustered key
    bloomindex.build_bloom_index(spark, small, "o_orderkey")
    key = orders.first()["o_orderkey"]
    kept, total = bloomindex.bloom_prune_files(
        spark, small, "o_orderkey", key
    )
    hit = bloomindex.read_point_lookup(
        spark, small, "o_orderkey", key
    ).count()
    assert hit >= 1
    print(f"bloom lookup: read {len(kept)}/{total} files, {hit} row(s)")

    # 5. targeted erasure: drop three customers' orders
    victims = orders.select("o_custkey").distinct().limit(3)
    n_del = writers.delete_keys_partitioned(
        spark, fact, victims, "o_custkey"
    )
    left = spark.read.parquet(fact).join(
        F.broadcast(victims), "o_custkey", "left_semi"
    ).count()
    assert left == 0
    print(f"erasure: {n_del} rows removed, 0 remain for erased keys")

    # 6. retention
    v2 = writers.write_versioned_committed(orders.limit(500), snaps)
    dropped = writers.vacuum_versions(snaps, keep_last=1, spark=spark)
    assert writers.committed_versions(spark, snaps) == [v2]
    print(f"retention: dropped {dropped}, kept v{v2}")
    print("maintenance demo OK")


if __name__ == "__main__":
    main()
