"""End-to-end streaming demo: the events table re-staged as 4 files
arriving one per micro-batch, flowing through windowed aggregation AND
an incremental foreachBatch MERGE into versioned warehouse snapshots —
the streaming→warehouse last mile, with the final snapshot reconciled
against the batch ground truth.

Usage: python tools/run_stream_demo.py [sf_dir] [output_dir]
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
from data_warehouse_co_healthy_spark.sources.writers import (  # noqa: E402
    read_version,
)
from data_warehouse_co_healthy_spark.streaming import events as se  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/stream_demo"
    shutil.rmtree(out, ignore_errors=True)
    spark = get_spark("stream-demo")

    # 1. a stream that "arrives over time": 4 files, 1 per trigger
    stream = se.read_events_stream_parts(spark, sf_dir)

    # 2. windowed counts with watermark → memory sink (monitoring view)
    q1 = se.run_to_memory(
        se.windowed_counts(stream), "demo_win", output_mode="complete"
    )
    q1.stop()
    win = spark.sql(
        "SELECT * FROM demo_win ORDER BY bucket, event_type LIMIT 5"
    )
    print("windowed counts (first 5):")
    win.show(truncate=False)

    # 3. incremental MERGE into versioned snapshots (4 micro-batches
    #    → 4 snapshot versions, each a consistent upsert)
    stream2 = se.read_events_stream_parts(spark, sf_dir)
    target = f"{out}/user_totals"
    q2 = se.run_foreach_batch(
        stream2.select("user_id", "value"),
        se.merge_user_totals_sink(spark, target),
        output_mode="append",
    )
    q2.stop()

    # 4. reconcile the final snapshot against batch ground truth
    final = read_version(spark, target)
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum("value").alias("total_value"),
            F.count("*").alias("n_events"),
        )
    )
    diff = (
        final.alias("s")
        .join(batch.alias("b"), on="user_id", how="full_outer")
        .filter(
            (F.abs(F.col("s.total_value") - F.col("b.total_value")) > 1e-6)
            | (F.col("s.n_events") != F.col("b.n_events"))
        )
        .count()
    )
    n_users = final.count()
    print(f"final snapshot: {n_users} users, mismatches vs batch: {diff}")
    assert diff == 0, "incremental MERGE diverged from batch ground truth"
    print(f"stream demo OK -> {target}")


if __name__ == "__main__":
    main()
