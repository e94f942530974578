"""Profile one registry query: formatted physical plan + warm timing.

Usage: python tools/profile_query.py <query_name> [sf_dir] [--vanilla]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 and not sys.argv[2].startswith(
        "--"
    ) else "/root/testdata/sf0.1"
    vanilla = "--vanilla" in sys.argv

    import __spark_entry__ as entrymod

    if vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        from data_warehouse_co_healthy_spark.session import get_spark

        spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")

    fn = entrymod.queries()[name]
    df = fn(spark, sf_dir)
    print(
        df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    df.count()  # warm: JIT + codegen + cache
    t0 = time.perf_counter()
    n = fn(spark, sf_dir).count()
    print(f"\n{name} @ {sf_dir}: {n} rows in "
          f"{time.perf_counter() - t0:.2f}s (warm)")


if __name__ == "__main__":
    main()
