"""SparkSession factory.

The reference scatters four ``SparkSession.builder`` calls across modules
(reference: dimension.py:13, processing/medical_formula_process.py:11-14,
processing/payment_process.py:9-12, processing/retreat_process.py:10-13,
processing/service_process.py:11-14) with no tuning beyond ``spark.jars``.
Here: one factory, scale-aware defaults.

Scale posture (local[32] test rig, but designed for a 1000-executor
cluster):
  - AQE on (runtime partition coalescing, skew-join splitting, dynamic
    broadcast conversion) — the single most important 100 TB knob.
  - shuffle.partitions sized to cores locally; on a real cluster AQE's
    coalescing makes the initial number mostly a ceiling.
  - session timezone pinned UTC so results are reproducible and comparable
    with the DuckDB oracle (DuckDB timestamps are UTC-naive).
  - Arrow enabled for any pandas interchange (vectorized, not per-row).
  - generated-code class cache sized to the working set, so a repeated
    query runs its compiled classes instead of recompiling them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "data_warehouse_co_healthy_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession."""
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # Generated classes (whole-stage code, projections, predicates)
        # are cached by their source text, at most maxEntries (default
        # 100). A cold pass of the four CO fact stars compiles 124
        # classes and a pass of the analyst (adhoc) queries 95, so at
        # the default every warm fact-star pass recompiled 94-99 of
        # them (1.2-1.9 s of Janino time). The cache is a Guava cache
        # with concurrency level 4: it evicts per segment, each holding
        # a quarter of the cap, so a cap just above the working set
        # still thrashes; 1000 leaves room. Static conf: read once,
        # when the first session starts.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # ANSI off: the engine's semantics follow classic Spark/SQL NULL-on-
        # bad-cast behavior, matching DuckDB's permissive try-cast-less reads
        # for the oracle harness and the reference's lenient type handling.
        .config("spark.sql.ansi.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
