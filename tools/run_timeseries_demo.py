"""End-to-end time-series warehouse demo over the events table: the
composed dataflow an operational-analytics team runs per day, built
entirely from the registry's operators.

  raw events
    → as-of click→purchase attribution      (asof_join)
    → per-user daily gap-fill + LOCF        (gapfill_forward)
    → rolling z-score anomaly flags         (rolling_zscore_anomalies)
    → hour→day multi-resolution rollup      (rollup_multires)
    → Kaplan-Meier churn curve              (kaplan_meier_churn)
    → multi-touch channel attribution       (attribution_report)
    → Holt trended forecast + MAE           (holt_forecast)
    → daily partitioned fact + dynamic      (overwrite_partitions_dynamic)
      single-day backfill proving idempotent re-runs

Every stage is a DataFrame → DataFrame composition; stage row counts
print so the dataflow is auditable end to end.

Usage: python tools/run_timeseries_demo.py [sf_dir] [output_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F  # noqa: E402

from data_warehouse_co_healthy_spark.catalog import load_table  # noqa: E402
from data_warehouse_co_healthy_spark.operators import temporal  # noqa: E402
from data_warehouse_co_healthy_spark.operators.scalars import (  # noqa: E402
    rollup_multires,
)
from data_warehouse_co_healthy_spark.session import get_spark  # noqa: E402
from data_warehouse_co_healthy_spark.sources import writers  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = (
        sys.argv[2]
        if len(sys.argv) > 2
        else tempfile.mkdtemp(prefix="timeseries_demo_")
    )
    spark = get_spark("timeseries-demo")

    ev = load_table(spark, sf_dir, "events")
    print(f"events: {ev.count()} rows")

    attributed = temporal.asof_join(spark, sf_dir)
    n_attr = attributed.filter(F.col("click_ts").isNotNull()).count()
    print(f"as-of attribution: {attributed.count()} purchases, "
          f"{n_attr} with a preceding click")

    filled = temporal.gapfill_forward(spark, sf_dir)
    n_filled = filled.filter(~F.col("observed")).count()
    print(f"gap-fill: {filled.count()} user-days, {n_filled} filled (LOCF)")

    anomalies = temporal.rolling_zscore_anomalies(spark, sf_dir)
    print(f"anomalies: {anomalies.count()} flagged purchases")

    rollup = rollup_multires(spark, sf_dir)
    print(f"multi-resolution rollup: {rollup.count()} buckets")

    km = temporal.kaplan_meier_churn(spark, sf_dir).orderBy(
        "duration_days"
    )
    last = km.collect()[-1]
    print(
        f"survival: {km.count()} lifetime points, "
        f"S({last['duration_days']}d) = {last['survival']}"
    )

    attrib = temporal.attribution_report(spark, sf_dir)
    top = attrib.orderBy(F.col("linear_credit").desc()).first()
    print(
        f"attribution: {attrib.count()} channels, top linear credit "
        f"{top['channel']} = {top['linear_credit']}"
    )

    fc = temporal.holt_forecast(spark, sf_dir)
    mae = fc.agg(F.round(F.avg("abs_err"), 2).alias("mae")).first()["mae"]
    print(
        f"holt forecast (daily order revenue): {fc.count()} days, "
        f"one-step MAE {mae}"
    )

    hw = temporal.holt_winters_daily(spark, sf_dir)
    hw_mae = hw.agg(F.round(F.avg("abs_err"), 2).alias("m")).first()["m"]
    print(
        f"holt-winters (weekly season): {hw.count()} days, "
        f"one-step MAE {hw_mae}"
        + (" — seasonality helps" if hw_mae < mae else "")
    )

    mk = temporal.mann_kendall_trend(spark, sf_dir).first()
    print(
        f"mann-kendall: S={mk['s_stat']} over {mk['n']} months, "
        f"z={mk['z']} → {mk['trend']}"
    )

    acf = {r["lag"]: r["acf"]
           for r in temporal.acf_daily_revenue(spark, sf_dir).collect()}
    print(f"acf lags 1/7: {acf.get(1)}/{acf.get(7)}")

    dd = temporal.max_drawdown(spark, sf_dir).first()
    print(
        f"max drawdown: {dd['max_drawdown']} over {dd['n_days']} days "
        f"(peak {dd['peak_revenue']})"
    )

    bars = temporal.ohlc_daily(spark, sf_dir)
    print(f"ohlc bars: {bars.count()} days")

    lat = temporal.conversion_latency(spark, sf_dir)
    worst = lat.orderBy(F.col("median_gap_s").desc()).first()
    print(
        f"conversion latency: {lat.count()} days, slowest median "
        f"{worst['median_gap_s']}s on {worst['day']}"
    )

    # daily partitioned fact + idempotent single-day backfill
    fact = ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    path = os.path.join(out, "fact_events_daily")
    writers.write_parquet(fact, path, partition_by=("day",))
    days = sorted(
        d.split("=")[1] for d in os.listdir(path) if d.startswith("day=")
    )
    patch = fact.filter(F.col("day") == days[0])
    writers.overwrite_partitions_dynamic(patch, path)
    total = spark.read.parquet(path).count()
    assert total == fact.count(), (total, fact.count())
    print(f"daily fact: {len(days)} partitions at {path}; "
          f"day={days[0]} re-backfilled in place, {total} rows intact")


if __name__ == "__main__":
    main()
