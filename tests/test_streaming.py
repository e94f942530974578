"""Structured Streaming demo tests: a bounded file-source stream drained
into a memory sink must agree with the equivalent batch plan."""

from __future__ import annotations

import pandas as pd
import pytest

from data_warehouse_co_healthy_spark.catalog import load_table
from data_warehouse_co_healthy_spark.streaming import events as se
from tests.conftest import SF_DIR


# Staging is memoized, so re-deriving the DataFrame per test is cheap.
@pytest.fixture
def stream(spark):
    return se.read_events_stream(spark, SF_DIR)


def _staged_path(kind):
    """The staged dir ``staged_stream`` built for ``kind`` at SF_DIR."""
    from data_warehouse_co_healthy_spark.catalog import _MEMO

    return _MEMO[(("staged", kind), SF_DIR)][1][0]


def _drain(spark, result, name, mode="complete"):
    q = se.run_to_memory(result, name, output_mode=mode)
    try:
        return spark.sql(f"SELECT * FROM {name}").toPandas()
    finally:
        q.stop()


def test_windowed_counts_match_batch(spark, stream):
    got = (
        _drain(spark, se.windowed_counts(stream), "win_counts")
        .sort_values(["bucket", "event_type"])
        .reset_index(drop=True)
    )
    batch = load_table(spark, SF_DIR, "events")
    from pyspark.sql import functions as F

    want = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w").getField("start").alias("bucket"),
            "event_type", "n", "total_value",
        )
        .toPandas()
        .sort_values(["bucket", "event_type"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-6)


def test_dedup_within_watermark(spark, stream):
    out = _drain(
        spark, se.dedup_within_watermark(stream), "dedup_stream",
        mode="append",
    )
    n_batch = load_table(spark, SF_DIR, "events").count()
    # fixture has unique event_ids -> dedup is a no-op on counts
    assert len(out) == n_batch
    assert out.event_id.is_unique


def test_stream_static_join(spark, stream):
    from pyspark.sql import functions as F

    users = (
        load_table(spark, SF_DIR, "events")
        .select("user_id")
        .distinct()
        .withColumn(
            "segment",
            F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd"),
        )
    )
    got = (
        _drain(
            spark, se.enriched_counts(stream, users), "enriched",
        )
        .sort_values(["bucket", "segment"])
        .reset_index(drop=True)
    )
    batch = load_table(spark, SF_DIR, "events").join(users, on="user_id")
    want = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "segment")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w").getField("start").alias("bucket"), "segment", "n"
        )
        .toPandas()
        .sort_values(["bucket", "segment"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_foreach_batch_sink(spark, stream, tmp_path):
    """foreachBatch: windowed counts land in a parquet target per
    micro-batch; final content equals the batch plan (last write wins
    per key is unnecessary here — one bounded batch)."""
    from pyspark.sql import functions as F

    target = str(tmp_path / "counts_sink")
    seen_batches = []

    def sink(df, batch_id):
        seen_batches.append(batch_id)
        df.write.mode("append").parquet(target)

    q = se.run_foreach_batch(se.windowed_counts(stream), sink)
    try:
        got = (
            spark.read.parquet(target)
            .groupBy("bucket", "event_type")
            .agg(F.max("n").alias("n"))  # replays keep the latest count
            .toPandas()
            .sort_values(["bucket", "event_type"])
            .reset_index(drop=True)
        )
    finally:
        q.stop()
    assert len(seen_batches) >= 1
    batch = load_table(spark, SF_DIR, "events")
    want = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w").getField("start").alias("bucket"),
                "event_type", "n")
        .toPandas()
        .sort_values(["bucket", "event_type"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_stream_stream_join_matches_batch(spark, stream):
    from pyspark.sql import functions as F

    got = (
        _drain(
            spark, se.purchase_attribution(stream), "attrib", mode="append",
        )
        .sort_values(["event_id", "click_id"])
        .reset_index(drop=True)
    )
    ev = load_table(spark, SF_DIR, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts"), "event_id"
    )
    want = (
        purchases.join(
            clicks,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (
                F.col("click_ts")
                >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")
            ),
        )
        .select("event_id", "user_id", "purchase_ts", "click_id", "click_ts")
        .toPandas()
        .sort_values(["event_id", "click_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_multibatch_join_crosses_batches_and_matches_batch(spark):
    """The ordered multi-batch drain must (a) equal the batch join
    exactly and (b) actually exercise CROSS-batch join state on the
    fixtures — some matches must straddle a micro-batch boundary, else
    the 'cross-batch' grade is hollow. (b) pins the staging geometry:
    if the horizon or range partitioning changes so no match crosses
    files anymore, this fails loudly rather than silently downgrading
    the certified path."""
    import glob
    import os
    from functools import reduce

    from pyspark.sql import functions as F

    from data_warehouse_co_healthy_spark.operators.temporal import (
        stream_join_multibatch_drain,
    )

    got = (
        stream_join_multibatch_drain(spark, SF_DIR)
        .toPandas()
        .sort_values(["event_id", "click_id"])
        .reset_index(drop=True)
    )
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts"), "event_id"
    )
    want = (
        purchases.join(
            clicks,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (
                F.col("click_ts")
                >= F.col("purchase_ts") - F.expr("INTERVAL 24 HOURS")
            ),
        )
        .select("event_id", "user_id", "purchase_ts", "click_id", "click_ts")
        .toPandas()
        .sort_values(["event_id", "click_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    # (b): at least one match joins events from two different
    # MICRO-BATCHES — files are grouped DRAIN_FILES_PER_TRIGGER per
    # trigger (round-11 coarsening), so the straddle check groups the
    # staged files the same way the FileStreamSource does (ascending
    # mtime order, fixed group size); a file-level straddle alone
    # would not prove cross-batch join state anymore
    # key on sf_dir too: the degenerate/empty-warehouse sweeps stage
    # their own events_ordered4 dirs under other sf_dirs in the same
    # session, and picking one of those made this assert vacuous-false
    from data_warehouse_co_healthy_spark.operators.temporal import (
        DRAIN_FILES_PER_TRIGGER,
    )
    d = _staged_path("events_ordered4")
    files = sorted(glob.glob(os.path.join(d, "part-*.parquet")))
    assert len(files) == 4
    batched = reduce(
        lambda a, b: a.unionByName(b),
        [
            spark.read.parquet(f).withColumn(
                "b", F.lit(i // DRAIN_FILES_PER_TRIGGER)
            )
            for i, f in enumerate(files)
        ],
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    p = batched.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u"),
        F.col("ts").alias("pts"),
        F.col("b").alias("pb"),
    )
    c = batched.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("u"),
        F.col("ts").alias("cts"),
        F.col("b").alias("cb"),
    )
    cross = (
        p.join(c, "u")
        .filter(
            (F.col("cts") <= F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 24 HOURS"))
            & (F.col("pb") != F.col("cb"))
        )
        .count()
    )
    assert cross > 0, "no match straddles a micro-batch boundary"


def test_stream_outer_join_drain_null_emission(spark):
    """The outer drain must exercise BOTH emission paths: inner
    matches equal the batch interval join, and the null-click rows
    are non-empty but strictly fewer than the batch unmatched set —
    the watermark-delayed tail (purchases the final watermark hasn't
    passed) is withheld, which is exactly the semantics the oracle's
    min-side watermark encodes."""
    from pyspark.sql import functions as F

    from data_warehouse_co_healthy_spark.operators.temporal import (
        stream_outer_join_drain,
    )

    out = stream_outer_join_drain(spark, SF_DIR)
    n_null = out.filter("click_id IS NULL").count()
    assert n_null > 0

    ev = load_table(spark, SF_DIR, "events")
    p = ev.filter("event_type = 'purchase'").select(
        F.col("event_id").alias("pid"), F.col("ts").alias("pts"),
        F.col("user_id").alias("pu"),
    )
    c = ev.filter("event_type = 'click'").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts"),
    )
    matched = (
        p.join(
            c,
            (F.col("pu") == F.col("cu"))
            & (F.col("cts") <= F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 24 HOURS")),
        )
        .select("pid")
        .distinct()
        .count()
    )
    n_purchases = p.count()
    batch_unmatched = n_purchases - matched
    assert 0 < n_null < batch_unmatched  # delayed tail withheld


def test_stream_session_drain_exact_gap_boundary(spark, tmp_path):
    """Pins the session-merge boundary the oracle encodes: Spark's
    window-overlap test is boundary-INCLUSIVE (next.start <=
    prev.end), so two events exactly gap apart MERGE into one
    session, and one second beyond the gap they break — the > break
    convention the oracle (and the batch twin) uses. A third,
    far-future event advances the watermark so sessions emit."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_warehouse_co_healthy_spark.operators.temporal import (
        stream_session_drain,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def stage(d, gap_sec):
        rows = [
            (0, t0, 1, "view", 1.0, "{}"),
            (1, t0 + dt.timedelta(seconds=gap_sec), 1, "view", 1.0, "{}"),
            (2, t0 + dt.timedelta(days=30), 2, "view", 1.0, "{}"),
        ]
        pq.write_table(
            pa.table(
                {
                    "event_id": [r[0] for r in rows],
                    "ts": pa.array([r[1] for r in rows],
                                   type=pa.timestamp("us")),
                    "user_id": [r[2] for r in rows],
                    "event_type": [r[3] for r in rows],
                    "value": [r[4] for r in rows],
                    "props": [r[5] for r in rows],
                },
            ),
            f"{d}/events.parquet",
        )
        return str(d)

    d1 = tmp_path / "exact_gap"
    d1.mkdir()
    out = stream_session_drain(spark, stage(d1, 1800))
    u1 = out.filter("user_id = 1").collect()
    # exactly-gap: MERGE (boundary-inclusive overlap)
    assert len(u1) == 1 and u1[0].n_events == 2, [tuple(r) for r in u1]

    d2 = tmp_path / "beyond_gap"
    d2.mkdir()
    out2 = stream_session_drain(spark, stage(d2, 1801))
    u2 = out2.filter("user_id = 1").collect()
    assert len(u2) == 2, [tuple(r) for r in u2]  # past-gap: BREAK


def test_stream_late_drop_drain_drops_and_keeps(spark):
    """The watermark-discard grade must certify BOTH halves of the
    semantics: (a) drops are provably non-zero — the state store's
    numRowsDroppedByWatermark metric counts real discards of the late
    cohort, and the kept total is strictly below the table count; (b)
    keeps are non-trivial — some cohort-2 stragglers SURVIVE the
    filter (their windows were still open at the late-event
    watermark), so the filter is a boundary, not a drop-everything."""
    from pyspark.sql import functions as F

    from data_warehouse_co_healthy_spark.streaming.events import (
        read_events_stream_cohorts,
        run_to_memory,
    )

    raw = read_events_stream_cohorts(spark, SF_DIR)
    res = (
        raw.withWatermark("ts", "24 hours")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = run_to_memory(res, "late_drop_metrics", output_mode="append")
        dropped = sum(
            (p.stateOperators[0].numRowsDroppedByWatermark or 0)
            for p in q.recentProgress
            if p.stateOperators
        )
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert dropped > 0, "no late rows were discarded by the watermark"

    events = load_table(spark, SF_DIR, "events")
    n_total = events.count()
    wmf = events.filter(F.col("event_id") % 3 == 0).agg(
        F.max("ts")
    ).first()[0]
    # cohort-2 stragglers inside the last 24 h of the cohort-0
    # frontier survive the late filter — the kept-late set the drain's
    # oracle credits must be non-empty on this fixture
    kept_late = events.filter(
        (F.col("event_id") % 3 == 2)
        & (F.col("ts") >= F.lit(wmf) - F.expr("INTERVAL 24 HOURS"))
    ).count()
    assert kept_late > 0
    assert dropped + kept_late >= events.filter(
        F.col("event_id") % 3 == 2
    ).count() - kept_late  # sanity: filter split covers the cohort

    from data_warehouse_co_healthy_spark.operators.temporal import (
        stream_late_drop_drain,
    )

    emitted = stream_late_drop_drain(spark, SF_DIR)
    n_kept = emitted.agg(F.sum("n")).first()[0]
    assert 0 < n_kept < n_total


def test_stream_join_late_drop_drain_drops_matches(spark):
    """The late-data JOIN grade must certify all three halves of the
    semantics: (a) the join's per-side late-row filter genuinely drops
    input — numRowsDroppedByWatermark on the join state operator is
    non-zero; (b) MATCHES are genuinely lost — the drained set is a
    strict subset of the batch join (487 of 860 pairs lost at sf0.01,
    53 of 94 at sf0.001); (c) the filter is a boundary, not
    drop-everything — some cohort-2 rows survive and still match
    (pairs involving a cohort-2 event exist in the drained output)."""
    from pyspark.sql import functions as F

    from data_warehouse_co_healthy_spark.operators.temporal import (
        stream_join_late_drop_drain,
    )
    from data_warehouse_co_healthy_spark.streaming.events import (
        purchase_attribution,
        read_events_stream_cohorts,
        run_to_memory,
    )

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = run_to_memory(
            purchase_attribution(
                read_events_stream_cohorts(spark, SF_DIR),
                horizon_min=24 * 60,
                watermark="24 hours",
            ),
            "jld_metrics",
            output_mode="append",
        )
        dropped_inputs = sum(
            (p.stateOperators[0].numRowsDroppedByWatermark or 0)
            for p in q.recentProgress
            if p.stateOperators
        )
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert dropped_inputs > 0, (
        "join state operator dropped no late input rows"
    )

    drained = stream_join_late_drop_drain(spark, SF_DIR)
    n_drained = drained.count()

    events = load_table(spark, SF_DIR, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts"), "event_id"
    )
    batch = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 24 HOURS")
        ),
    )
    n_batch = batch.count()
    assert 0 < n_drained < n_batch, (
        f"expected a strict subset: drained={n_drained} batch={n_batch}"
    )
    # (c) survivors: some drained pair involves a cohort-2 event
    n_late_side = drained.filter(
        (F.col("event_id") % 3 == 2) | (F.col("click_id") % 3 == 2)
    ).count()
    assert n_late_side > 0, "late cohort contributed no surviving match"


def test_stream_dedup_drain_actually_drops(spark):
    """The graded dedup drain must do real work: the planted-duplicate
    staging feeds MORE rows than the original table, and the drained
    output equals the original exactly — so state-store drops, not a
    pass-through, produced the result."""
    from data_warehouse_co_healthy_spark.operators.temporal import (
        stream_dedup_drain,
    )
    from data_warehouse_co_healthy_spark.streaming.events import (
        DUP_MOD,
        read_events_stream_ordered_with_dups,
    )

    got = stream_dedup_drain(spark, SF_DIR).count()
    n_orig = load_table(spark, SF_DIR, "events").count()
    assert got == n_orig
    # the staged input really contains the duplicates
    read_events_stream_ordered_with_dups(spark, SF_DIR)
    d = _staged_path("events_ordered_dup4")
    from pyspark.sql import functions as F

    staged_rows = spark.read.parquet(d).count()
    # expected duplicate count from the table itself (not n_orig //
    # DUP_MOD, which assumes dense 0..n-1 event_ids)
    n_dups = (
        load_table(spark, SF_DIR, "events")
        .filter(F.col("event_id") % DUP_MOD == 0)
        .count()
    )
    assert staged_rows == n_orig + n_dups
    assert n_dups > 0
    assert staged_rows > got


def test_checkpoint_recovery_no_duplicates(spark, tmp_path):
    """Exactly-once across restart: a checkpointed foreachBatch stream
    stopped and restarted against the SAME checkpoint must not re-emit
    committed batches — the recovery contract a production deployment
    relies on."""
    from pyspark.sql import functions as F

    ckpt = str(tmp_path / "ckpt")
    target = str(tmp_path / "out")
    stream = se.read_events_stream(spark, SF_DIR)
    counts = se.windowed_counts(stream)

    def sink(df, batch_id):
        df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(target)

    q = (
        counts.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    first = spark.read.parquet(target).count()
    assert first > 0

    # restart from the same checkpoint: no new input -> no new output
    q2 = (
        counts.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q2.processAllAvailable()
    q2.stop()
    assert spark.read.parquet(target).count() == first


def test_stream_incremental_merge_matches_batch(spark, tmp_path):
    """Streaming→warehouse MERGE: per-user totals upserted snapshot by
    snapshot across multiple micro-batches must equal the one-shot
    batch aggregate, and must actually have merged incrementally
    (>1 snapshot version)."""
    import glob

    from pyspark.sql import functions as F

    from data_warehouse_co_healthy_spark.sources.writers import read_version

    target = str(tmp_path / "user_totals")
    stream = se.read_events_stream_parts(spark, SF_DIR)
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(se.merge_user_totals_sink(spark, target))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    n_versions = len(glob.glob(f"{target}/version=*"))
    assert n_versions > 1, "merge was not incremental"

    got = (
        read_version(spark, target)
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    want = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.sum("value").alias("total_value"),
            F.count("*").alias("n_events"),
        )
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got, want, check_exact=False, atol=1e-6, check_dtype=False
    )


def test_purchase_attribution_left_outer(spark, stream):
    """Outer stream-stream join: matched rows identical to the inner
    join; null-click rows appear only for purchases the batch twin also
    leaves unmatched (emitted once the watermark passes)."""
    from pyspark.sql import functions as F

    inner = _drain(
        spark, se.purchase_attribution(stream), "attr_in", mode="append"
    )
    outer = _drain(
        spark,
        se.purchase_attribution(stream, how="left_outer"),
        "attr_out",
        mode="append",
    )
    matched = outer[outer.click_id.notna()]
    key = ["event_id", "click_id"]
    # click_id surfaces as float64 on the outer side (NaN-able column)
    assert (
        matched[key].astype("int64").sort_values(key)
        .reset_index(drop=True)
        .equals(
            inner[key].astype("int64").sort_values(key)
            .reset_index(drop=True)
        )
    )
    nulls = outer[outer.click_id.isna()]
    assert len(nulls) > 0, "no unattributed purchases emitted"
    # batch ground truth: purchases with >= 1 qualifying click
    ev = load_table(spark, SF_DIR, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("pts")
    )
    attributed = {
        r.event_id
        for r in purch.join(
            clicks,
            (purch.user_id == clicks.cu)
            & (clicks.cts <= purch.pts)
            & (clicks.cts >= purch.pts - F.expr("INTERVAL 30 MINUTES")),
            "left_semi",
        ).collect()
    }
    assert not (set(nulls.event_id) & attributed)


def test_staged_dir_rebuilds_when_fixture_rewritten(tmp_path):
    """``catalog.memo``, which holds every staged dir, keys each value
    on its source table's fingerprint: rewriting the table at the same
    path within a process must rebuild, and the new value replaces the
    old entry. Unchanged tables keep hitting, a ``None`` value too."""
    import os

    from data_warehouse_co_healthy_spark import catalog

    src = tmp_path / "fixture.parquet"
    src.write_bytes(b"one")
    calls = []

    def build():
        calls.append(src.read_bytes())
        return None

    args = ("t", str(tmp_path), ("fixture",), build)
    try:
        assert catalog.memo(*args) is None
        assert catalog.memo(*args) is None  # hit, no rebuild
        assert calls == [b"one"]
        # rewrite the fixture at the same path -> new fingerprint
        src.write_bytes(b"two!")
        os.utime(src, ns=(1, 1))  # force an mtime change even on fast FS
        catalog.memo(*args)
        assert calls == [b"one", b"two!"]
        assert [k for k in catalog._MEMO if k[1] == str(tmp_path)] == [
            ("t", str(tmp_path))
        ]
    finally:
        catalog._MEMO.pop(("t", str(tmp_path)), None)


def test_staged_stream_cache_hit_runs_no_job(spark):
    """A staged stream that is already built opens without calling its
    split callable and without starting a Spark job."""
    from data_warehouse_co_healthy_spark.streaming.docs import staged_stream

    se.read_events_stream_ordered(spark, SF_DIR)
    tracker = spark.sparkContext.statusTracker()
    jobs = set(tracker.getJobIdsForGroup())
    calls = []

    def frames():
        calls.append(1)
        return []

    raw = staged_stream(
        spark, f"events_ordered{se.STREAM_PARTS}", SF_DIR, "events", frames
    )
    assert not calls
    assert set(tracker.getJobIdsForGroup()) == jobs
    assert dict(raw.dtypes)["ts"] == "timestamp"


def test_ohlc_stream_matches_batch_bars(spark, stream):
    """Streaming OHLC bars drained over the bounded fixture must be
    BIT-identical to the batch ohlc_daily bars (deterministic
    (ts, event_id) tiebreaks on both sides)."""
    from data_warehouse_co_healthy_spark.operators.temporal import (
        ohlc_daily,
    )

    got = (
        _drain(spark, se.ohlc_daily_stream(stream), "ohlc_stream")
        .sort_values("day")
        .reset_index(drop=True)
    )
    want = (
        ohlc_daily(spark, SF_DIR)
        .toPandas()
        .sort_values("day")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_stream_url_frontier_dedups_across_batches(spark):
    """The crawl-frontier drain must prove CROSS-BATCH canonical-key
    state: the staged stream is range-partitioned on the spelling
    variant (4 micro-batch files), every canonical resource appears in
    multiple batches under different raw spellings, and the drained
    append output is exactly the distinct resource universe — so the
    3x-plus re-arrivals were dropped by state, not by in-batch
    uniqueness."""
    import glob
    import os

    from data_warehouse_co_healthy_spark.llm.filters import (
        URL_HOSTS,
        URL_PATHS,
        _canonicalized,
        stream_url_frontier_drain,
    )

    got = stream_url_frontier_drain(spark, SF_DIR).toPandas()
    assert len(got) == URL_HOSTS * URL_PATHS
    assert got.canonical.is_unique

    d = _staged_path("url_frontier4")
    files = sorted(glob.glob(os.path.join(d, "part-*.parquet")))
    assert len(files) == 4
    n_input = 0
    per_batch = []
    for f in files:
        raw = spark.read.parquet(f)
        n_input += raw.count()
        per_batch.append(
            {
                r.canonical
                for r in _canonicalized(raw, keep=["doc_id"])
                .select("canonical")
                .distinct()
                .collect()
            }
        )
    # the frontier really re-offered known resources: total arrivals
    # far exceed the emitted universe, and later batches bring almost
    # nothing new (at the sf0.01 CI fixture: nothing new at all)
    assert n_input >= 3 * len(got)
    seen = set(per_batch[0])
    re_offered = 0
    for b in per_batch[1:]:
        re_offered += len(b & seen)
        seen |= b
    assert seen == set(got.canonical)
    # the three later batches each re-offer (nearly) the whole
    # universe — ≥ 2x the emitted set in re-arrivals overall
    assert re_offered >= 2 * len(got)


def test_stream_topk_drain_cross_batch_ranked_state(spark):
    """The tenth streaming state shape (bounded ranked state) must
    prove its podium is a CROSS-BATCH artifact: the staged stream is
    hash-partitioned on doc_id (not source), so every source's final
    top-K must draw from ≥2 micro-batch files; the final podium must
    equal the batch window top-k exactly (associative merge); and the
    update-mode sink must hold one strictly-n_seen-increasing snapshot
    per (source, batch-with-rows)."""
    import glob
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_warehouse_co_healthy_spark.llm.filters import (
        TOPK_K,
        stream_topk_drain,
    )

    got = (
        stream_topk_drain(spark, SF_DIR)
        .toPandas()
        .sort_values(["source", "rnk"])
        .reset_index(drop=True)
    )

    # final podium == batch window top-k (same tie-break)
    docs = load_table(spark, SF_DIR, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    want = (
        docs.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TOPK_K)
        .select(
            "source",
            F.col("rnk").cast("int"),
            "doc_id",
            F.col("n_chars").cast("long").alias("score"),
        )
        .toPandas()
        .sort_values(["source", "rnk"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)

    # the podium only exists in cross-batch state: every source's
    # final top-K spans ≥2 of the 4 staged files (doc_id-hash split
    # scatters each source's contenders; measured min is 2 at sf0.01)
    d = _staged_path("topk_docs4")
    files = sorted(glob.glob(os.path.join(d, "part-*.parquet")))
    assert len(files) == 4
    doc2file = {}
    for i, f in enumerate(files):
        for r in spark.read.parquet(f).select("doc_id").collect():
            doc2file[r.doc_id] = i
    spread = got.groupby("source")["doc_id"].apply(
        lambda s: len({doc2file[x] for x in s})
    )
    assert int(spread.min()) >= 2

    # update-mode snapshot ledger: one snapshot per (source, batch
    # carrying that source), n_seen strictly increasing to the
    # source's total row count
    # the drain runs in the reserved drain child session (round-11
    # conf-isolation) — the memory sink registers in ITS catalog
    from data_warehouse_co_healthy_spark.operators.temporal import (
        _drain_session,
    )

    snap = _drain_session(spark).table("stream_topk_sink").toPandas()
    totals = (
        docs.groupBy("source").count().toPandas().set_index("source")
    )["count"]
    for src, g in snap.groupby("source"):
        seens = sorted(g["n_seen"].unique())
        assert len(seens) == g.groupby("n_seen").ngroups
        assert seens == sorted(set(seens))  # strictly increasing
        assert seens[-1] == totals[src]
        # every snapshot is a valid podium: ranks 1..len contiguous
        for _, gg in g.groupby("n_seen"):
            assert sorted(gg["rnk"]) == list(range(1, len(gg) + 1))
            assert len(gg) <= TOPK_K


def test_stream_idle_flush_drain_timeout_lifecycle(spark):
    """Every emitted row of the idle-flush drain comes from the
    timed-out branch (data calls never yield), so the drain's output
    pins the full timeout lifecycle: (a) flushes happen at all, (b)
    at least one user is flushed, reappears, and is flushed AGAIN
    (state re-creation after remove), (c) at least one user's live
    state is NEVER flushed (the final watermark had not cleared it —
    no phantom flush at stream end for recently-active users), and
    (d) every flushed (n_events, last_ts) is consistent with the
    user's thinned event prefix: n_events counts a contiguous run of
    that user's events ending at last_ts."""
    from pyspark.sql import functions as F

    from data_warehouse_co_healthy_spark.operators.temporal import (
        IDLE_MS,
        stream_idle_flush_drain,
    )
    from data_warehouse_co_healthy_spark.streaming.events import THIN_MOD

    got = stream_idle_flush_drain(spark, SF_DIR).toPandas()
    assert len(got) > 0
    per_user = got.groupby("user_id").size()
    assert (per_user >= 2).any(), "no re-flush (state re-creation) case"

    thin = (
        load_table(spark, SF_DIR, "events")
        .where(F.col("event_id") % THIN_MOD == 0)
        .select("user_id", "ts")
        .toPandas()
    )
    stream_users = set(thin.user_id)
    flushed_users = set(got.user_id)
    assert flushed_users <= stream_users
    # (c): someone active near the end holds un-flushed state forever
    assert flushed_users < stream_users, "every state flushed?!"
    never = stream_users - flushed_users
    # those never flushed must be 'recently active': their final gap
    # to the stream's end is under the idle horizon + one batch span
    # (coarse bound — the exact condition is the oracle's CTE)
    end = thin.ts.max()
    for u in never:
        last = thin[thin.user_id == u].ts.max()
        assert (end - last).total_seconds() * 1000 < IDLE_MS * 2.5

    # (d): each flush's n_events equals the count of that user's
    # events in the half-open window (previous flush ts, last_ts]
    for u, g in got.groupby("user_id"):
        g = g.sort_values("last_ts")
        prev = None
        for _, row in g.iterrows():
            mine = thin[thin.user_id == u].ts
            lo = mine > prev if prev is not None else mine == mine
            run = mine[lo & (mine <= row.last_ts)]
            assert len(run) == row.n_events
            assert run.max() == row.last_ts
            prev = row.last_ts


def test_stream_chained_state_drain_dedup_feeds_agg(spark):
    """The chained-state drain must prove BOTH stores did their job:
    (a) the drained result equals the batch daily aggregate over the
    ORIGINAL events restricted to watermark-closed windows, and (b)
    the planted duplicate copies would have changed that result had
    the dedup stage leaked them into the aggregate — i.e. the grade
    is sensitive to the operator chain, not just the final agg."""
    from pyspark.sql import functions as F

    from data_warehouse_co_healthy_spark.operators.temporal import (
        stream_chained_state_drain,
    )
    from data_warehouse_co_healthy_spark.streaming.events import DUP_MOD

    got = (
        stream_chained_state_drain(spark, SF_DIR)
        .toPandas()
        .sort_values(["day", "event_type"])
        .reset_index(drop=True)
    )
    events = load_table(spark, SF_DIR, "events")
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    wm = max_ts.replace(microsecond=max_ts.microsecond // 1000 * 1000)
    wm = wm - __import__("datetime").timedelta(hours=48)

    def daily(df):
        return (
            df.groupBy(
                F.date_trunc("day", "ts").alias("day"), "event_type"
            )
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    F.round(F.col("value") * 100).cast("long")
                ).alias("cents"),
            )
            .where(
                F.col("day") + F.expr("INTERVAL 1 DAY") <= F.lit(wm)
            )
            .toPandas()
            .sort_values(["day", "event_type"])
            .reset_index(drop=True)
        )

    want = daily(events)
    pd.testing.assert_frame_equal(got, want)

    # the chain is load-bearing: replaying WITH the planted dups
    # (every DUP_MOD-th event twice) inflates closed-window counts
    dups = events.union(
        events.where(F.col("event_id") % DUP_MOD == 0)
    )
    leaked = daily(dups)
    assert (leaked.n > want.n).any()
    assert leaked.n.sum() > want.n.sum()


def test_stream_merge_snapshot_drain_version_ledger(spark):
    """The foreachBatch MERGE drain must leave a real version ledger:
    four committed snapshots (one per micro-batch), each a superset of
    the previous (users only accumulate), event counts strictly
    increasing to the table total, and the final version equal to the
    one-shot batch aggregate in exact cents."""
    from pyspark.sql import functions as F

    from data_warehouse_co_healthy_spark.operators.temporal import (
        stream_merge_snapshot_drain,
    )
    from data_warehouse_co_healthy_spark.sources import hadoopfs
    from data_warehouse_co_healthy_spark.sources.writers import read_version
    from data_warehouse_co_healthy_spark.streaming.docs import _STAGED_ALL

    got = (
        stream_merge_snapshot_drain(spark, SF_DIR)
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    target = [d for d in _STAGED_ALL if "merge_snap_" in d][-1]
    versions = hadoopfs.versions_in(spark, target)
    assert len(versions) == 4

    events = load_table(spark, SF_DIR, "events")
    total_events = events.count()
    prev_users, prev_sum = set(), 0
    for v in versions:
        snap = read_version(spark, target, v).toPandas()
        users = set(snap.user_id)
        assert prev_users <= users
        s = int(snap.n_events.sum())
        assert s > prev_sum
        prev_users, prev_sum = users, s
    assert prev_sum == total_events

    want = (
        events.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 100).cast("long"))
                / F.lit(100.0)
            ).alias("total_value"),
        )
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_stream_static_join_drain_keeps_every_event(spark):
    """The graded stream-static join's docstring claims: the inner
    join against the customer dim drops NOTHING (every user_id maps to
    an existing c_custkey) and all 5 market segments appear — pin
    both, plus the complete-mode snapshot totals."""
    from data_warehouse_co_healthy_spark.operators.temporal import (
        stream_static_join_drain,
    )

    got = stream_static_join_drain(spark, SF_DIR).toPandas()
    n_events = load_table(spark, SF_DIR, "events").count()
    assert int(got.n.sum()) == n_events
    assert got.segment.nunique() == 5
    assert got.groupby(["bucket", "segment"]).size().max() == 1
