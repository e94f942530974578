"""Temporal join operators Spark lacks natively: as-of join and range
join (engine-added capability — the reference has no temporal joins at
all, SURVEY §2.4 "no theta/range/as-of joins exist").

Both are implemented as compositions of existing DataFrame ops (the
SURVEY §7 "custom operators" ladder, rung (a)) — NOT as inequality
joins, which Catalyst executes as broadcast-nested-loop: O(n*m)
comparisons and a full broadcast of one side, unusable at 100 TB.

  - as-of: union-merge + last_value window. ONE shuffle on the
    partition key; state per row is O(1). This is how streaming
    systems (and kdb/QuestDB-style engines) do it.
  - range: equi-join on a coarse time bucket sized to the range
    width (each left row probes its own and the next bucket), exact
    predicate applied after. Candidate volume is bounded by bucket
    occupancy, never |L|x|R|.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions.numeric import nz, snap_round

RANGE_WINDOW_SEC = 300  # range-join window: 5 minutes


def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase, the most recent click at-or-before it by the
    same user (classic attribution as-of join), NULL if none.

    Union-merge: tag both streams, sort within user by (ts, tag) —
    clicks first on ties, matching ASOF's >= semantics — and carry the
    last non-null click timestamp forward with an ignore-nulls
    last_value window. Equivalent to DuckDB's native ASOF LEFT JOIN
    (the oracle)."""
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        # clicks sort before purchases at the same ts => ts >= click_ts
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("tag"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("c_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("click_ts", F.last("c_ts", ignorenulls=True).over(w))
        .filter(F.col("tag") == 1)
        .select(
            "event_id",
            "user_id",
            "ts",
            "click_ts",
            (
                F.unix_timestamp("ts") - F.unix_timestamp("click_ts")
            ).alias("gap_sec"),
        )
    )


def range_join_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Follow-on activity per signup: how many events the same user
    produced within (signup_ts, signup_ts + 5 min], zero-preserved.

    Scale shape: both sides get a bucket key floor(epoch / W); a 5-min
    window can only span a signup's own bucket and the next one, so the
    signup side is exploded to exactly 2 bucket probes and joined
    EQUI on (user_id, bucket) before the exact range filter — the
    standard bucketized range join (same trick as Spark's own range
    join optimization in Databricks runtime / Flink interval joins)."""
    ev = load_table(spark, sf_dir, "events")
    bucket = (F.unix_timestamp("ts") / RANGE_WINDOW_SEC).cast("long")
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id").alias("s_user"),
            F.col("ts").alias("signup_ts"),
            bucket.alias("b0"),
        )
        .withColumn("bucket", F.explode(F.array("b0", F.col("b0") + 1)))
    )
    others = ev.select(
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
        bucket.alias("bucket"),
    )
    # conditional count, NOT a pre-group filter: a signup whose bucket
    # probes matched only out-of-range events must still appear with 0.
    in_range = (
        F.col("e_ts").isNotNull()
        & (F.col("e_ts") > F.col("signup_ts"))
        & (
            F.col("e_ts")
            <= F.col("signup_ts") + F.expr(f"INTERVAL {RANGE_WINDOW_SEC} SECOND")
        )
    )
    hits = signups.join(
        others,
        (signups.s_user == others.e_user) & (signups.bucket == others.bucket),
        "left",
    )
    return (
        hits.groupBy("signup_id", "s_user", "signup_ts")
        .agg(
            F.sum(F.when(in_range, 1).otherwise(0)).cast("long").alias(
                "n_follow"
            )
        )
        .select(
            "signup_id",
            F.col("s_user").alias("user_id"),
            F.col("signup_ts"),
            "n_follow",
        )
    )


SESSION_GAP_SEC = 1800  # 30-minute inactivity gap


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization via gaps-and-islands: a session breaks when
    the gap since the previous event exceeds SESSION_GAP_SEC; session
    id = running count of breaks (lag + cumulative sum — two window
    passes over ONE user_id shuffle). Deterministic and
    oracle-checked."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wc = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
            > SESSION_GAP_SEC,
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    return (
        marked.withColumn("session_id", F.sum("brk").over(wc).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
    )


def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: per user, the
    earliest time of each stage as parallel conditional mins of ONE
    groupBy, a stage counted only if it happens AFTER the previous
    stage's first occurrence; one summary row."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_view"
        ),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "t_click"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_buy"
        ),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & F.col("t_click").isNotNull() & (
        F.col("t_click") > F.col("t_view")
    )
    bought = clicked & F.col("t_buy").isNotNull() & (
        F.col("t_buy") > F.col("t_click")
    )
    return per_user.agg(
        F.sum(viewed.cast("int")).alias("n_viewed"),
        F.sum(clicked.cast("int")).alias("n_clicked_after_view"),
        F.sum(bought.cast("int")).alias("n_purchased_after_click"),
    )


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week,
    counted in each subsequent week they return. Two aggregations
    (first-touch per user; distinct user-week activity) joined on
    user_id — both shuffle on user_id so the join is co-partitioned."""
    ev = load_table(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts"))
    cohort = ev.groupBy("user_id").agg(
        F.min(week).alias("cohort_week")
    )
    activity = ev.select("user_id", week.alias("act_week")).dropDuplicates()
    return (
        activity.join(cohort, on="user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(F.col("act_week"), F.col("cohort_week")) / 7
            )
            .cast("long")
            .alias("weeks_since"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


def _daily_purchase_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, day) exact-decimal purchase totals — the shared input
    of both gap-fill variants, CACHED once: each variant derives the
    dense grid from this frame AND left-joins observations back onto
    it, and Spark shares no unaliased subplans, so without the persist
    the events scan + day-grain aggregate (the only data-sized work)
    would execute twice per query.

    persist(), NOT localCheckpoint: this frame is DATA-sized (user-day
    grain), so lineage must survive executor loss for recomputation at
    scale, and the InMemoryRelation keeps the upstream plan visible to
    the shuffle audit and the plan-lint gate (a checkpoint's LogicalRDD
    would hide it from both)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            # exact-decimal sum (functions/numeric.py posture)
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("day_value")
        )
        .persist()
    )


def _user_day_grid(daily: DataFrame) -> DataFrame:
    """Dense daily grid spanning each user's [first, last] observed
    day — grid size = span days, never a cross join."""
    return (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(F.sequence("d0", "d1")).alias("day"),
        )
    )


def _daily_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-grain exact-decimal order revenue — the shared series input
    of cusum_changepoints and holt_forecast; persisted (lazy, lineage
    kept, plan stays audit-visible) because cusum consumes it twice
    (baseline stats + the Arrow recursion); holt's single consumption
    costs one in-memory write, nothing more."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("rev")
        )
        .persist()
    )


def gapfill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill + forward fill (timescale-style ``time_bucket_gapfill``
    + ``locf``): daily purchase totals per user on a DENSE daily grid —
    missing days materialized from each user's [first, last] purchase-day
    span, then carried forward with the most recent observed total.

    Engine-added capability (the reference has no time-series surface).
    Plan shape: one groupBy (user, day) partial-aggregated at the scan
    and CACHED (``_daily_purchase_values`` — the grid derivation and
    the observation join both consume it), one per-user
    sequence+explode for the grid (grid size = span days, never a
    cross join), one window for the fill. The grid explode is the only
    row amplification and is bounded by calendar span, not by event
    volume.
    """
    daily = _daily_purchase_values(spark, sf_dir)
    grid = _user_day_grid(daily)
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(daily, on=["user_id", "day"], how="left")
        .select(
            "user_id",
            # string day key, house style (see functions/dates.py): keeps
            # the oracle comparison free of date-vs-datetime dtype drift
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("day_value").isNotNull().alias("observed"),
            F.last("day_value", ignorenulls=True).over(w).alias("filled_value"),
        )
    )


ZS_WINDOW = 20   # trailing observations per anomaly baseline
ZS_MIN_N = 5     # minimum history before scoring
ZS_THRESH = 2.5  # |z| flag threshold


def rolling_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style anomaly detection in batch: each purchase is
    scored against the TRAILING ZS_WINDOW purchases of the same user
    (frame ends at -1: the current row never contaminates its own
    baseline); |z| > ZS_THRESH with at least ZS_MIN_N history flags.

    One window over the user_id shuffle — identical partitioning to
    every other per-user operator here, so at 100 TB the scoring rides
    an existing exchange. The streaming twin is
    ``applyInPandasWithState`` with a bounded deque per user.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-ZS_WINDOW, -1)
    )
    scored = ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sd"),
        F.count("value").over(w).alias("n_hist"),
    )
    return (
        scored.filter(
            (F.col("n_hist") >= ZS_MIN_N)
            & (F.col("sd") > 0)
            & (
                F.abs((F.col("value") - F.col("mu")) / F.col("sd"))
                > ZS_THRESH
            )
        )
        .select(
            "event_id",
            "user_id",
            "ts",
            "value",
            F.round((F.col("value") - F.col("mu")) / F.col("sd"), 4).alias(
                "zscore"
            ),
        )
    )


INCIDENT_PAD_SEC = 300   # incident window: error ts ± 5 minutes
OVERLAP_BUCKET_SEC = 600 # coarse bucket for the interval-overlap join


def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval OVERLAP join — sessions that overlap an
    incident window (error ts ± INCIDENT_PAD_SEC) for the same user,
    with the overlap duration. Distinct from the point-in-window range
    join: BOTH sides are intervals.

    Plan: both interval sets explode onto the coarse time buckets they
    span, equi-join on (user_id, bucket), exact overlap predicate
    after, dropDuplicates to undo double-counting of pairs that share
    several buckets. Candidate volume is bounded by per-bucket
    occupancy — never |L|×|R| — and amplification is span/bucket_width
    per interval (pick the bucket near the median interval length; a
    nested-loop inequality join is the plan Catalyst would otherwise
    choose, unusable at scale).
    """
    sessions = sessionize_events(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("incident_id"),
        (F.col("ts") - F.expr(f"INTERVAL {INCIDENT_PAD_SEC} SECOND")).alias(
            "i_start"
        ),
        (F.col("ts") + F.expr(f"INTERVAL {INCIDENT_PAD_SEC} SECOND")).alias(
            "i_end"
        ),
    )
    W = OVERLAP_BUCKET_SEC

    def spans(df, lo, hi):
        return df.withColumn(
            "b",
            F.explode(
                F.sequence(
                    F.floor(F.unix_timestamp(lo) / W).cast("long"),
                    F.floor(F.unix_timestamp(hi) / W).cast("long"),
                )
            ),
        )

    sb = spans(sessions, "session_start", "session_end")
    ib = spans(errors, "i_start", "i_end")
    return (
        sb.join(ib, on=["user_id", "b"])
        .filter(
            (F.col("session_start") <= F.col("i_end"))
            & (F.col("i_start") <= F.col("session_end"))
        )
        .select(
            "user_id",
            "session_id",
            "incident_id",
            (
                F.unix_timestamp(F.least("session_end", "i_end"))
                - F.unix_timestamp(F.greatest("session_start", "i_start"))
            ).alias("overlap_sec"),
        )
        .dropDuplicates(["user_id", "session_id", "incident_id"])
    )


WAU_WINDOW_DAYS = 7  # trailing window for rolling distinct actives


def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling distinct actives (the DAU/WAU metric): for every day, the
    count of DISTINCT users active in the trailing WAU_WINDOW_DAYS days.

    Distinct-over-sliding-window has no direct window-function form, so
    the scalable rewrite is: distinct (user, day) pairs → explode each
    onto the WAU_WINDOW_DAYS report days it contributes to → exact
    count-distinct per report day. Amplification is exactly the window
    length (7×) on the deduped activity table — not on raw events — and
    everything is partial-agg'd hash aggregation; no global sort, no
    per-day self-joins. Report days are clipped to the observed range
    so leading days reflect partial windows honestly.
    """
    ev = load_table(spark, sf_dir, "events")
    activity = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).dropDuplicates()
    span = activity.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    contrib = (
        activity.crossJoin(F.broadcast(span))
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.greatest("day", "d0"),
                    F.least(
                        F.date_add("day", WAU_WINDOW_DAYS - 1), F.col("d1")
                    ),
                )
            ).alias("report_day"),
        )
    )
    return (
        contrib.groupBy("report_day")
        .agg(F.countDistinct("user_id").alias("active_users"))
        .select(
            F.date_format("report_day", "yyyy-MM-dd").alias("report_day"),
            "active_users",
        )
    )


def rolling_active_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable-sketch twin of ``rolling_active_users``: ONE
    HyperLogLog sketch per (user-activity) day, then each report day
    unions its trailing WAU_WINDOW_DAYS sketches — the raw activity
    table is scanned ONCE regardless of window length, and the window
    union runs over day-cardinality sketch rows (a few KB each).

    This is the 100 TB path: the exact variant re-explodes activity by
    the window length, the sketch variant re-aggregates only sketches
    (daily sketches are also exactly what an incremental job persists —
    yesterday's sketches never recompute). Estimates carry HLL error
    (~2% at lgK=12); the error bound vs the exact twin is test-pinned.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("user_id", F.to_date("ts").alias("day"))
        .groupBy("day")
        .agg(F.expr("hll_sketch_agg(user_id, 12)").alias("sk"))
    )
    span = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    contrib = daily.crossJoin(F.broadcast(span)).select(
        "sk",
        F.explode(
            F.sequence(
                F.greatest("day", "d0"),
                F.least(F.date_add("day", WAU_WINDOW_DAYS - 1), F.col("d1")),
            )
        ).alias("report_day"),
    )
    return (
        contrib.groupBy("report_day")
        .agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))")
            .cast("long")
            .alias("active_users_est")
        )
        .select(
            F.date_format("report_day", "yyyy-MM-dd").alias("report_day"),
            "active_users_est",
        )
    )


FORECAST_LAG_DAYS = 7  # seasonal-naive horizon: same weekday last week


def seasonal_naive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting baseline + backtest in one query: the seasonal-naive
    forecast (predict each day = the value FORECAST_LAG_DAYS days
    earlier on the gap-filled series) scored per user with MAE and
    bias. Every serious forecast ships only if it beats this baseline,
    so the engine provides the baseline and its evaluation as a
    first-class operator.

    Composes ``gapfill_forward`` (dense LOCF series) with one lag
    window over the same user_id partitioning — zero additional
    shuffles beyond the gap-fill itself.
    """
    filled = gapfill_forward(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("day")
    scored = filled.select(
        "user_id",
        "day",
        "filled_value",
        F.lag("filled_value", FORECAST_LAG_DAYS).over(w).alias("forecast"),
    ).filter(F.col("forecast").isNotNull())
    # exact-decimal accumulation: per-row errors are exact 4-decimal
    # values, so decimal sums make mae/bias order-independent
    abs_err = F.abs(F.col("filled_value") - F.col("forecast")).cast(
        "decimal(18,6)"
    )
    err = (F.col("filled_value") - F.col("forecast")).cast(
        "decimal(18,6)"
    )
    n = F.count(F.lit(1))
    # snap_round: the exact sums make both engines' mae/bias the
    # IDENTICAL double, but round(DOUBLE, 4) itself diverges near
    # .00005 boundaries (one sf0.1 row hit 2.22875 exactly)
    return scored.groupBy("user_id").agg(
        F.count("*").alias("n_scored"),
        snap_round(F.sum(abs_err).cast("double") / n, 4).alias("mae"),
        snap_round(F.sum(err).cast("double") / n, 4).alias("bias"),
    )


TREND_HALF_WIN = 12  # centered moving-average half-width (rows/hours)


def seasonal_decompose_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the hourly event
    series, per event type: trend (centered 25-hour moving average),
    seasonal (mean detrended value per hour-of-day), residual (what
    anomaly detection should actually look at — ``rolling_zscore``
    over raw values flags every rush hour; over residuals it flags
    genuine surprises).

    All window arithmetic, grouped by event_type: one shuffle to the
    hourly grain, one ordered window per type for the moving average
    (a type's series is time-range-sized, never corpus-sized), one
    hour-of-day partition for the seasonal means. Deterministic —
    buckets are unique within a type, so the frame contents are exact.
    Row-frame MA assumes a dense series; compose with the gap-fill
    operator first when hours can be missing."""
    ev = load_table(spark, sf_dir, "events")
    series = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(F.count("*").cast("long").alias("n"))
    wma = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(-TREND_HALF_WIN, TREND_HALF_WIN)
    )
    t = series.withColumn("trend", F.avg("n").over(wma))
    ws = Window.partitionBy("event_type", F.hour("bucket"))
    # seasonal mean over exact-decimal sums: avg of the detrended
    # DOUBLES is summation-order-dependent (Spark window agg vs
    # DuckDB's scan order drifted ulps and flipped round(·,4) on 8
    # rows at sf0.1); the snapped decimal sum is exact, so seasonal is
    # the identical double on both engines. DECIMAL(28,12) leaves 16
    # integer digits for the residual (an hourly count deviation —
    # 18,12's 6 digits would ANSI-overflow past ~10^6 events/hour at
    # large SF); the window sum widens to 38 within DECIMAL range.
    x = (F.col("n") - F.col("trend")).cast("decimal(28,12)")
    s = t.withColumn(
        "seasonal",
        F.sum(x).over(ws).cast("double")
        / F.count(F.lit(1)).over(ws),
    )

    return s.select(
        "event_type",
        "bucket",
        "n",
        snap_round(F.col("trend"), 4).alias("trend"),
        snap_round(F.col("seasonal"), 4).alias("seasonal"),
        snap_round(
            F.col("n") - F.col("trend") - F.col("seasonal"), 4
        ).alias("resid"),
    )


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral transition matrix: counts and row-
    normalized probabilities of consecutive event-type transitions per
    user stream (lag over the user window) — the Markov-chain view of
    user behavior behind churn signals and anomaly baselines.

    One lag window on the standard user_id shuffle, one
    type-pair-cardinality aggregate, one broadcast of per-source totals
    for the row normalization."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return (
        pairs.join(F.broadcast(totals), on="from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n") / F.col("n_from"), 6).alias("p"),
        )
    )


CUSUM_K = 0.5  # slack (standard deviations) absorbed before drift counts
CUSUM_H = 4.0  # alarm threshold (standard deviations of drift)


def stl_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal and trend STRENGTH (Hyndman & Athanasopoulos, FPP) of
    the hourly decomposition: F_s = max(0, 1 − var(R)/var(S+R)),
    F_t = max(0, 1 − var(R)/var(T+R)) — the two numbers that say
    whether ``seasonal_decompose_hourly``'s components actually matter
    (F_s ≈ 0: don't bother with a seasonal model; F_t ≈ 1: difference
    before correlating). Composes the decomposition (its oracle is the
    CTE here), then one event-type-grain variance aggregate over the
    bounded hourly frame; degenerate variances are filtered before the
    division (ANSI posture)."""
    dec = seasonal_decompose_hourly(spark, sf_dir)
    st = dec.filter(F.col("resid").isNotNull()).groupBy(
        "event_type"
    ).agg(
        F.count("*").alias("n_buckets"),
        F.var_samp("resid").alias("vr"),
        F.var_samp(F.col("seasonal") + F.col("resid")).alias("vsr"),
        F.var_samp(F.col("trend") + F.col("resid")).alias("vtr"),
    )
    return st.filter((F.col("vsr") > 0) & (F.col("vtr") > 0)).select(
        "event_type",
        "n_buckets",
        F.round(
            F.greatest(F.lit(0.0), 1.0 - F.col("vr") / F.col("vsr")), 4
        ).alias("seasonal_strength"),
        F.round(
            F.greatest(F.lit(0.0), 1.0 - F.col("vr") / F.col("vtr")), 4
        ).alias("trend_strength"),
    )


def new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users decomposed into NEW (first-ever day) vs
    RETURNING — the growth-accounting view (is DAU growth acquisition
    or retention?) that sits beside ``retention_cohorts``. One distinct
    to (user, day) grain, one user-grain min, one join back on the same
    user key, one day-grain aggregate — every stage rides the user/day
    exchanges."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct().persist()  # feeds the first-day agg AND the join back
    first = days.groupBy("user_id").agg(F.min("day").alias("first_day"))
    is_new = F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
    return (
        days.join(first, "user_id")
        .groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(
            F.sum(is_new).cast("long").alias("n_new"),
            F.sum(1 - is_new).cast("long").alias("n_returning"),
        )
        .withColumn(
            "new_share",
            F.round(
                F.col("n_new").cast("double")
                / (F.col("n_new") + F.col("n_returning")),
                6,
            ),
        )
    )


def cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection (Page 1954) on the daily-revenue
    series: two one-sided cumulative sums of standardized deviations —
    s⁺ₜ = max(0, s⁺ₜ₋₁ + zₜ − k), s⁻ₜ = max(0, s⁻ₜ₋₁ − zₜ − k) — with an
    alarm when either exceeds h. The standard sequential drift detector
    for level shifts that per-point z-scores miss.

    Scale shape: the DATA-sized work is the day-grain revenue aggregate
    (one shuffle, exact-decimal sums) and a 1-row mean/std aggregate
    over the ~2500-day series; the inherently sequential recursion then
    runs on that fixed-size, sf-INDEPENDENT series inside one Arrow
    applyInPandas task (series grain — the same pre-aggregate-then-
    recurse posture ewma_smoother documents). Standardization uses
    double arithmetic over exact decimal sums with the identical
    expression tree as the oracle's recursive CTE, so the recursion is
    bit-deterministic across engines."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    daily = _daily_order_revenue(spark, sf_dir)
    stats = daily.agg(
        F.count("*").alias("n"),
        F.sum(F.col("rev").cast("decimal(24,6)")).cast("double").alias("sx"),
        F.sum(
            F.col("rev").cast("decimal(24,6)")
            * F.col("rev").cast("decimal(24,6)")
        )
        .cast("double")
        .alias("sxx"),
    )
    seeded = daily.crossJoin(F.broadcast(stats)).withColumn(
        "g", F.lit(1)
    )

    cols = ["day", "rev", "cusum_pos", "cusum_neg", "alarm"]

    def cusum(_key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        n = float(pdf.loc[0, "n"])
        sx = float(pdf.loc[0, "sx"])
        sxx = float(pdf.loc[0, "sxx"])
        if n < 2.0:
            # a 1-day series has no (n−1) variance — nothing to detect
            return pd.DataFrame(columns=cols)
        mean = sx / n
        std = np.sqrt((sxx - sx * sx / n) / (n - 1.0))
        if not std > 0.0:  # constant series (std==0/NaN): z undefined
            return pd.DataFrame(columns=cols)
        sp, sn = 0.0, 0.0
        rows = []
        for day, rev in zip(pdf["day"], pdf["rev"]):
            z = (rev - mean) / std
            sp = max(0.0, sp + z - CUSUM_K)
            sn = max(0.0, sn - z - CUSUM_K)
            # raw doubles on purpose: the recursion is the identical
            # IEEE op sequence on both engines, so the outputs are
            # bit-equal — rounding would only add a half-even-vs-
            # half-away cross-engine trap
            rows.append(
                (str(day), rev, sp, sn, sp > CUSUM_H or sn > CUSUM_H)
            )
        return pd.DataFrame(rows, columns=cols)

    return seeded.groupBy("g").applyInPandas(
        cusum,
        schema="day string, rev double, cusum_pos double, "
        "cusum_neg double, alarm boolean",
    )


PATH_LEN = 3    # steps per mined path
PATH_TOPK = 20  # reported paths


def top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path mining: the PATH_TOPK most frequent
    PATH_LEN-step event-type sequences across all user streams — the
    higher-order companion to event_transition_matrix's 1st-order
    Markov view (which paths actually happen, not just which hops).

    One lead() window on the standard user_id shuffle builds each
    position's forward path in place (no self-joins, no
    sequence explode), one path-cardinality aggregate (bounded by
    |event_types|^PATH_LEN, map-side combined), and an output-sized
    global top-k (TakeOrderedAndProject, no full sort). Ties broken
    by path text for determinism."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = [F.col("event_type")] + [
        F.lead("event_type", i).over(w) for i in range(1, PATH_LEN)
    ]
    # F.concat, NOT concat_ws: concat_ws SKIPS null steps, silently
    # shortening a path containing a null event_type into a bogus
    # (PATH_LEN-1)-step string; concat propagates the NULL like the
    # oracle's || chain, so such windows group under the NULL path
    parts: list = []
    for i, s in enumerate(steps):
        if i:
            parts.append(F.lit(" > "))
        parts.append(s)
    return (
        ev.select(
            F.concat(*parts).alias("path"),
            steps[-1].isNotNull().alias("complete"),
        )
        .filter("complete")
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        # NULLS LAST pinned on BOTH engines: Spark sorts NULL first
        # ascending, DuckDB last — an unpinned NULL path group tying at
        # the top-k cut line would diverge
        .orderBy(F.desc("n"), F.asc_nulls_last("path"))
        .limit(PATH_TOPK)
    )


EWMA_ALPHA = 0.3  # decay: weight halves roughly every 2 steps
EWMA_LAGS = 8     # truncated memory; dropped tail mass = (1-a)^8 ~ 5.8%

# Normalized truncated-EWMA weights, computed ONCE in Python and
# embedded as the same double literals in BOTH engines (repr round-trips
# exactly), so the weighted sum is the identical IEEE expression tree on
# both sides — no pow()-implementation or summation-order divergence.
_EWMA_W = [EWMA_ALPHA * (1 - EWMA_ALPHA) ** j for j in range(EWMA_LAGS)]
EWMA_WEIGHTS = [w / sum(_EWMA_W) for w in _EWMA_W]


def ewma_smoother(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per user: each event value
    smoothed against its trailing EWMA_LAGS values (itself included)
    with normalized weights a·(1-a)^j — the standard noise-robust
    trend signal (pandas ``ewm`` semantics over a length-L memory).

    Truncation is the scale design, not a shortcut: the recursive EWMA
    needs either a sequential scan per key or an unbounded frame, while
    the L-term form is L ``lag()`` reads over ONE window — bounded
    state, pure codegen, and the same user_id shuffle every other
    per-user operator here rides. Rows with fewer than L predecessors
    are excluded (the estimate is defined over a full window).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ewma = F.lag("value", 0).over(w) * F.lit(EWMA_WEIGHTS[0])
    for j in range(1, EWMA_LAGS):
        ewma = ewma + F.lag("value", j).over(w) * F.lit(EWMA_WEIGHTS[j])
    return (
        ev.select(
            "event_id",
            "user_id",
            "ts",
            "value",
            F.row_number().over(w).alias("rn"),
            ewma.alias("raw"),
        )
        .filter(F.col("rn") >= EWMA_LAGS)
        .select(
            "event_id",
            "user_id",
            "ts",
            "value",
            F.round("raw", 4).alias("ewma"),
        )
    )


def gapfill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap fill — the companion to
    ``gapfill_forward`` for quantities that drift between observations
    (sensor readings, balances) where carrying the last value forward
    biases low/high: each missing day on the dense grid gets
    prev + (next − prev) · elapsed/gap, from the nearest observed
    values on each side.

    Same plan skeleton as gapfill_forward (one (user, day) aggregate,
    one span-bounded grid explode, windows on the shared user_id
    shuffle) plus a mirror-image backward window for the next observed
    value — still zero joins beyond the grid's. Grid endpoints are
    observed by construction, so every gap is interior and the
    interpolation denominators are never zero."""
    daily = _daily_purchase_values(spark, sf_dir)
    grid = _user_day_grid(daily)
    wp = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("day_value").isNotNull(), F.col("day"))
    j = grid.join(daily, on=["user_id", "day"], how="left").select(
        "user_id",
        "day",
        "day_value",
        F.last("day_value", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(wp).alias("pd"),
        F.first("day_value", ignorenulls=True).over(wn).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(wn).alias("nd"),
    )
    frac = F.datediff("day", "pd").cast("double") / F.datediff(
        "nd", "pd"
    ).cast("double")
    interp = F.when(F.col("day_value").isNotNull(), F.col("day_value")).otherwise(
        F.col("pv") + (F.col("nv") - F.col("pv")) * frac
    )
    # snap_round: one sf0.01 row flipped 5.2162/5.2163 under plain
    # round(DOUBLE, 4) (engine-dependent near .00005 boundaries)
    return j.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("day_value").isNotNull().alias("observed"),
        snap_round(interp, 4).alias("interp_value"),
    )


# Theil-Sen estimator: month-grain series keeps the pairwise-slope
# frame at calendar² size (~80 months → ~3k pairs), independent of
# fact volume; the data-sized work is the one month-grain aggregate.
TS_ROUND = 4


def theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend: the MEDIAN of all pairwise slopes of
    monthly revenue — the outlier-proof alternative to OLS
    (``revenue_trend_ols``) that one promo-spike month cannot bend
    (breakdown point ≈ 29 %).

    Scale shape: orders aggregate once to month grain (exact-decimal
    sums, map-side combined); everything after runs on the
    sf-INDEPENDENT ~80-row series — the inequality self-join
    (calendar² ≈ 3k pairs) and the order-statistic median (two middle
    ranks via one single-partition window over the pair frame) are
    both lint-allowlisted as calendar-sized, never data-sized. The
    median is avg of the two middle order statistics (exact same
    construction in the oracle — no engine median() semantics in
    play)."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        (F.year(F.col("o_orderdate").cast("date")) * 12
         + F.month(F.col("o_orderdate").cast("date"))).alias("mi")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("rev")
    # ~80-row materialization: Spark shares no unaliased subplans, so
    # without this the self-join below would re-run the orders scan +
    # month aggregate (the only data-sized work) once per side
    ).localCheckpoint()
    a = monthly.select(F.col("mi").alias("mi_a"), F.col("rev").alias("rev_a"))
    b = monthly.select(F.col("mi").alias("mi_b"), F.col("rev").alias("rev_b"))
    pairs = a.join(b, F.col("mi_a") < F.col("mi_b")).select(
        (
            (F.col("rev_b") - F.col("rev_a"))
            / (F.col("mi_b") - F.col("mi_a")).cast("double")
        ).alias("slope")
    )
    ranked = pairs.select(
        "slope",
        F.row_number().over(Window.orderBy("slope")).alias("rk"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    mid = ranked.filter(
        (F.col("rk") == F.expr("(n + 1) div 2"))
        | (F.col("rk") == F.expr("(n + 2) div 2"))
    )
    return mid.agg(
        F.max("n").alias("n_pairs"),
        F.round(F.avg("slope"), TS_ROUND).alias("theil_sen_slope"),
    )


def conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click-to-purchase latency: every purchase is matched to the SAME
    user's latest preceding click (as-of semantics expressed as one
    self-excluding cumulative window — zero joins, same skeleton as
    ``attribution_report``'s binding), and each day reports its
    conversion count and exact MEDIAN gap in seconds.

    Gaps are exact integer microseconds (``unix_micros`` on both
    engines — whole-second truncation would bias sub-minute gaps); the
    median is the average of the two middle order statistics over
    day-partitioned windows (theil_sen's construction — no engine
    median() semantics in play). All windows ride the user/day
    exchanges; nothing global."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tagged = ev.select(
        "user_id",
        # NTZ→LTZ cast: unix_micros rejects TIMESTAMP_NTZ (twap_daily)
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        "event_type",
    ).withColumn(
        "last_click_us",
        F.max(
            F.when(F.col("event_type") == "click", F.unix_micros("ts"))
        ).over(w),
    )
    lat = tagged.filter(
        (F.col("event_type") == "purchase")
        & F.col("last_click_us").isNotNull()
    ).select(
        F.to_date("ts").alias("day0"),
        (F.unix_micros("ts") - F.col("last_click_us")).alias("gap_us"),
    )
    wd = Window.partitionBy("day0").orderBy("gap_us")
    ranked = lat.select(
        "day0",
        "gap_us",
        F.row_number().over(wd).alias("rk"),
        F.count("*").over(Window.partitionBy("day0")).alias("n"),
    )
    med = ranked.filter(
        (F.col("rk") == F.expr("(n + 1) div 2"))
        | (F.col("rk") == F.expr("(n + 2) div 2"))
    )
    return (
        med.groupBy(F.date_format("day0", "yyyy-MM-dd").alias("day"))
        .agg(
            F.max("n").alias("n_conversions"),
            (F.avg(F.col("gap_us").cast("double")) / 1e6).alias("med_s"),
        )
        .select(
            "day",
            "n_conversions",
            F.round("med_s", 4).alias("median_gap_s"),
        )
    )


FW_CLICK_MIN = 120  # view → click funnel window (minutes), shared
FW_BUY_MIN = 240    # click → purchase funnel window (minutes), shared


def funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-CONSTRAINED conversion funnel — ``funnel_stages`` requires
    only stage order; real funnels require each step within a window
    (click within FW_CLICK_MIN of the first view, purchase within
    FW_BUY_MIN of that click), which this computes with ZERO joins:
    three chained conditional mins over the same per-user window — each
    stage's anchor is the previous stage's column, available in-row
    because whole-partition windows replicate it. One user-key
    exchange, three window passes on it, one summary row.

    Window arithmetic in exact integer microseconds; BIGINT literals
    on the oracle side (minutes × 6e7 overflows INT32)."""
    ev = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id")
    e2 = ev.select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
    )
    s1 = e2.withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(
            wu
        ),
    )
    s2 = s1.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts") > F.col("t_view"))
                & (
                    F.unix_micros("ts")
                    <= F.unix_micros("t_view")
                    + FW_CLICK_MIN * 60_000_000
                ),
                F.col("ts"),
            )
        ).over(wu),
    )
    s3 = s2.withColumn(
        "t_buy",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t_click"))
                & (
                    F.unix_micros("ts")
                    <= F.unix_micros("t_click")
                    + FW_BUY_MIN * 60_000_000
                ),
                F.col("ts"),
            )
        ).over(wu),
    )
    per_user = s3.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_buy").alias("t_buy"),
    )
    return per_user.agg(
        F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_viewed"),
        F.sum(F.when(F.col("t_click").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_clicked_in_window"),
        F.sum(F.when(F.col("t_buy").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_purchased_in_window"),
    )


def burstiness_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness coefficient (Goh & Barabási 2008) of inter-arrival
    times per event type: B = (σ−μ)/(σ+μ) over the gaps between a
    user's consecutive events — B≈0 is Poisson (memoryless), B→1 is
    bursty (sessions, retries, cascades), B→−1 is periodic (bots,
    schedulers). The arrival-process diagnostic behind capacity
    planning and bot screening that sessionization assumes.

    Gaps are exact integer microseconds from ONE per-(type, user) lag
    window; μ/σ come from exact-decimal Σgap and Σgap² (gap² at (19,0)²
    stays inside decimal(38,0)), so the only float math is the closed
    form — engine-portable. Single-gap types are dropped (σ undefined,
    ANSI guard)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", "user_id").orderBy(
        "ts", "event_id"
    )
    gaps = (
        ev.select(
            "event_type",
            "user_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "event_id",
        )
        .withColumn(
            "gap_us",
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w),
        )
        .filter(F.col("gap_us").isNotNull())
    )
    st = gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.sum(F.col("gap_us").cast("decimal(38,0)")).alias("s1"),
        F.sum(
            F.col("gap_us").cast("decimal(19,0)")
            * F.col("gap_us").cast("decimal(19,0)")
        ).alias("s2"),
    )
    nd = F.col("n_gaps").cast("double")
    mu = F.col("s1").cast("double") / nd
    var = (F.col("s2").cast("double") - nd * mu * mu) / (nd - 1)
    sg = F.sqrt(var)
    return st.filter(F.col("n_gaps") > 1).select(
        "event_type",
        "n_gaps",
        F.round(mu / 1e6, 4).alias("mean_gap_s"),
        # nz: all-identical timestamps (a replayed batch, a stuck
        # producer) give sg = mu = 0 — NULL beats an ANSI crash
        F.round((sg - mu) / nz(sg + mu), 6).alias("burstiness"),
    )


CRB_BURN = 25.0  # per-event credit burn, shared with the oracle


def _clamped_delta_base(ev: DataFrame) -> DataFrame:
    """The ONE definition of the credit-delta projection shared by both
    clamped-balance variants: purchases credit coalesce(value, 0) — a
    NULL value must credit 0, not NaN-poison the recursion — every
    other event burns CRB_BURN."""
    return ev.select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        F.when(
            F.col("event_type") == "purchase",
            F.coalesce(F.col("value"), F.lit(0.0)),
        )
        .otherwise(F.lit(-CRB_BURN))
        .cast("double")
        .alias("delta"),
    )


def clamped_running_balance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Floor-clamped running balance per user — purchases credit their
    value, every other event burns CRB_BURN credits, and the balance
    NEVER goes below zero: balanceₜ = max(0, balanceₜ₋₁ + deltaₜ).
    The inventory / prepaid-credit / rate-limiter recurrence, run as
    the explicit step recursion: one Arrow task per user key,
    sequential only within a user, vs a grouped recursive-CTE oracle.

    Bit-portability: deltas are raw doubles and the recurrence is
    add-then-clamp — identical IEEE op order on engine, oracle, and the
    pandas replay in tests. The recurrence ALSO has the Lindley
    reflection closed form bₜ = Sₜ − min(0, min_{k≤t} Sₖ) over plain
    prefix sums — implemented as the all-window JVM scale path in
    ``clamped_balance_window`` (equal in exact arithmetic; kept as a
    separate query because its float op order differs by ulps from the
    step recursion this oracle mirrors)."""
    import pandas as pd  # noqa: PLC0415

    ev = load_table(spark, sf_dir, "events")
    base = _clamped_delta_base(ev)

    def clamp(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        bal = 0.0
        out = []
        for r in pdf.itertuples():
            bal = bal + r.delta
            if bal < 0.0:
                bal = 0.0
            out.append((key[0], r.event_id, r.delta, bal))
        return pd.DataFrame(
            out, columns=["user_id", "event_id", "delta", "balance"]
        )

    return (
        base.groupBy("user_id")
        .applyInPandas(
            clamp,
            schema="user_id bigint, event_id bigint, delta double, "
            "balance double",
        )
        .select(
            "user_id",
            "event_id",
            F.round("delta", 4).alias("delta"),
            F.round("balance", 4).alias("balance"),
        )
    )


def clamped_balance_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 100 TB path for the floor-clamped balance: the Lindley
    reflection identity bₜ = Sₜ − min(0, min_{k≤t} Sₖ) turns the
    "unexpressible" nonlinear clamp into TWO ordinary cumulative
    windows (prefix sum, then running min of it) — whole-stage-codegen
    JVM arithmetic riding one user-key exchange, no Python loop, no
    per-row state. Same deltas and NULL-credit semantics as
    ``clamped_running_balance``; its DuckDB oracle uses the same
    reflection formula (the step-recursion twin keeps the independent
    recursive-CTE oracle), and a test pins the two variants equal to
    float tolerance on the fixtures."""
    base = _clamped_delta_base(load_table(spark, sf_dir, "events"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = base.withColumn("s", F.sum("delta").over(w))
    b = s.withColumn(
        "balance",
        F.col("s") - F.least(F.lit(0.0), F.min("s").over(w)),
    )
    return b.select(
        "user_id",
        "event_id",
        F.round("delta", 4).alias("delta"),
        F.round("balance", 4).alias("balance"),
    )


def max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the daily-revenue series — the worst
    peak-to-trough decline relative to the running peak, the risk
    metric that pairs with cusum (drift alarms) and the forecast family
    (how bad did it actually get?): min over days of rev/runmax(rev)−1.

    One running-max window over the day-grain series then a scalar
    aggregate — both on the calendar-sized, sf-independent frame
    (cusum/holt posture), after the usual exact-decimal day
    aggregate."""
    daily = _daily_order_revenue(spark, sf_dir)
    wday = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dd = daily.select(
        "rev",
        (F.col("rev") / nz(F.max("rev").over(wday)) - 1.0).alias("drawdown"),
    )
    return dd.agg(
        F.count("*").alias("n_days"),
        F.round(F.min("drawdown"), 6).alias("max_drawdown"),
        F.round(F.max("rev"), 4).alias("peak_revenue"),
    )


MK_Z95 = 1.96  # two-sided 95 % normal quantile, shared with the oracle


def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend TEST on monthly revenue — the significance
    companion to ``theil_sen_slope``'s point estimate (same monthly
    series, same inequality pair frame): S = Σ_{i<j} sign(xⱼ − xᵢ),
    tie-corrected normal approximation z = (S ∓ 1)/√Var with
    Var = [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18, and the classic
    increasing / decreasing / no_trend call at 95 %.

    S and the tie term are exact INTEGERS (sign sums — no float until
    the final z), so the statistic is engine-exact. Scale shape is
    theil_sen's: one month-grain exact-decimal aggregate does the
    data-sized work; the pair join and the two 1-row stat frames are
    calendar-sized, lint-allowlisted."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        (
            F.year(F.col("o_orderdate").cast("date")) * 12
            + F.month(F.col("o_orderdate").cast("date"))
        ).alias("mi")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("rev")
    # ~80-row materialization (theil_sen rationale): three consumers
    # below would otherwise re-run the orders scan + month aggregate
    ).localCheckpoint()
    a = monthly.select(
        F.col("mi").alias("mi_a"), F.col("rev").alias("rev_a")
    )
    b = monthly.select(
        F.col("mi").alias("mi_b"), F.col("rev").alias("rev_b")
    )
    s_stat = a.join(b, F.col("mi_a") < F.col("mi_b")).agg(
        F.sum(F.signum(F.col("rev_b") - F.col("rev_a")))
        .cast("long")
        .alias("s_stat")
    )
    ties = (
        monthly.groupBy("rev")
        .agg(F.count("*").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            ).alias("tie_term")
        )
    )
    mk = s_stat.crossJoin(
        F.broadcast(monthly.agg(F.count("*").alias("n")))
    ).crossJoin(F.broadcast(ties))
    nn = F.col("n").cast("double")
    var = (
        nn * (nn - 1.0) * (2.0 * nn + 5.0)
        - F.col("tie_term").cast("double")
    ) / 18.0
    z = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt(var))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt(var))
        .otherwise(F.lit(0.0))
    )
    return mk.select(
        "n",
        "s_stat",
        F.round(z, 4).alias("z"),
        F.when(z > MK_Z95, "increasing")
        .when(z < -MK_Z95, "decreasing")
        .otherwise("no_trend")
        .alias("trend"),
    )


HOLT_A = 0.5   # level smoothing α…
HOLT_1A = 0.5  # …and 1−α as an explicit shared literal
HOLT_B = 0.3   # trend smoothing β…
HOLT_1B = 0.7  # …and 1−β (see MMR_MU rationale in llm/similarity.py)


def holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double-exponential) smoothing on the daily
    revenue series — level + trend recursion with the one-step-ahead
    forecast and its absolute error per day, the classic trended
    baseline between ``ewma_smoother`` (no trend) and a seasonal
    model: ℓₜ = α·yₜ + (1−α)(ℓₜ₋₁+bₜ₋₁), bₜ = β(ℓₜ−ℓₜ₋₁) + (1−β)bₜ₋₁,
    ŷₜ = ℓₜ₋₁ + bₜ₋₁; initialized ℓ₁ = y₁, b₁ = y₂ − y₁.

    Same posture as ``cusum_changepoints``: the data-sized work is the
    one exact-decimal day aggregate; the inherently sequential
    recursion runs on the calendar-sized, sf-independent series in one
    Arrow task, emitting raw doubles so the identical IEEE op sequence
    makes it bit-deterministic against the oracle's recursive CTE."""
    import pandas as pd  # noqa: PLC0415

    daily = _daily_order_revenue(spark, sf_dir)
    seeded = daily.withColumn("g", F.lit(1))

    def holt(_key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        ys = list(pdf["rev"])
        if len(ys) < 2:
            # trend needs two points; the oracle's rn=2 anchor join
            # yields 0 rows on a 1-day series — match it, don't crash
            return pd.DataFrame(
                columns=[
                    "day", "rev", "level", "trend", "forecast",
                    "abs_err",
                ]
            )
        days = [str(d) for d in pdf["day"]]
        lvl = ys[0]
        trd = ys[1] - ys[0]
        rows = [(days[0], ys[0], lvl, trd, None, None)]
        for day, y in zip(days[1:], ys[1:]):
            fc = lvl + trd
            new_lvl = HOLT_A * y + HOLT_1A * (lvl + trd)
            trd = HOLT_B * (new_lvl - lvl) + HOLT_1B * trd
            lvl = new_lvl
            rows.append((day, y, lvl, trd, fc, abs(y - fc)))
        return pd.DataFrame(
            rows,
            columns=["day", "rev", "level", "trend", "forecast", "abs_err"],
        )

    return seeded.groupBy("g").applyInPandas(
        holt,
        schema="day string, rev double, level double, trend double, "
        "forecast double, abs_err double",
    )


def holt_forecast_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED Holt smoothing — one independent level+trend recursion
    per nation's daily-revenue series. This is the shape that matters
    at 100 TB: ``holt_forecast`` shows the single-series recursion;
    real fleets forecast THOUSANDS of series (one per store / SKU /
    tenant), and the grouped form runs them all in one job — each
    series is one ``applyInPandas`` task keyed by nation, so
    parallelism scales with series count while each recursion stays
    sequential only over its own calendar-sized series. Same literals,
    same IEEE op sequence, bit-deterministic vs the grouped
    recursive-CTE oracle; <2-point series emit nothing (trend needs
    two points), matching the oracle's anchor join."""
    import pandas as pd  # noqa: PLC0415

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    daily = (
        orders.join(
            cust.select("c_custkey", "c_nationkey"),
            orders.o_custkey == cust.c_custkey,
        )
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("rev")
        )
    )

    def holt_g(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        ys = list(pdf["rev"])
        if len(ys) < 2:
            return pd.DataFrame(
                columns=[
                    "nation", "day", "rev", "level", "trend",
                    "forecast", "abs_err",
                ]
            )
        days = [str(d) for d in pdf["day"]]
        lvl = ys[0]
        trd = ys[1] - ys[0]
        rows = [(key[0], days[0], ys[0], lvl, trd, None, None)]
        for day, y in zip(days[1:], ys[1:]):
            fc = lvl + trd
            new_lvl = HOLT_A * y + HOLT_1A * (lvl + trd)
            trd = HOLT_B * (new_lvl - lvl) + HOLT_1B * trd
            lvl = new_lvl
            rows.append((key[0], day, y, lvl, trd, fc, abs(y - fc)))
        return pd.DataFrame(
            rows,
            columns=[
                "nation", "day", "rev", "level", "trend", "forecast",
                "abs_err",
            ],
        )

    return daily.groupBy("n_name").applyInPandas(
        holt_g,
        schema="nation string, day string, rev double, level double, "
        "trend double, forecast double, abs_err double",
    )


HW_M = 7          # season length (weekly), shared with the oracle
HW_A, HW_1A = 0.4, 0.6  # level smoothing α / 1−α (explicit literals,
HW_B, HW_1B = 0.2, 0.8  # trend β / 1−β — shared verbatim with the
HW_G, HW_1G = 0.3, 0.7  # oracle; seasonal γ / 1−γ


def holt_winters_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive triple-exponential smoothing (weekly
    season, m=7) on daily revenue — the capstone of the forecasting
    ladder (ewma: level; holt: +trend; here: +seasonality), scoring
    each day's one-step-ahead forecast ℓ+b+s_{t−m} and error.

    Anchored initialization chosen for bit-portability: ℓ_m = y_m,
    b_m = (y_m − y_1)/(m−1), s_i = y_i − ℓ_m over the first season —
    every init value is a PAIRWISE double op (no float sums whose
    order an engine could permute), so engine, oracle, and replay are
    bit-identical from step one. The oracle is a DuckDB recursive CTE
    carrying the m seasonal slots as a LIST column that shifts each
    step — same IEEE op sequence as the Arrow-task recursion here.

    Posture identical to ``holt_forecast``: one exact-decimal day
    aggregate is the data-sized work; the sequential recursion runs on
    the calendar-sized series in one Arrow task (grouped/fleet version
    follows ``holt_forecast_by_nation``'s shape verbatim)."""
    import pandas as pd  # noqa: PLC0415

    daily = _daily_order_revenue(spark, sf_dir).withColumn("g", F.lit(1))

    def hw(_key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        ys = list(pdf["rev"])
        days = [str(d) for d in pdf["day"]]
        if len(ys) < HW_M + 1:
            # a sub-season series has no seasonal init; the oracle's
            # rn > m filter yields 0 rows — match it
            return pd.DataFrame(
                columns=["day", "rev", "level", "trend", "seasonal",
                         "forecast", "abs_err"])
        lvl = ys[HW_M - 1]
        trd = (ys[HW_M - 1] - ys[0]) / (HW_M - 1)
        s = [y - lvl for y in ys[:HW_M]]
        rows = []
        for i in range(HW_M, len(ys)):
            y = ys[i]
            s_m = s[0]
            fc = lvl + trd + s_m
            new_lvl = HW_A * (y - s_m) + HW_1A * (lvl + trd)
            trd = HW_B * (new_lvl - lvl) + HW_1B * trd
            new_s = HW_G * (y - new_lvl) + HW_1G * s_m
            lvl = new_lvl
            s = s[1:] + [new_s]
            rows.append((days[i], y, lvl, trd, new_s, fc, abs(y - fc)))
        return pd.DataFrame(
            rows,
            columns=["day", "rev", "level", "trend", "seasonal",
                     "forecast", "abs_err"],
        )

    return daily.groupBy("g").applyInPandas(
        hw,
        schema="day string, rev double, level double, trend double, "
        "seasonal double, forecast double, abs_err double",
    )


# Survival analysis: a user whose last event falls within this many
# days of the observation end is CENSORED (still active, lifetime only
# known to exceed what we saw), not churned.
KM_CENSOR_DAYS = 3


def kaplan_meier_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of user lifetime (days between first
    and last event) with right-censoring — the standard churn/retention
    estimator that, unlike a naive average lifetime, does not treat
    still-active users as churned: users whose last event is within
    KM_CENSOR_DAYS of the observation end only attest that survival
    exceeds their observed span.

    Ŝ(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) with dᵢ churns at lifetime tᵢ and nᵢ
    the at-risk count (ties: churns before censorings, the textbook
    convention). Scale shape: ONE user-grain aggregate does all the
    data-sized work (map-side combined); the observation end attaches
    as a 1-row broadcast; every window after runs on the
    duration-grain frame — at most observation-span-days rows,
    sf-INDEPENDENT — so the single-partition cumulative product is
    calendar-sized, never data-sized. The product is exp∘Σlog with an
    explicit zero-factor flag (no log(0) — Spark returns NULL there,
    DuckDB −inf; the guard keeps both engines on the same arithmetic)."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
    )
    # global max over events == max(d1) over users, but computed this
    # way it is a shuffle-free partial-agg scan (1 row per partition to
    # the driver-side reduce) instead of a SECOND user-grain hash
    # exchange of the whole events scan
    horizon = ev.agg(F.max(F.to_date("ts")).alias("obs_end"))
    life = users.crossJoin(F.broadcast(horizon)).select(
        F.datediff("d1", "d0").cast("long").alias("duration"),
        (F.datediff("obs_end", "d1") < KM_CENSOR_DAYS).alias("censored"),
    )
    per_t = life.groupBy("duration").agg(
        F.sum(F.when(~F.col("censored"), 1).otherwise(0)).alias("n_churned"),
        F.sum(F.when(F.col("censored"), 1).otherwise(0)).alias("n_censored"),
    )
    leaving = F.col("n_churned") + F.col("n_censored")
    w_prev = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.partitionBy()
    w_cum = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = per_t.select(
        "duration",
        "n_churned",
        "n_censored",
        (
            F.sum(leaving).over(w_all)
            - F.coalesce(F.sum(leaving).over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    factor = F.lit(1.0) - F.col("n_churned") / F.col("n_risk").cast("double")
    fac = risk.withColumn("factor", factor)
    hit_zero = F.max(
        F.when(F.col("factor") == 0, 1).otherwise(0)
    ).over(w_cum)
    log_sum = F.sum(
        F.when(F.col("factor") > 0, F.log("factor")).otherwise(0.0)
    ).over(w_cum)
    return fac.select(
        F.col("duration").alias("duration_days"),
        "n_risk",
        "n_churned",
        "n_censored",
        F.when(hit_zero == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(log_sum), 4))
        .alias("survival"),
    )


# Multi-touch attribution: touches bind to the NEXT purchase by the
# same user, eligible only within this lookback window.
ATTRIB_WINDOW_SEC = 3 * 86400


def attribution_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution over the event stream: every purchase is a
    conversion; the non-purchase events (click/view/signup/error) by
    the same user in the ATTRIB_WINDOW_SEC before it are its touchpoint
    path. Per channel, the three classic models side by side:
    first-touch (conversion credited to the path's opening channel),
    last-touch (its closing channel), and linear (1/n to each of the
    path's n touches).

    Scale shape: conversion binding is pure gaps-and-islands — a
    cumulative purchase count over the per-user window assigns every
    touch to its next purchase with zero joins (same skeleton as
    ``sessionize_events``); per-path ranks run on the (user, path)
    windows off the same user-keyed shuffle. The fractional linear
    credits aggregate at (channel, path-length) grain first, so the
    final double sum has at most |channels|·max-path-length terms in
    both engines — not one term per touch — keeping the rounded
    totals engine-portable."""
    ev = load_table(spark, sf_dir, "events")
    # when/otherwise, NOT a bare ==-cast: a NULL event_type must count
    # as a (NULL-channel) touch like the oracle's CASE...ELSE 0, not
    # evaluate to NULL and silently drop out of every filter
    is_p = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    w_cum = Window.partitionBy("user_id").orderBy(
        "ts", "event_id"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged = (
        ev.select("user_id", "event_id", "ts", "event_type", is_p.alias("is_p"))
        .withColumn("cum_p", F.sum("is_p").over(w_cum))
        .withColumn(
            "grp",
            F.when(F.col("is_p") == 1, F.col("cum_p")).otherwise(
                F.col("cum_p") + 1
            ),
        )
    )
    w_grp = Window.partitionBy("user_id", "grp")
    with_conv = tagged.withColumn(
        "conv_ts", F.max(F.when(F.col("is_p") == 1, F.col("ts"))).over(w_grp)
    )
    touches = with_conv.filter(
        (F.col("is_p") == 0)
        & F.col("conv_ts").isNotNull()
        & (F.col("ts") < F.col("conv_ts"))
        & (
            F.col("ts")
            >= F.col("conv_ts")
            - F.expr(f"INTERVAL {ATTRIB_WINDOW_SEC} SECOND")
        )
    )
    w_first = Window.partitionBy("user_id", "grp").orderBy("ts", "event_id")
    w_last = Window.partitionBy("user_id", "grp").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    credited = touches.select(
        F.col("event_type").alias("channel"),
        F.row_number().over(w_first).alias("rn_f"),
        F.row_number().over(w_last).alias("rn_l"),
        F.count("*").over(w_grp).alias("n_t"),
    )
    by_len = credited.groupBy("channel", "n_t").agg(
        F.count("*").alias("cnt"),
        F.sum(F.when(F.col("rn_f") == 1, 1).otherwise(0)).alias("ft"),
        F.sum(F.when(F.col("rn_l") == 1, 1).otherwise(0)).alias("lt"),
    )
    return by_len.groupBy("channel").agg(
        F.sum("cnt").alias("touches"),
        F.sum("ft").alias("first_touch"),
        F.sum("lt").alias("last_touch"),
        F.round(
            F.sum(F.col("cnt").cast("double") / F.col("n_t").cast("double")),
            4,
        ).alias("linear_credit"),
    )


def twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value (TWAP) per user-day over purchase
    events — the metric a plain AVG gets wrong whenever observations
    are irregularly spaced: each purchase's value is weighted by how
    long it was the latest observation (until the next purchase, or
    midnight for the day's last), so a value held for 20 hours counts
    20× one held for an hour.

    One (user, day)-partitioned lead() window off the user-keyed
    shuffle assigns hold durations; weights are integer seconds and
    the value·duration products accumulate in EXACT decimal, so the
    only float op is the final division — order- and
    engine-independent at any scale."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        # NTZ→LTZ: the vanilla (UTC) session reads events.ts as
        # TIMESTAMP_NTZ, which unix_micros rejects; the cast
        # reinterprets the wall clock in the UTC session tz — exactly
        # DuckDB's naive epoch_us semantics
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        F.to_date("ts").alias("day"),
        F.col("value").cast("decimal(18,6)").alias("val"),
    )
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    # microsecond-exact hold durations: unix_timestamp would TRUNCATE
    # to whole seconds while DuckDB's epoch() keeps fractions — micros
    # are exact integers on both engines
    day_end = F.unix_micros(F.date_add("day", 1).cast("timestamp"))
    dur = (
        F.coalesce(F.unix_micros(F.lead("ts").over(w)), day_end)
        - F.unix_micros("ts")
    ).cast("decimal(20,0)")
    weighted = p.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "val",
        dur.alias("dur"),
    )
    return weighted.groupBy("user_id", "day").agg(
        F.count("*").cast("long").alias("n_obs"),
        F.round(
            (
                F.sum(F.col("val") * F.col("dur")).cast("double")
                / F.sum("dur").cast("double")
            ),
            4,
        ).alias("twap"),
    )


def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-cohort lifetime-value curve — cumulative revenue per user
    by cohort age, the growth metric behind "do newer cohorts monetize
    faster?". Complements ``retention_cohorts`` (activity) with the
    revenue dimension.

    Each user's cohort is their first purchase week (one user-grain
    aggregate); purchases re-join that frame on the SAME user key (the
    exchange is shared), aggregate to (cohort, age-week) grain in exact
    decimal, and the running LTV is a cumulative window over that
    calendar²-bounded frame. Cohort sizes broadcast (≤ #weeks rows).
    Division by cohort_users happens AFTER the exact cumulative sum, so
    the only float op is the final ratio."""
    ev = load_table(spark, sf_dir, "events")
    # persist(): p feeds the cohort aggregate AND the age join, and
    # cohort feeds the join AND the size frame — without the caches the
    # events scan would EXECUTE 3× (unaliased-subplan rule). The static
    # plan still prints the cached subtree per consumer (SHUFFLES.md
    # upper-bound caveat); at runtime each cached exchange runs once.
    # Data-sized frames → persist, not checkpoint.
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("date").alias("wk"),
        F.col("value").cast("decimal(18,6)").alias("val"),
    ).persist()
    cohort = (
        p.groupBy("user_id").agg(F.min("wk").alias("cohort_week")).persist()
    )
    aged = p.join(cohort, "user_id").select(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        F.datediff(F.col("wk"), F.col("cohort_week")).alias("age_days"),
        "val",
    )
    # cohort frame is already user-unique, so count(*) IS user count
    sized = cohort.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_users")
    )
    weekly = aged.groupBy(
        "cohort_week", (F.col("age_days") / 7).cast("int").alias("age_weeks")
    ).agg(F.sum("val").alias("wk_rev"))
    wc = (
        Window.partitionBy("cohort_week")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        weekly.withColumn("cum_rev", F.sum("wk_rev").over(wc))
        .join(
            F.broadcast(
                sized.select(
                    F.date_format("cohort_week", "yyyy-MM-dd").alias(
                        "cohort_week"
                    ),
                    "cohort_users",
                )
            ),
            "cohort_week",
        )
        .select(
            "cohort_week",
            "age_weeks",
            "cohort_users",
            F.round(F.col("wk_rev").cast("double"), 4).alias(
                "week_revenue"
            ),
            F.round(
                F.col("cum_rev").cast("double") / F.col("cohort_users"), 4
            ).alias("ltv_per_user"),
        )
    )


def ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC (open/high/low/close) bars over purchase values — the
    canonical downsampling of any tick-grain stream, and the showcase
    for ``min_by``/``max_by`` ordered-aggregates: open and close come
    from ONE hash aggregate keyed on a (ts, event_id) struct (the
    event_id tiebreak pins simultaneous ticks deterministically), so
    there is no window, no sort, and the whole bar builds map-side in a
    single partial-aggregated groupBy — the plan you want when
    downsampling 100 TB of ticks to calendar-sized bars. Volume
    accumulates in exact decimal."""
    ev = load_table(spark, sf_dir, "events")
    pv = ev.filter(F.col("event_type") == "purchase").select(
        F.to_date("ts").alias("day"),
        F.struct("ts", "event_id").alias("k"),
        "value",
    )
    return pv.groupBy("day").agg(
        F.count("*").cast("long").alias("n_trades"),
        F.round(F.min_by("value", "k"), 4).alias("open"),
        F.round(F.max("value"), 4).alias("high"),
        F.round(F.min("value"), 4).alias("low"),
        F.round(F.max_by("value", "k"), 4).alias("close"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
        ).alias("volume"),
    ).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_trades",
        "open",
        "high",
        "low",
        "close",
        "volume",
    )


def _state_partitions(
    spark: SparkSession,
    sf_dir: str | None,
    python_stateful: bool,
) -> int:
    """State-store partition count for a drain — the count frozen into
    the checkpoint at query start, i.e. the REAL production sizing
    knob for a stateful stream. Round-10 optimization pass: the pinned
    constant 8 was replaced with a shape- and scale-aware default,
    measured per operator family (OPTIMIZATION_r10.md):

    - JVM built-in state (window aggs, dropDuplicates, stream-stream
      joins): per-partition state-store lifecycle (load + delta-file
      commit, ×4 stores per partition for a symmetric join) dominates
      at harness scale — 8→4 partitions cut stream_join_multibatch
      17% and never hurt; the input-bytes term (one state partition
      per 64 MB of source) restores fan-out the moment data justifies
      it, so this is NOT a local[32]-only constant.
    - Python group-state (applyInPandasWithState): per-GROUP Python
      work dominates, so parallelism wins — floor at half the cores
      (8→16 on local[32] cut stream_stateful_totals ~12%; 4 or fewer
      was 1.4–3.9× slower). Scales down with the driver's low-core
      bench automatically and up with input bytes."""
    import os  # noqa: PLC0415

    by_bytes = 0
    if sf_dir:
        try:
            by_bytes = os.path.getsize(
                os.path.join(sf_dir, "events.parquet")
            ) // (64 << 20)
        except OSError:
            by_bytes = 0
    cores = spark.sparkContext.defaultParallelism
    floor = max(4, cores // 2) if python_stateful else 4
    return max(floor, by_bytes)


#: Trigger granularity for drains whose RESULT is batching-independent
#: (round-11 optimization pass, VERDICT r10 item 2): the 4 staged files
#: flow as 2 micro-batches of 2 ordered files instead of 4 of 1 — the
#: fixed per-batch scaffolding (incremental planning + offset WAL +
#: state-store commits, ~0.6–1.1 s regardless of input size at sf0.1)
#: is paid twice instead of four times, while cross-batch state is
#: still genuinely exercised (≥2 batches; the cross-trigger straddle
#: is pinned in tests/test_streaming.py). Drains whose ORACLE models
#: per-file batch boundaries (late-drop cohorts, idle-flush quartiles,
#: the merge-snapshot version ledger) do NOT use this — they keep one
#: file per trigger.
DRAIN_FILES_PER_TRIGGER = 2

#: One reserved child SparkSession per parent, created on first use and
#: reused for every drain (see _drain_session).
_DRAIN_SESSIONS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _drain_session(spark: SparkSession) -> SparkSession:
    """Reserved child session for the graded drains (VERDICT r10 item
    7): ``_drain_bounded`` sizes ``spark.sql.shuffle.partitions`` for
    the stream's state stores by mutating SESSION conf — scoping every
    drain to a dedicated ``newSession()`` child makes that mutation
    invisible to any batch query planned concurrently on the caller's
    session (same SparkContext, same data, separate conf). The child
    is created ONCE per parent and reused — newSession costs ~200 ms
    per call, which would otherwise tax every drain. Runtime confs
    whose values shape drain RESULTS are copied from the parent at
    creation: session timeZone (date_format day labels), ANSI mode
    (cast semantics); builder-time confs already arrive via the shared
    SparkContext conf.

    The child also maps the local ``file:`` scheme to the CRC-free
    RawLocalFs. ``SessionState.newHadoopConf()`` copies session conf
    into the Hadoop conf that streaming checkpoints use, so the mapping
    reaches every checkpoint write of a drain — offset WAL, commit
    log, state-store delta files — and nothing outside the child: the
    SparkContext Hadoop conf keeps the checksummed LocalFs, and so do
    checkpoints a caller runs on its own session. Checksums add
    nothing here: drain checkpoints are ephemeral (see
    ``_fresh_checkpoint``) and parquet data carries its own page
    checksums. On ``stream_stateful_totals_drain`` at sf0.01 on a
    4-vCPU VM (``local[4]``, one fresh process per run, median of 6
    warm reps per run): WAL (walCommit + commitOffsets) 76–138 ms
    (4 of 5 runs ≤ 103 ms) and state commitTimeMs 324–436 ms with the
    mapping, against 139–184 ms and 632–719 ms without it."""
    child = _DRAIN_SESSIONS.get(spark)
    if child is not None:
        return child
    child = spark.newSession()
    child.conf.set(
        "fs.AbstractFileSystem.file.impl",
        "org.apache.hadoop.fs.local.RawLocalFs",
    )
    for key in (
        "spark.sql.session.timeZone",
        "spark.sql.ansi.enabled",
    ):
        try:
            child.conf.set(key, spark.conf.get(key))
        except Exception:  # noqa: BLE001 - default-less key: inherit
            pass
    _DRAIN_SESSIONS[spark] = child
    return child


def _drain_bounded(
    spark: SparkSession,
    res: DataFrame,
    name: str,
    output_mode: str,
    sf_dir: str | None = None,
    python_stateful: bool = False,
) -> DataFrame:
    """Shared drain scaffolding for the graded streaming queries: pin a
    bounded state-store partition count for the stream's lifetime (the
    count is frozen from spark.sql.shuffle.partitions at query START —
    a real production sizing knob; the vanilla session's default 200
    costs 200 state tasks per micro-batch against ~150-key fixtures;
    sizing heuristic in ``_state_partitions``), drain synchronously,
    stop, restore the session conf, and return the drained sink table.
    Stop-on-error lives in run_to_memory.

    The override mutates session conf for the drain's duration, but
    since round 11 every graded drain passes a RESERVED child session
    here (``_drain_session``): a batch query planned concurrently on
    the caller's own session can no longer observe the reduced count.
    Within the drain session itself drains run one at a time (the
    save/restore below keeps even that session clean between
    drains)."""
    from ..streaming.events import (  # noqa: PLC0415
        release_checkpoint,
        run_to_memory,
    )

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(_state_partitions(spark, sf_dir, python_stateful)),
    )
    try:
        q = run_to_memory(res, name, output_mode=output_mode)
        q.stop()
        # drop the checkpoint tree at query stop, not interpreter exit
        # (ADVICE r10: /dev/shm accumulation across many drains)
        release_checkpoint(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return spark.table(name)


def stream_ohlc_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver-graded STREAMING path: ``ohlc_daily``'s semantics
    executed end-to-end through Structured Streaming — bounded
    file-source stream over the events parquet → watermarked 1-day
    tumbling-window min_by/max_by aggregate (bounded state: one
    candidate row per extreme per open window) → complete-mode memory
    sink drained synchronously (processAllAvailable) — returning the
    drained sink table. Because the streaming bars are bit-identical
    to the batch bars once every window closes (pinned in
    tests/test_streaming.py), this query shares ``ohlc_daily``'s
    DuckDB oracle: the value hash now certifies the STREAMING
    executor path (file-source offsets, state store, window eviction,
    sink commit), not just the expression semantics. In production
    the same plan points at Kafka and a real sink; the memory sink is
    the harness stand-in."""
    from ..streaming.events import (  # noqa: PLC0415
        ohlc_daily_stream,
        read_events_stream,
    )

    spark = _drain_session(spark)
    res = ohlc_daily_stream(read_events_stream(spark, sf_dir))
    return _drain_bounded(
        spark, res, "stream_ohlc_drain_sink", "complete", sf_dir=sf_dir
    )


def stream_stateful_totals_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-grades the ARBITRARY-STATEFUL streaming path
    (applyInPandasWithState + state store) across MULTIPLE
    micro-batches: the events table re-staged as 4 files (two per
    trigger — DRAIN_FILES_PER_TRIGGER), flows through
    ``running_user_totals_exact`` (per-user
    running count + exact integer-cent totals), update-mode memory
    sink. The sink then holds one snapshot row per (user, batch); the
    FINAL snapshot per user is the max of the monotone counters, and
    because the state is exact integers it equals the plain batch
    aggregate REGARDLESS of how the repartition split the stream —
    which is exactly the reconciliation a production stateful counter
    must pass. Complements ``stream_ohlc_drain`` (built-in windowed
    state) by certifying the custom-state executor surface: state
    encode/decode, cross-batch persistence, update-mode emission."""
    from ..streaming.events import (  # noqa: PLC0415
        read_events_stream_parts,
        running_user_totals_exact,
    )

    spark = _drain_session(spark)
    res = running_user_totals_exact(
        read_events_stream_parts(
            spark, sf_dir, files_per_trigger=DRAIN_FILES_PER_TRIGGER
        )
    )
    snap = _drain_bounded(
        spark, res, "stream_stateful_totals_sink", "update", sf_dir=sf_dir, python_stateful=True
    )
    return snap.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        (F.max("cents") / F.lit(100.0)).alias("total_value"),
    )


def stream_join_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-grades the STREAM-STREAM JOIN path: the purchase→click
    attribution join (each purchase matched to the same user's clicks
    in the preceding 30 minutes; both sides watermarked, event-time
    bounds evict state) executed through the symmetric-hash stream
    join operator and drained to an append-mode sink. The bounded
    file source delivers ONE micro-batch, so no input can be late
    relative to the watermark and the drained result equals the batch
    join exactly — which is the DuckDB oracle. (Only the UNORDERED
    multi-batch variant stays ungraded by design — with arrival order
    uncorrelated with event time, cross-batch matches become late-data
    drops, semantics documented on purchase_attribution; the ORDERED
    multi-batch variant IS graded: stream_join_multibatch_drain
    certifies join state persisted across micro-batches.) Completes
    the graded streaming triptych: windowed state (stream_ohlc_drain),
    arbitrary custom state (stream_stateful_totals_drain), and join
    state (this + the multibatch drain)."""
    from ..streaming.events import (  # noqa: PLC0415
        purchase_attribution,
        read_events_stream,
    )

    spark = _drain_session(spark)
    res = purchase_attribution(read_events_stream(spark, sf_dir))
    return _drain_bounded(
        spark, res, "stream_join_drain_sink", "append", sf_dir=sf_dir
    )


def stream_join_multibatch_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-grades CROSS-BATCH stream-stream join state: the
    purchase→click attribution join executed over event-time-ordered
    micro-batches (events range-partitioned on ts into 4 files, two
    ordered files per trigger since the round-11 trigger coarsening —
    read_events_stream_ordered / DRAIN_FILES_PER_TRIGGER). Under
    ordered arrival no input is ever late, and an inner join whose
    event-time horizon (24 h here — wide enough that matches straddle
    the fixture's batch boundaries, verified in tests) is below the
    watermark delay (48 h) loses no cross-batch match: a buffered
    click is evicted at the end of batch k only when watermark =
    max_ts(k) − 48 h has passed it, by which point every purchase
    within its 24-h horizon (≤ click_ts + 24 h < eviction threshold +
    48 h ≤ max_ts(k)) has already arrived and matched. The drained
    append-mode result therefore equals the batch join EXACTLY — the
    oracle — while the execution path it certifies is the one the
    single-batch ``stream_join_drain`` cannot: symmetric-hash join
    state persisted ACROSS micro-batches, watermark advance, and state
    eviction. (Unordered multi-batch arrival remains ungraded by
    design: cross-batch matches become late-data drops — semantics
    documented on purchase_attribution.)"""
    from ..streaming.events import (  # noqa: PLC0415
        purchase_attribution,
        read_events_stream_ordered,
    )

    spark = _drain_session(spark)
    res = purchase_attribution(
        read_events_stream_ordered(
            spark, sf_dir, files_per_trigger=DRAIN_FILES_PER_TRIGGER
        ),
        horizon_min=24 * 60,
        watermark="48 hours",
    )
    return _drain_bounded(
        spark, res, "stream_join_multibatch_sink", "append", sf_dir=sf_dir
    )


def stream_dedup_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-grades the STREAMING DEDUP state operator
    (dropDuplicatesWithinWatermark): the events table with planted
    exact duplicates (every DUP_MOD-th event appears twice — full-row
    copies, so the kept row is identical whichever copy wins) flows
    through event-time-ordered micro-batches (4 staged files, two per
    trigger — DRAIN_FILES_PER_TRIGGER) and the dedup state store
    drops the second copies; the drained append-mode output is
    therefore EXACTLY the original events table — the oracle. Ordered
    arrival means no input is late (nothing silently dropped as late
    data), duplicate copies share the original's event time so both
    always sit inside the watermark horizon, and ids are held in state
    across batches — the fourth graded streaming state path, joining
    windowed aggregation, arbitrary custom state, and join state."""
    from ..streaming.events import (  # noqa: PLC0415
        dedup_within_watermark,
        read_events_stream_ordered_with_dups,
    )

    spark = _drain_session(spark)
    res = dedup_within_watermark(
        read_events_stream_ordered_with_dups(
            spark, sf_dir, files_per_trigger=DRAIN_FILES_PER_TRIGGER
        ),
        watermark="48 hours",
    )
    return _drain_bounded(
        spark, res, "stream_dedup_sink", "append", sf_dir=sf_dir
    ).select("event_id", "ts", "user_id", "event_type", "value", "props")


def stream_outer_join_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-grades the stream-stream OUTER join's NULL-emission
    path — the seventh streaming state behavior (windowed, custom,
    join, dedup, late-drop, session, and now watermark-DELAYED outer
    results): the purchase→click attribution join as LEFT OUTER over
    event-time-ordered micro-batches (4 staged files, two per
    trigger — DRAIN_FILES_PER_TRIGGER). Inner matches emit on
    arrival; an unattributed purchase's null-click row is emitted
    only when the watermark proves no matching click can still
    arrive — the correctness/latency trade every streaming outer
    join makes, and an executor path (state eviction → null-padded
    emission) the inner-join drains never execute.

    Determinism (ordered arrival, no late input): the final emitted
    set is the batch LEFT join restricted on the null side to
    purchases the FINAL watermark passed. Two pinned subtleties the
    oracle encodes: (a) the global watermark is the MIN across the
    two watermarked sides (multipleWatermarkPolicy=min default), so
    wm = floor_ms(least(max click_ts, max purchase_ts)) − 48 h — on
    this fixture using the events-global max admits 2 extra null
    rows, measured; (b) a purchase is evictable once wm passes its
    own ts (its horizon only admits PAST clicks: click_ts ≤
    purchase_ts), predicate ts < wm with the usual sub-ms tie class
    documented, not observable on µs-grain data."""
    from ..streaming.events import (  # noqa: PLC0415
        purchase_attribution,
        read_events_stream_ordered,
    )

    spark = _drain_session(spark)
    res = purchase_attribution(
        read_events_stream_ordered(
            spark, sf_dir, files_per_trigger=DRAIN_FILES_PER_TRIGGER
        ),
        horizon_min=24 * 60,
        watermark="48 hours",
        how="left_outer",
    )
    return _drain_bounded(
        spark, res, "stream_outer_join_sink", "append", sf_dir=sf_dir
    )


def stream_session_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-grades the SESSION-WINDOW state operator — the sixth
    streaming state path (after windowed, custom, join, dedup and
    late-drop): gap-based per-user sessions via ``session_window``
    executed over event-time-ordered micro-batches (4 staged files,
    two per trigger — DRAIN_FILES_PER_TRIGGER), append-mode drain. Session state MERGES (an in-gap event extends the window
    and fuses adjacent windows), which no tumbling-window grade
    exercises; ordered arrival means no event is late, so the final
    emitted set is a deterministic function of the table: every
    session whose end (last event + 30 min) the final watermark
    (floor_ms(max ts) − 48 h) has passed, with exactly the batch
    gaps-and-islands membership.

    Boundary semantics, Spark-true and test-pinned: two point events
    exactly gap apart MERGE (Spark's window-overlap test is
    next.start <= prev.end, boundary-inclusive — measured, the
    synthetic exact-gap test pins it), so the oracle breaks at
    diff > gap, the SAME convention as the batch twin
    ``sessionize_events``. Counts and integer-cent sums keep the
    hash exact."""
    from ..streaming.events import (  # noqa: PLC0415
        read_events_stream_ordered,
    )

    spark = _drain_session(spark)
    raw = read_events_stream_ordered(
        spark, sf_dir, files_per_trigger=DRAIN_FILES_PER_TRIGGER
    )
    res = (
        raw.withWatermark("ts", "48 hours")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("s"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "cents"
            ),
        )
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
            (F.col("cents") / 100.0).alias("total_value"),
        )
    )
    return _drain_bounded(
        spark, res, "stream_session_sink", "append", sf_dir=sf_dir
    )


def stream_late_drop_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-grades WATERMARK-DISCARD semantics — the one streaming
    behavior no other drain touches (they all arrange for no row to
    ever be late): a 5-minute windowed aggregate in APPEND mode over
    the 3-cohort pinned-late stream (read_events_stream_cohorts:
    batch k = event_id ≡ k mod 3, each cohort spanning the full time
    range). Batch 0 advances the watermark to its frontier − 24 h;
    batch 2's stragglers are then filtered against that watermark and
    the state store genuinely DROPS them (numRowsDroppedByWatermark =
    3205 of 3333 at sf0.01 — provably non-zero, pinned in
    tests/test_streaming.py), while its newest ~24 h survive and land
    in still-open windows. The drained append output is therefore a
    deterministic function of the table alone, SQL-replayable:

    - late filter for batch k uses the watermark DISPLAYED for batch
      k−1 (SPARK-40925 splits late-event and eviction watermarks; a
      2-batch stream can thus never drop — measured), so cohort 2 is
      filtered by wmF = floor_ms(max(ts | cohort 0)) − 24 h and
      cohort 1 by the initial 1970 watermark (kept entirely);
    - a window is emitted exactly once, when the eviction watermark
      passes its end, so the final emitted set is every window with
      end ≤ floor_ms(max(ts)) − 24 h, aggregating the cohorts that
      merged before its eviction batch.

    Tie class documented, not observable on minute-aligned windows:
    Spark's predicate is window.end − 1 µs ≤ wm, the oracle writes
    end ≤ wm — they differ only when a window end lands within 1 µs
    of the ms-floored watermark. Counts and integer-cent sums make
    the value hash exact (same argument as
    stream_stateful_totals_drain)."""
    from ..streaming.events import (  # noqa: PLC0415
        read_events_stream_cohorts,
    )

    spark = _drain_session(spark)
    raw = read_events_stream_cohorts(spark, sf_dir)
    res = (
        raw.withWatermark("ts", "24 hours")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "cents"
            ),
        )
        .select(
            F.col("w").getField("start").alias("bucket"),
            "event_type",
            "n",
            (F.col("cents") / 100.0).alias("total_value"),
        )
    )
    return _drain_bounded(
        spark, res, "stream_late_drop_sink", "append", sf_dir=sf_dir
    )


def stream_join_late_drop_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-grades LATE-DATA DROPS IN STREAM-STREAM JOIN STATE — the
    eighth streaming state behavior (VERDICT r9 item 2): the
    purchase→click attribution join (24-h horizon, 24-h watermark
    delay, inner) fed by the 3-cohort pinned-late stream
    (read_events_stream_cohorts: batch k = event_id ≡ k mod 3, every
    cohort spanning the full time range). Batch 0 advances the
    watermark to its frontier − 24 h; batch 2's stragglers are then
    dropped by the symmetric-hash join's per-side late-row filter
    BEFORE they can store or match, so matches the batch join finds
    are genuinely lost (487 of 860 at sf0.01, 53 of 94 at sf0.001 —
    provably non-zero, pinned in tests/test_streaming.py). The other
    join drains all arrange for no input to ever be late; this one
    grades the drop path itself.

    Determinism — why the emitted set is a pure function of the table:

    - late filter for batch k uses the watermark displayed for batch
      k−1 (SPARK-40925, same split as stream_late_drop_drain), so
      cohort 1 is filtered by the initial 1970 watermark (kept
      entirely) and cohort 2 by wmF = floor_ms(least(max click ts,
      max purchase ts) | cohort 0) − 24 h — the MIN across the two
      watermarked sides (multipleWatermarkPolicy=min default), each
      side's max taken over ITS cohort-0 rows because the watermark
      node sits above the event-type filter;
    - state eviction never drops a surviving match: eviction during
      batch k uses a threshold ≤ wmF until all joins are done
      (1970 in batch 0/1-processing; wmF at end of batch 1; the
      batch-2 eviction runs after batch 2's join). A click evicted at
      end of batch 1 has click_ts < wmF − 24 h, so every purchase it
      could match (purchase_ts ≤ click_ts + 24 h < wmF) is itself
      below batch 2's late filter; symmetrically an evicted purchase
      (purchase_ts < wmF) can only match clicks below wmF. Evicted
      state and surviving late rows are therefore disjoint in match
      space, and the emitted set = the batch join over the KEPT input
      set (cohorts 0/1 plus cohort-2 rows with ts ≥ wmF) — the oracle.

    Tie class documented, not observable on µs-grain data: Spark keeps
    ts ≥ wm (drops ts ≤ wm − 1 µs); a row exactly AT the ms-floored
    watermark minus the whole-hour delay would sit on the boundary."""
    from ..streaming.events import (  # noqa: PLC0415
        purchase_attribution,
        read_events_stream_cohorts,
    )

    spark = _drain_session(spark)
    res = purchase_attribution(
        read_events_stream_cohorts(spark, sf_dir),
        horizon_min=24 * 60,
        watermark="24 hours",
    )
    return _drain_bounded(
        spark, res, "stream_join_late_drop_sink", "append", sf_dir=sf_dir
    )


ACF_MAX_LAG = 7  # weekly seasonality window, shared with the oracle


IDLE_MS = 172_800_000  # idle-flush horizon: 2 days of user silence
IDLE_DELAY_MS = 3_600_000  # watermark delay for the idle-flush stream


def stream_idle_flush_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-grades EVENT-TIME TIMEOUT state eviction — the eleventh
    streaming state shape, and the one executor surface none of the
    other ten touch: ``GroupState.hasTimedOut``. Per-user running
    counters accumulate silently; a user's record is EMITTED only when
    the state store times the key out (watermark passes their last
    event + IDLE_MS) — the "flush the entity's rollup when it goes
    quiet" pattern behind per-session feature emission, cart
    abandonment, and connection-expiry accounting. Data calls never
    emit; every sink row was produced inside the timed-out branch with
    no data iterator, then ``state.remove()`` — so the drained table
    certifies timeout registration (setTimeoutTimestamp), the
    watermark-vs-timeout comparison, the no-data invocation, and state
    removal, none of which any data-path grade can reach.

    Determinism: the staged stream's batch boundaries are explicit
    row_number quartiles (read_events_stream_quartiles_thinned), so
    batch membership is a pure function of the table; under ordered
    arrival a key times out in batch k iff it has NO rows in batch k,
    holds live state, and floor_ms(max ts of batch k−1) − delay
    strictly exceeds floor_ms(its last event) + IDLE_MS (Spark fires
    on ``timeoutTimestamp < watermark``; µs-grain data makes exact-ms
    ties unobservable, same note as stream_outer_join_drain). The
    oracle replays this state machine with a recursive CTE — flush,
    merge, or carry each user's state per batch — over FIVE steps,
    not four: after the last file, Spark triggers one NO-DATA
    micro-batch because the watermark advanced (the Spark 2.4.1+
    stateful-timeout behavior), and that batch flushes every
    remaining live state the final watermark clears (measured: 92 of
    the 140 sf0.01 flushes happen in data batches, 48 in the no-data
    batch; modeling only 4 steps under-counts to 92). States the
    final watermark has NOT cleared still never emit, and a flushed
    user reappearing later accumulates (and may flush) again — both
    paths exercised by the fixture and pinned in tests. Output grain
    (user_id, last_ts) is unique: re-flushes carry later timestamps.

    At 100 TB: state is one counter per live entity, timeout metadata
    rides the state row, and emission is flush-grain (entity
    lifecycle), not input-grain — the same bounded posture as the
    other custom-state drains."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import GroupState  # noqa: PLC0415

    from ..streaming.events import (  # noqa: PLC0415
        read_events_stream_quartiles_thinned,
    )

    out_schema = "user_id long, n_events long, last_ts timestamp"
    state_schema = "n long, last_us long"

    def flush(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            n, last_us = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "last_ts": [pd.Timestamp(last_us, unit="us")],
                }
            )
            return
        n, last_us = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            ts_us = (
                pdf["ts"].astype("datetime64[us]").astype("int64")
            )
            last_us = max(last_us, int(ts_us.max()))
        state.update((n, last_us))
        # fires when the watermark strictly passes this (ms grain);
        # data calls emit nothing — only the timed-out branch yields
        state.setTimeoutTimestamp(last_us // 1000 + IDLE_MS)

    spark = _drain_session(spark)
    raw = read_events_stream_quartiles_thinned(spark, sf_dir)
    res = (
        raw.withWatermark("ts", f"{IDLE_DELAY_MS // 1000} seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            flush,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf="EventTimeTimeout",
        )
    )
    return _drain_bounded(
        spark, res, "stream_idle_flush_sink", "update", sf_dir=sf_dir, python_stateful=True
    )


def stream_chained_state_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-grades CHAINED STATEFUL OPERATORS in one streaming query
    — the twelfth streaming state shape (SPARK-42376 machinery): TWO
    state stores in a single plan, ``dropDuplicatesWithinWatermark``
    feeding a watermarked tumbling-window aggregate, with the
    watermark PROPAGATED between them — the surface none of the
    single-operator drains execute (every other drain runs exactly one
    stateful operator; this one certifies the dedup store's output
    becoming the agg store's input inside one micro-batch, and the
    shared watermark finalizing the agg's windows downstream of
    dedup's eviction horizon).

    The input is the planted-duplicate ordered stream
    (read_events_stream_ordered_with_dups): if the dedup stage leaked
    even one copy across the operator boundary, a window's count and
    cents would double-count and the value hash would diverge — so
    the grade proves the chain, not just the final agg. Determinism:
    ordered arrival means no input is late; the dedup output equals
    the original events table (full-row copies, stream_dedup_drain's
    argument), and append mode emits exactly the windows the FINAL
    watermark closed (the post-stream no-data batch advances it to
    floor_ms(max ts) − 48 h; a window emits when its end has been
    passed — the midnight-boundary tie class is unobservable on
    µs-grain data, same note as the other drains). The oracle is the
    batch daily aggregate restricted to those closed windows.

    At 100 TB: two bounded state stores (ids within the watermark
    horizon; one row per open window), one exchange per stateful
    operator — the linear-chain cost every multi-stage streaming
    pipeline pays by construction."""
    from ..streaming.events import (  # noqa: PLC0415
        dedup_within_watermark,
        read_events_stream_ordered_with_dups,
    )

    spark = _drain_session(spark)
    raw = read_events_stream_ordered_with_dups(
        spark, sf_dir, files_per_trigger=DRAIN_FILES_PER_TRIGGER
    )
    dd = dedup_within_watermark(raw, watermark="48 hours")
    agg = dd.groupBy(
        F.window("ts", "1 day").alias("w"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(
            F.round(F.col("value") * 100).cast("long")
        ).alias("cents"),
    )
    res = agg.select(
        F.col("w.start").alias("day"), "event_type", "n", "cents"
    )
    return _drain_bounded(
        spark, res, "stream_chained_state_sink", "append", sf_dir=sf_dir
    )


def stream_merge_snapshot_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-grades the FOREACHBATCH → VERSIONED-SNAPSHOT MERGE last
    mile — the streaming→warehouse sink surface none of the memory-sink
    drains touch: each of four ordered micro-batches is handed to a
    batch writer that READS the current snapshot version, full-outer
    upserts the batch's per-user aggregates into it (matched users
    accumulate, new users insert), and commits a NEW atomic version —
    the exactly-once-per-batch pattern behind every Delta/Iceberg
    `MERGE INTO` streaming sink (with a native MERGE the join below is
    one engine call and the dataflow is unchanged; cites
    merge_user_totals_sink, the float-state original this grades an
    exact twin of). The graded surface: foreachBatch invocation per
    micro-batch, snapshot read-modify-write across versions, and the
    version-pointer flip readers never see half-written.

    Determinism: the accumulator is EXACT integer cents (per-element
    round(value·100), the running_user_totals_exact argument), so the
    final snapshot equals the plain batch aggregate REGARDLESS of how
    the stream was split into batches — the DuckDB oracle. Four
    versions are committed (one per batch); the returned frame is the
    final version's contents.

    At 100 TB: the per-batch cost is the batch-sized partial agg plus
    a join against the CURRENT snapshot keyed on user_id (entity
    grain, not event grain); batch_id is the idempotence key on
    checkpoint replay. The full-outer-join-then-rewrite is the
    parquet-only stand-in — a real lakehouse MERGE touches only
    matched files."""
    from ..sources.writers import (  # noqa: PLC0415
        read_version,
        write_versioned,
    )
    from ..streaming.docs import fresh_tmpdir  # noqa: PLC0415
    from ..streaming.events import (  # noqa: PLC0415
        read_events_stream_ordered,
        release_checkpoint,
        run_foreach_batch,
    )

    spark = _drain_session(spark)
    target = fresh_tmpdir("merge_snap_")
    raw = read_events_stream_ordered(spark, sf_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        agg = batch_df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.round(F.col("value") * 100).cast("long")
            ).alias("cents"),
        )
        try:
            cur = read_version(spark, target).select(
                "user_id",
                F.col("n_events").alias("old_n"),
                F.col("cents").alias("old_c"),
            )
        except Exception:  # noqa: BLE001 - first batch: no snapshot yet
            merged = agg
        else:
            merged = cur.join(
                agg, on="user_id", how="full_outer"
            ).select(
                "user_id",
                (
                    F.coalesce("old_n", F.lit(0))
                    + F.coalesce("n_events", F.lit(0))
                ).alias("n_events"),
                (
                    F.coalesce("old_c", F.lit(0))
                    + F.coalesce("cents", F.lit(0))
                ).alias("cents"),
            )
        write_versioned(merged, target)

    q = run_foreach_batch(raw, sink, output_mode="append")
    q.stop()
    release_checkpoint(q)
    return read_version(spark, target).select(
        "user_id",
        "n_events",
        (F.col("cents") / F.lit(100.0)).alias("total_value"),
    )


def stream_static_join_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-grades the STREAM-STATIC JOIN — the streaming analog of
    the reference's fact-to-dim star joins
    (medical_formula_process.py:116-119) and the one join flavor the
    stream-stream drains don't execute: each ordered micro-batch (4
    staged files, two per trigger — DRAIN_FILES_PER_TRIGGER)
    BROADCAST-joins against a static dimension (the
    customer table's market segment, keyed ``user_id = c_custkey − 1``
    — a real dim, not a derived column), then feeds hourly windowed
    counts per segment in complete mode. The static side is stateless
    by definition (re-resolved per micro-batch, no join state store),
    which is exactly the surface to certify: the join must produce
    batch-identical enrichment on every trigger, and the complete-mode
    aggregate over the enriched stream must equal the one-shot batch
    join + window aggregate — the DuckDB oracle (inner join keeps
    every event: each user_id maps to an existing customer at every
    scale factor, pinned in tests together with all 5 segments
    appearing).

    At 100 TB: the dim broadcasts (dimension tables are
    executor-memory-sized by star-schema construction — same argument
    as every batch star in pipelines/), the stream side never
    shuffles for the join, and the only exchange is the window
    aggregate's segment-grain one."""
    from ..streaming.events import (  # noqa: PLC0415
        enriched_counts,
        read_events_stream_ordered,
    )

    spark = _drain_session(spark)
    customer = load_table(spark, sf_dir, "customer")
    dim = customer.select(
        (F.col("c_custkey") - 1).alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    res = enriched_counts(
        read_events_stream_ordered(
            spark, sf_dir, files_per_trigger=DRAIN_FILES_PER_TRIGGER
        ),
        dim,
        window="1 hour",
        watermark="48 hours",
    )
    return _drain_bounded(
        spark, res, "stream_static_join_sink", "complete", sf_dir=sf_dir
    )


def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (lags 1..ACF_MAX_LAG) of the daily
    order-revenue series — the diagnostic every forecaster runs before
    picking a model (a lag-7 spike says "weekly seasonality, use
    seasonal_naive/Holt-Winters", a slow decay says "trend, difference
    first").

    Pairs (y_t, y_{t-k}) come from ONE ordered pass: a single lag
    window produces all ACF_MAX_LAG shifted columns, which unpivot to
    (lag, x, y) rows, and one groupBy(lag) reduces Pearson sufficient
    statistics. The series is kept in EXACT decimal end to end —
    (18,6)² products accumulate as (38,12) with no float ever summed —
    so the only float math is the final closed-form correlation, which
    is bit-deterministic from identical exact sums on any engine.
    Zero-variance sides are dropped (ACF undefined) rather than
    emitting engine-specific NaN text.

    Scale posture: the data-sized work is the day-grain partial agg of
    the orders scan; the lag window is a single-partition sort of the
    CALENDAR-sized (sf-independent, ~2.4k rows) series, same posture as
    cusum/holt, and the lag unpivot multiplies that tiny frame by
    ACF_MAX_LAG, never the data."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("rev")
    )
    wday = Window.orderBy("day")
    lags = range(1, ACF_MAX_LAG + 1)
    lagged = daily.select(
        "rev",
        *[F.lag("rev", k).over(wday).alias(f"l{k}") for k in lags],
    )
    pairs = (
        lagged.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("lag"),
                            F.col("rev").alias("x"),
                            F.col(f"l{k}").alias("y"),
                        )
                        for k in lags
                    ]
                )
            ).alias("p")
        )
        .select("p.lag", "p.x", "p.y")
        .filter(F.col("y").isNotNull())
    )
    stats = pairs.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    varx = nd * F.col("sxx").cast("double") - (
        F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    vary = nd * F.col("syy").cast("double") - (
        F.col("sy").cast("double") * F.col("sy").cast("double")
    )
    cov = nd * F.col("sxy").cast("double") - (
        F.col("sx").cast("double") * F.col("sy").cast("double")
    )
    return (
        stats.filter((varx > 0) & (vary > 0))
        .select(
            "lag",
            "n",
            F.round(cov / F.sqrt(varx * vary), 6).alias("acf"),
        )
    )


QUERIES = {
    "acf_daily_revenue": acf_daily_revenue,
    "cohort_ltv": cohort_ltv,
    "ohlc_daily": ohlc_daily,
    "stream_ohlc_drain": stream_ohlc_drain,
    "stream_stateful_totals_drain": stream_stateful_totals_drain,
    "stream_join_drain": stream_join_drain,
    "stream_join_multibatch_drain": stream_join_multibatch_drain,
    "stream_dedup_drain": stream_dedup_drain,
    "stream_late_drop_drain": stream_late_drop_drain,
    "stream_join_late_drop_drain": stream_join_late_drop_drain,
    "stream_session_drain": stream_session_drain,
    "stream_outer_join_drain": stream_outer_join_drain,
    "stream_idle_flush_drain": stream_idle_flush_drain,
    "stream_chained_state_drain": stream_chained_state_drain,
    "stream_merge_snapshot_drain": stream_merge_snapshot_drain,
    "stream_static_join_drain": stream_static_join_drain,
    "asof_join": asof_join,
    "kaplan_meier_churn": kaplan_meier_churn,
    "attribution_report": attribution_report,
    "twap_daily": twap_daily,
    "rolling_active_users_hll": rolling_active_users_hll,
    "seasonal_naive_eval": seasonal_naive_eval,
    "event_transition_matrix": event_transition_matrix,
    "top_event_paths": top_event_paths,
    "cusum_changepoints": cusum_changepoints,
    "gapfill_forward": gapfill_forward,
    "gapfill_linear": gapfill_linear,
    "theil_sen_slope": theil_sen_slope,
    "mann_kendall_trend": mann_kendall_trend,
    "max_drawdown": max_drawdown,
    "clamped_running_balance": clamped_running_balance,
    "clamped_balance_window": clamped_balance_window,
    "burstiness_by_type": burstiness_by_type,
    "holt_forecast": holt_forecast,
    "holt_forecast_by_nation": holt_forecast_by_nation,
    "holt_winters_daily": holt_winters_daily,
    "rolling_zscore_anomalies": rolling_zscore_anomalies,
    "interval_overlap_join": interval_overlap_join,
    "rolling_active_users": rolling_active_users,
    "retention_cohorts": retention_cohorts,
    "range_join_activity": range_join_activity,
    "sessionize_events": sessionize_events,
    "funnel_stages": funnel_stages,
    "funnel_windowed": funnel_windowed,
    "conversion_latency": conversion_latency,
    "ewma_smoother": ewma_smoother,
    "seasonal_decompose_hourly": seasonal_decompose_hourly,
    "stl_strength": stl_strength,
    "new_vs_returning": new_vs_returning,
}

ORACLES = {
    "cohort_ltv": """
        WITH p AS (
            SELECT user_id,
                   CAST(date_trunc('week', ts) AS DATE) AS wk,
                   CAST(value AS DECIMAL(18,6)) AS val
            FROM events WHERE event_type = 'purchase'
        ), cohort AS (
            SELECT user_id, min(wk) AS cohort_week FROM p GROUP BY user_id
        ), sized AS (
            SELECT cohort_week, count(*) AS cohort_users
            FROM cohort GROUP BY cohort_week
        ), weekly AS (
            SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
                   CAST(datediff('day', c.cohort_week, p.wk) / 7 AS INT)
                       AS age_weeks,
                   sum(val) AS wk_rev
            FROM p JOIN cohort c ON p.user_id = c.user_id
            GROUP BY 1, 2
        )
        SELECT w.cohort_week, w.age_weeks, s.cohort_users,
               round(CAST(w.wk_rev AS DOUBLE), 4) AS week_revenue,
               round(CAST(sum(w.wk_rev) OVER (PARTITION BY w.cohort_week
                          ORDER BY w.age_weeks ROWS UNBOUNDED PRECEDING)
                          AS DOUBLE) / s.cohort_users, 4) AS ltv_per_user
        FROM weekly w
        JOIN sized s ON w.cohort_week = strftime(s.cohort_week, '%Y-%m-%d')
    """,
    "ohlc_daily": """
        WITH pv AS (
            SELECT CAST(ts AS DATE) AS day, value,
                   row_number() OVER (PARTITION BY CAST(ts AS DATE)
                                      ORDER BY ts, event_id) AS rn_a,
                   row_number() OVER (PARTITION BY CAST(ts AS DATE)
                                      ORDER BY ts DESC, event_id DESC)
                       AS rn_d
            FROM events WHERE event_type = 'purchase'
        )
        SELECT strftime(day, '%Y-%m-%d') AS day,
               count(*) AS n_trades,
               round(max(CASE WHEN rn_a = 1 THEN value END), 4) AS open,
               round(max(value), 4) AS high,
               round(min(value), 4) AS low,
               round(max(CASE WHEN rn_d = 1 THEN value END), 4) AS close,
               round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4)
                   AS volume
        FROM pv
        GROUP BY day
    """,
    "acf_daily_revenue": """
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   sum(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
            FROM orders GROUP BY 1
        ), lagged AS (
            SELECT rev,
                   lag(rev, 1) OVER (ORDER BY day) AS l1,
                   lag(rev, 2) OVER (ORDER BY day) AS l2,
                   lag(rev, 3) OVER (ORDER BY day) AS l3,
                   lag(rev, 4) OVER (ORDER BY day) AS l4,
                   lag(rev, 5) OVER (ORDER BY day) AS l5,
                   lag(rev, 6) OVER (ORDER BY day) AS l6,
                   lag(rev, 7) OVER (ORDER BY day) AS l7
            FROM daily
        ), pairs AS (
            SELECT u.lag, rev AS x, u.y
            FROM lagged,
            LATERAL (
                SELECT * FROM (VALUES (1, l1), (2, l2), (3, l3), (4, l4),
                                      (5, l5), (6, l6), (7, l7))
                    AS v(lag, y)
            ) u
            WHERE u.y IS NOT NULL
        ), stats AS (
            SELECT lag, count(*) AS n,
                   sum(x) AS sx, sum(y) AS sy,
                   sum(x * y) AS sxy, sum(x * x) AS sxx,
                   sum(y * y) AS syy
            FROM pairs GROUP BY lag
        )
        SELECT CAST(lag AS INT) AS lag, n,
               round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                     6) AS acf
        FROM stats
        WHERE (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
          AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
    """,
    "retention_cohorts": """
        WITH cohort AS (
            SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
            FROM events GROUP BY user_id
        ), activity AS (
            SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week
            FROM events
        )
        SELECT cohort_week,
               (date_diff('day', cohort_week, act_week) / 7)::BIGINT
                   AS weeks_since,
               count(DISTINCT a.user_id)::BIGINT AS n_active
        FROM activity a JOIN cohort c ON a.user_id = c.user_id
        GROUP BY 1, 2
    """,
    "sessionize_events": f"""
        WITH marked AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN date_diff('second',
                            lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id),
                            ts) > {SESSION_GAP_SEC}
                        THEN 1 ELSE 0 END AS brk
            FROM events
        ), ids AS (
            SELECT user_id, ts,
                   sum(brk) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS session_id
            FROM marked
        )
        SELECT user_id, session_id::BIGINT AS session_id,
               min(ts) AS session_start, max(ts) AS session_end,
               count(*)::BIGINT AS n_events
        FROM ids GROUP BY user_id, session_id
    """,
    "funnel_stages": """
        WITH per_user AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                   min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                   min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
            FROM events GROUP BY user_id
        )
        SELECT sum((t_view IS NOT NULL)::INT)::BIGINT AS n_viewed,
               sum((t_view IS NOT NULL AND t_click IS NOT NULL
                    AND t_click > t_view)::INT)::BIGINT
                   AS n_clicked_after_view,
               sum((t_view IS NOT NULL AND t_click IS NOT NULL
                    AND t_click > t_view AND t_buy IS NOT NULL
                    AND t_buy > t_click)::INT)::BIGINT
                   AS n_purchased_after_click
        FROM per_user
    """,
    "asof_join": """
        SELECT p.event_id, p.user_id, p.ts, c.ts AS click_ts,
               date_diff('second', c.ts, p.ts)::BIGINT AS gap_sec
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    "range_join_activity": f"""
        SELECT s.event_id AS signup_id, s.user_id,
               s.ts AS signup_ts, count(e.ts)::BIGINT AS n_follow
        FROM (SELECT * FROM events WHERE event_type = 'signup') s
        LEFT JOIN events e
          ON s.user_id = e.user_id
         AND e.ts > s.ts
         AND e.ts <= s.ts + INTERVAL {RANGE_WINDOW_SEC} SECOND
        GROUP BY 1, 2, 3
    """,
    "rolling_active_users": f"""
        WITH activity AS (
            SELECT DISTINCT user_id, ts::DATE AS day FROM events
        ),
        span AS (SELECT min(day) AS d0, max(day) AS d1 FROM activity),
        contrib AS (
            SELECT a.user_id,
                   unnest(generate_series(
                       greatest(a.day, s.d0),
                       least(a.day + INTERVAL {WAU_WINDOW_DAYS - 1} DAY,
                             s.d1),
                       INTERVAL 1 DAY))::DATE AS report_day
            FROM activity a, span s
        )
        SELECT strftime(report_day, '%Y-%m-%d') AS report_day,
               count(DISTINCT user_id) AS active_users
        FROM contrib GROUP BY report_day
    """,
    "interval_overlap_join": f"""
        WITH sessions AS ({{SESSIONIZE_SQL}}),
        errors AS (
            SELECT user_id, event_id AS incident_id,
                   ts - INTERVAL {INCIDENT_PAD_SEC} SECOND AS i_start,
                   ts + INTERVAL {INCIDENT_PAD_SEC} SECOND AS i_end
            FROM events WHERE event_type = 'error'
        )
        SELECT s.user_id, s.session_id, e.incident_id,
               date_diff('second',
                         greatest(s.session_start, e.i_start),
                         least(s.session_end, e.i_end))::BIGINT
                   AS overlap_sec
        FROM sessions s
        JOIN errors e
          ON s.user_id = e.user_id
         AND s.session_start <= e.i_end
         AND e.i_start <= s.session_end
    """,
    "rolling_zscore_anomalies": f"""
        WITH scored AS (
            SELECT event_id, user_id, ts, value,
                   avg(value) OVER w AS mu,
                   stddev_samp(value) OVER w AS sd,
                   count(value) OVER w AS n_hist
            FROM events
            WHERE event_type = 'purchase'
            WINDOW w AS (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN {ZS_WINDOW} PRECEDING AND 1 PRECEDING
            )
        )
        SELECT event_id, user_id, ts, value,
               round((value - mu) / sd, 4) AS zscore
        FROM scored
        WHERE n_hist >= {ZS_MIN_N} AND sd > 0
          AND abs((value - mu) / sd) > {ZS_THRESH}
    """,
    "gapfill_forward": """
        WITH daily AS (
            SELECT user_id, ts::DATE AS day,
                   CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4)
                        AS DOUBLE) AS day_value
            FROM events WHERE event_type = 'purchase'
            GROUP BY 1, 2
        ),
        grid AS (
            SELECT user_id,
                   unnest(generate_series(min(day), max(day),
                                          INTERVAL 1 DAY))::DATE AS day
            FROM daily GROUP BY user_id
        )
        SELECT g.user_id, strftime(g.day, '%Y-%m-%d') AS day,
               d.day_value IS NOT NULL AS observed,
               last_value(d.day_value IGNORE NULLS) OVER (
                   PARTITION BY g.user_id ORDER BY g.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS filled_value
        FROM grid g
        LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
    """,
}

ORACLES["interval_overlap_join"] = ORACLES["interval_overlap_join"].replace(
    "{SESSIONIZE_SQL}", ORACLES["sessionize_events"]
)

ORACLES["seasonal_naive_eval"] = f"""
    WITH filled AS ({ORACLES["gapfill_forward"]}),
    scored AS (
        SELECT user_id, day, filled_value,
               lag(filled_value, {FORECAST_LAG_DAYS}) OVER (
                   PARTITION BY user_id ORDER BY day) AS forecast
        FROM filled
    )
    SELECT user_id, count(*)::BIGINT AS n_scored,
           CAST(round(CAST(CAST(sum(CAST(abs(filled_value - forecast)
                                        AS DECIMAL(18,6))) AS DOUBLE)
                           / count(*) AS DECIMAL(18,8)), 4) AS DOUBLE)
               AS mae,
           CAST(round(CAST(CAST(sum(CAST(filled_value - forecast
                                         AS DECIMAL(18,6))) AS DOUBLE)
                           / count(*) AS DECIMAL(18,8)), 4) AS DOUBLE)
               AS bias
    FROM scored WHERE forecast IS NOT NULL
    GROUP BY user_id
"""

# Same double literals, same left-associative expression order as the
# Spark build — identical IEEE arithmetic on both engines.
_EWMA_TERMS = " + ".join(
    f"lag(value, {j}) OVER w * {EWMA_WEIGHTS[j]!r}"
    for j in range(EWMA_LAGS)
)
ORACLES["ewma_smoother"] = f"""
    WITH seq AS (
        SELECT event_id, user_id, ts, value,
               row_number() OVER w AS rn,
               {_EWMA_TERMS} AS raw
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, ts, value, round(raw, 4) AS ewma
    FROM seq WHERE rn >= {EWMA_LAGS}
"""

# the streaming drain is semantics-identical to the batch bars once
# all windows close (stream-vs-batch bit-equality pinned in
# tests/test_streaming.py), so it shares the batch oracle verbatim —
# the driver hash then grades the streaming execution path itself
ORACLES["stream_ohlc_drain"] = ORACLES["ohlc_daily"]

# single micro-batch => no late-data eviction => the stream-stream
# join drain equals the plain batch interval join
ORACLES["stream_join_drain"] = """
    SELECT p.event_id AS event_id, p.user_id AS user_id,
           p.ts AS purchase_ts,
           c.event_id AS click_id, c.ts AS click_ts
    FROM events p JOIN events c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""

# the multi-batch drain replays the same batch-join semantics through
# ordered micro-batches with a 24-h horizon (no-late-input proof in
# its docstring; wide horizon so matches straddle batch boundaries)
ORACLES["stream_join_multibatch_drain"] = """
    SELECT p.event_id AS event_id, p.user_id AS user_id,
           p.ts AS purchase_ts,
           c.event_id AS click_id, c.ts AS click_ts
    FROM events p JOIN events c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 24 HOUR
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""

# dedup drain: planted exact duplicates dropped by the dedup state
# store; output = the original table (drain docstring has the
# determinism argument)
ORACLES["stream_dedup_drain"] = """
    SELECT event_id, ts, user_id, event_type, value, props FROM events
"""

# outer-join replay (determinism argument on the drain): inner part =
# the batch interval join; null part = unmatched purchases the FINAL
# watermark passed, where the watermark is the MIN across the two
# watermarked sides (multipleWatermarkPolicy=min default — using the
# events-global max admits 2 extra null rows on this fixture,
# measured) and eviction is ts < wm
ORACLES["stream_outer_join_drain"] = """
    WITH wm AS (
        SELECT least(
            (SELECT CAST(date_trunc('millisecond', max(ts))
                    AS TIMESTAMP)
             FROM events WHERE event_type = 'click'),
            (SELECT CAST(date_trunc('millisecond', max(ts))
                    AS TIMESTAMP)
             FROM events WHERE event_type = 'purchase')
        ) - INTERVAL 48 HOUR AS w
    ), matched AS (
        SELECT p.event_id AS event_id, p.user_id AS user_id,
               p.ts AS purchase_ts,
               c.event_id AS click_id, c.ts AS click_ts
        FROM events p JOIN events c
          ON c.user_id = p.user_id
         AND c.ts <= p.ts
         AND c.ts >= p.ts - INTERVAL 24 HOUR
        WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    )
    SELECT * FROM matched
    UNION ALL
    SELECT p.event_id, p.user_id, p.ts,
           NULL::BIGINT AS click_id, NULL::TIMESTAMP AS click_ts
    FROM events p
    WHERE p.event_type = 'purchase'
      AND p.event_id NOT IN (SELECT event_id FROM matched)
      AND p.ts < (SELECT w FROM wm)
"""

# late-data join replay (determinism argument on the drain): kept =
# cohorts 0/1 plus cohort-2 rows the cohort-0 watermark had not passed
# (wmF = floor_ms(min-of-sides max over cohort 0) − 24 h); emitted =
# the batch interval join over kept — evicted state is disjoint from
# kept late rows in match space, so eviction removes nothing extra
ORACLES["stream_join_late_drop_drain"] = """
    WITH wmf AS (
        SELECT least(
            (SELECT CAST(date_trunc('millisecond', max(ts))
                    AS TIMESTAMP)
             FROM events
             WHERE event_type = 'click' AND event_id % 3 = 0),
            (SELECT CAST(date_trunc('millisecond', max(ts))
                    AS TIMESTAMP)
             FROM events
             WHERE event_type = 'purchase' AND event_id % 3 = 0)
        ) - INTERVAL 24 HOUR AS w
    ), kept AS (
        SELECT * FROM events
        WHERE event_id % 3 < 2 OR ts >= (SELECT w FROM wmf)
    )
    SELECT p.event_id AS event_id, p.user_id AS user_id,
           p.ts AS purchase_ts,
           c.event_id AS click_id, c.ts AS click_ts
    FROM kept p JOIN kept c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 24 HOUR
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""

# session-window replay (determinism argument on the drain): ordered
# arrival => batch gaps-and-islands membership; break at diff > gap —
# Spark MERGES two point events exactly gap apart (its overlap test is
# next.start <= prev.end, boundary-inclusive; pinned empirically in
# test_stream_session_drain_exact_gap_boundary), the same > convention
# as the batch twin sessionize_events; emitted = sessions whose end
# the final watermark passed
ORACLES["stream_session_drain"] = """
    WITH wm AS (
        SELECT CAST(date_trunc('millisecond', max(ts)) AS TIMESTAMP)
               - INTERVAL 48 HOUR AS w
        FROM events
    ), marked AS (
        SELECT user_id, ts, event_id, value,
               -- interval comparison, NOT epoch() doubles: epoch()
               -- quantizes at ~2.4e-7 s near 1.6e9, so an EXACT
               -- 1800 s gap could flip > 1800 and falsely break the
               -- session Spark merges (review finding, round 9)
               CASE WHEN ts - lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                    > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        FROM events
    ), sess AS (
        SELECT user_id, ts, value,
               sum(brk) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id, count(*)::BIGINT AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               AS total_value
    FROM sess GROUP BY user_id, sid
    HAVING max(ts) + INTERVAL 30 MINUTE <= (SELECT w FROM wm)
"""

# watermark-discard replay (determinism argument in the drain's
# docstring): wmf = the late-event watermark cohort 2 is filtered by
# (displayed watermark of batch 1 = floor_ms(max ts of cohort 0) −
# delay), wme = the final eviction watermark (floor_ms(global max) −
# delay). Cohorts 0 and 1 are never filtered; cohort 2 keeps only
# windows still open at wmf; emitted set = windows closed by wme.
ORACLES["stream_late_drop_drain"] = """
    WITH wmf AS (
        SELECT CAST(date_trunc('millisecond', max(ts)) AS TIMESTAMP)
               - INTERVAL 24 HOUR AS w
        FROM events WHERE event_id % 3 = 0
    ), wme AS (
        SELECT CAST(date_trunc('millisecond', max(ts)) AS TIMESTAMP)
               - INTERVAL 24 HOUR AS w
        FROM events
    ), win AS (
        SELECT *, time_bucket(INTERVAL 5 MINUTE, ts) AS bucket
        FROM events
    ), kept AS (
        SELECT * FROM win WHERE event_id % 3 < 2
        UNION ALL
        SELECT * FROM win WHERE event_id % 3 = 2
          AND bucket + INTERVAL 5 MINUTE > (SELECT w FROM wmf)
    )
    SELECT bucket, event_type, count(*)::BIGINT AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               AS total_value
    FROM kept
    WHERE bucket + INTERVAL 5 MINUTE <= (SELECT w FROM wme)
    GROUP BY 1, 2
"""

# the stateful drain's final snapshots equal the plain batch aggregate
# because the state is exact integer cents (order/split-independent);
# cents/100.0 and CAST(exact DECIMAL(18,2) sum AS DOUBLE) are both the
# nearest double to the same exact rational
ORACLES["stream_stateful_totals_drain"] = """
    SELECT user_id, count(*)::BIGINT AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               AS total_value
    FROM events GROUP BY user_id
"""

ORACLES["cusum_changepoints"] = f"""
    WITH RECURSIVE daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                   AS rev
        FROM orders GROUP BY 1
    ), stats AS (
        SELECT count(*) AS n,
               CAST(sum(CAST(rev AS DECIMAL(24,6))) AS DOUBLE) AS sx,
               CAST(sum(CAST(rev AS DECIMAL(24,6))
                        * CAST(rev AS DECIMAL(24,6))) AS DOUBLE) AS sxx
        FROM daily
    ), z AS (
        SELECT day, rev,
               (rev - sx / n)
                   / sqrt((sxx - sx * sx / n) / (n - 1.0)) AS z,
               row_number() OVER (ORDER BY day) AS rn
        FROM daily, stats
        -- degenerate-series guard mirrored from the engine: a 1-day
        -- or constant series has no defined z (div by 0) — emit rows
        -- only when the (n-1) sample variance is strictly positive
        WHERE n >= 2 AND (sxx - sx * sx / n) / (n - 1.0) > 0.0
    ), rec AS (
        SELECT day, rev, rn,
               greatest(0.0, 0.0 + z - {CUSUM_K}) AS sp,
               greatest(0.0, 0.0 - z - {CUSUM_K}) AS sn
        FROM z WHERE rn = 1
        UNION ALL
        SELECT z.day, z.rev, z.rn,
               greatest(0.0, rec.sp + z.z - {CUSUM_K}),
               greatest(0.0, rec.sn - z.z - {CUSUM_K})
        FROM z JOIN rec ON z.rn = rec.rn + 1
    )
    SELECT CAST(day AS VARCHAR) AS day, rev,
           sp AS cusum_pos, sn AS cusum_neg,
           (sp > {CUSUM_H} OR sn > {CUSUM_H}) AS alarm
    FROM rec
"""

ORACLES["gapfill_linear"] = """
    WITH daily AS (
        SELECT user_id, ts::DATE AS day,
               CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4)
                    AS DOUBLE) AS day_value
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, 2
    ),
    grid AS (
        SELECT user_id,
               unnest(generate_series(min(day), max(day),
                                      INTERVAL 1 DAY))::DATE AS day
        FROM daily GROUP BY user_id
    ),
    nbr AS (
        SELECT g.user_id, g.day, d.day_value,
               last_value(d.day_value IGNORE NULLS) OVER wp AS pv,
               last_value(CASE WHEN d.day_value IS NOT NULL
                               THEN g.day END IGNORE NULLS)
                   OVER wp AS pd,
               first_value(d.day_value IGNORE NULLS) OVER wn AS nv,
               first_value(CASE WHEN d.day_value IS NOT NULL
                                THEN g.day END IGNORE NULLS)
                   OVER wn AS nd
        FROM grid g
        LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
        WINDOW wp AS (PARTITION BY g.user_id ORDER BY g.day
                      ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW),
               wn AS (PARTITION BY g.user_id ORDER BY g.day
                      ROWS BETWEEN CURRENT ROW
                               AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           day_value IS NOT NULL AS observed,
           CAST(round(CAST(
               CASE WHEN day_value IS NOT NULL THEN day_value
                    ELSE pv + (nv - pv)
                         * (CAST(date_diff('day', pd, day) AS DOUBLE)
                            / CAST(date_diff('day', pd, nd)
                                   AS DOUBLE))
               END AS DECIMAL(18,8)), 4) AS DOUBLE) AS interp_value
    FROM nbr
"""

ORACLES["theil_sen_slope"] = f"""
    WITH monthly AS (
        SELECT year(CAST(o_orderdate AS DATE)) * 12
               + month(CAST(o_orderdate AS DATE)) AS mi,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                   AS rev
        FROM orders GROUP BY 1
    ), pairs AS (
        SELECT (b.rev - a.rev) / CAST(b.mi - a.mi AS DOUBLE) AS slope
        FROM monthly a JOIN monthly b ON a.mi < b.mi
    ), ranked AS (
        SELECT slope, row_number() OVER (ORDER BY slope) AS rk,
               count(*) OVER () AS n
        FROM pairs
    )
    SELECT max(n)::BIGINT AS n_pairs,
           round(avg(slope), {TS_ROUND}) AS theil_sen_slope
    FROM ranked
    WHERE rk = (n + 1) // 2 OR rk = (n + 2) // 2
"""

ORACLES["holt_forecast"] = f"""
    WITH RECURSIVE daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                   AS rev
        FROM orders GROUP BY 1
    ), y AS (
        SELECT day, rev, row_number() OVER (ORDER BY day) AS rn
        FROM daily
    ), rec AS (
        SELECT a.day, a.rev, a.rn,
               a.rev AS level,
               b.rev - a.rev AS trend,
               CAST(NULL AS DOUBLE) AS forecast,
               CAST(NULL AS DOUBLE) AS abs_err
        FROM y a JOIN y b ON a.rn = 1 AND b.rn = 2
        UNION ALL
        SELECT y.day, y.rev, y.rn,
               {HOLT_A} * y.rev
                   + {HOLT_1A} * (rec.level + rec.trend),
               {HOLT_B} * (({HOLT_A} * y.rev
                            + {HOLT_1A} * (rec.level + rec.trend))
                           - rec.level)
                   + {HOLT_1B} * rec.trend,
               rec.level + rec.trend,
               abs(y.rev - (rec.level + rec.trend))
        FROM y JOIN rec ON y.rn = rec.rn + 1
    )
    SELECT CAST(day AS VARCHAR) AS day, rev, level, trend,
           forecast, abs_err
    FROM rec
"""

ORACLES["conversion_latency"] = """
    WITH tagged AS (
        SELECT user_id, ts, event_type,
               max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS last_click_us
        FROM events
    ), lat AS (
        SELECT CAST(ts AS DATE) AS day0,
               epoch_us(ts) - last_click_us AS gap_us
        FROM tagged
        WHERE event_type = 'purchase' AND last_click_us IS NOT NULL
    ), ranked AS (
        SELECT day0, gap_us,
               row_number() OVER (PARTITION BY day0 ORDER BY gap_us)
                   AS rk,
               count(*) OVER (PARTITION BY day0) AS n
        FROM lat
    )
    SELECT strftime(day0, '%Y-%m-%d') AS day,
           max(n)::BIGINT AS n_conversions,
           round(avg(CAST(gap_us AS DOUBLE)) / 1e6, 4) AS median_gap_s
    FROM ranked
    WHERE rk = (n + 1) // 2 OR rk = (n + 2) // 2
    GROUP BY day0
"""

ORACLES["funnel_windowed"] = f"""
    WITH s1 AS (
        SELECT user_id, ts, event_type,
               min(CASE WHEN event_type = 'view' THEN ts END)
                   OVER (PARTITION BY user_id) AS t_view
        FROM events
    ), s2 AS (
        SELECT *,
               min(CASE WHEN event_type = 'click' AND ts > t_view
                        AND epoch_us(ts) <= epoch_us(t_view)
                            + CAST({FW_CLICK_MIN} AS BIGINT) * 60000000
                        THEN ts END)
                   OVER (PARTITION BY user_id) AS t_click
        FROM s1
    ), s3 AS (
        SELECT *,
               min(CASE WHEN event_type = 'purchase' AND ts > t_click
                        AND epoch_us(ts) <= epoch_us(t_click)
                            + CAST({FW_BUY_MIN} AS BIGINT) * 60000000
                        THEN ts END)
                   OVER (PARTITION BY user_id) AS t_buy
        FROM s2
    ), per_user AS (
        SELECT user_id, max(t_view) AS t_view,
               max(t_click) AS t_click, max(t_buy) AS t_buy
        FROM s3 GROUP BY user_id
    )
    SELECT sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_viewed,
           sum(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_clicked_in_window,
           sum(CASE WHEN t_buy IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_purchased_in_window
    FROM per_user
"""

ORACLES["holt_winters_daily"] = f"""
    WITH RECURSIVE daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                   AS rev
        FROM orders GROUP BY 1
    ), y AS (
        SELECT day, rev, row_number() OVER (ORDER BY day) AS rn
        FROM daily
    ), init AS (
        SELECT list(rev ORDER BY rn) AS ys
        FROM y WHERE rn <= {HW_M}
    ), rec AS (
        SELECT CAST({HW_M} AS BIGINT) AS rn,
               CAST(NULL AS VARCHAR) AS day,
               CAST(NULL AS DOUBLE) AS rev,
               ys[{HW_M}] AS level,
               (ys[{HW_M}] - ys[1]) / {HW_M - 1} AS trend,
               CAST(NULL AS DOUBLE) AS seasonal,
               CAST(NULL AS DOUBLE) AS forecast,
               CAST(NULL AS DOUBLE) AS abs_err,
               list_transform(ys, x -> x - ys[{HW_M}]) AS s
        FROM init
        UNION ALL
        SELECT y.rn,
               CAST(y.day AS VARCHAR),
               y.rev,
               {HW_A} * (y.rev - rec.s[1])
                   + {HW_1A} * (rec.level + rec.trend),
               {HW_B} * (({HW_A} * (y.rev - rec.s[1])
                          + {HW_1A} * (rec.level + rec.trend))
                         - rec.level)
                   + {HW_1B} * rec.trend,
               {HW_G} * (y.rev - ({HW_A} * (y.rev - rec.s[1])
                                  + {HW_1A} * (rec.level + rec.trend)))
                   + {HW_1G} * rec.s[1],
               rec.level + rec.trend + rec.s[1],
               abs(y.rev - (rec.level + rec.trend + rec.s[1])),
               list_append(rec.s[2:{HW_M}],
                           {HW_G} * (y.rev
                                     - ({HW_A} * (y.rev - rec.s[1])
                                        + {HW_1A} * (rec.level
                                                     + rec.trend)))
                           + {HW_1G} * rec.s[1])
        FROM y JOIN rec ON y.rn = rec.rn + 1
    )
    SELECT day, rev, level, trend, seasonal, forecast, abs_err
    FROM rec WHERE rn > {HW_M}
"""

ORACLES["burstiness_by_type"] = """
    WITH gaps AS (
        SELECT event_type,
               epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY event_type, user_id
                         ORDER BY ts, event_id) AS gap_us
        FROM events
    ), st AS (
        SELECT event_type, count(*) AS n_gaps,
               sum(CAST(gap_us AS DECIMAL(38,0))) AS s1,
               sum(CAST(gap_us AS DECIMAL(19,0))
                   * CAST(gap_us AS DECIMAL(19,0))) AS s2
        FROM gaps WHERE gap_us IS NOT NULL
        GROUP BY event_type
    )
    SELECT event_type, n_gaps,
           round(CAST(s1 AS DOUBLE) / n_gaps / 1e6, 4) AS mean_gap_s,
           round((sqrt((CAST(s2 AS DOUBLE)
                        - n_gaps * (CAST(s1 AS DOUBLE) / n_gaps)
                                 * (CAST(s1 AS DOUBLE) / n_gaps))
                       / (n_gaps - 1))
                  - CAST(s1 AS DOUBLE) / n_gaps)
                 / (sqrt((CAST(s2 AS DOUBLE)
                          - n_gaps * (CAST(s1 AS DOUBLE) / n_gaps)
                                   * (CAST(s1 AS DOUBLE) / n_gaps))
                         / (n_gaps - 1))
                    + CAST(s1 AS DOUBLE) / n_gaps),
                 6) AS burstiness
    FROM st
    WHERE n_gaps > 1
"""

ORACLES["clamped_running_balance"] = f"""
    WITH RECURSIVE base AS (
        SELECT user_id, ts, event_id,
               CAST(CASE WHEN event_type = 'purchase'
                    THEN coalesce(value, 0.0)
                    ELSE -{CRB_BURN} END AS DOUBLE) AS delta,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), rec AS (
        SELECT user_id, event_id, delta, rn,
               greatest(delta, 0.0) AS balance
        FROM base WHERE rn = 1
        UNION ALL
        SELECT b.user_id, b.event_id, b.delta, b.rn,
               greatest(rec.balance + b.delta, 0.0)
        FROM base b
        JOIN rec ON b.user_id = rec.user_id AND b.rn = rec.rn + 1
    )
    SELECT user_id, event_id, round(delta, 4) AS delta,
           round(balance, 4) AS balance
    FROM rec
"""

ORACLES["clamped_balance_window"] = f"""
    WITH base AS (
        SELECT user_id, ts, event_id,
               CAST(CASE WHEN event_type = 'purchase'
                    THEN coalesce(value, 0.0)
                    ELSE -{CRB_BURN} END AS DOUBLE) AS delta
        FROM events
    ), s AS (
        SELECT user_id, ts, event_id, delta,
               sum(delta) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS s
        FROM base
    ), b AS (
        SELECT user_id, event_id, delta,
               s - least(0.0, min(s) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING)) AS balance
        FROM s
    )
    SELECT user_id, event_id, round(delta, 4) AS delta,
           round(balance, 4) AS balance
    FROM b
"""

ORACLES["max_drawdown"] = """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                   AS rev
        FROM orders GROUP BY 1
    ), dd AS (
        SELECT rev,
               rev / max(rev) OVER (ORDER BY day
                    ROWS UNBOUNDED PRECEDING) - 1.0 AS drawdown
        FROM daily
    )
    SELECT count(*)::BIGINT AS n_days,
           round(min(drawdown), 6) AS max_drawdown,
           round(max(rev), 4) AS peak_revenue
    FROM dd
"""

ORACLES["mann_kendall_trend"] = f"""
    WITH monthly AS (
        SELECT year(o_orderdate) * 12 + month(o_orderdate) AS mi,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                   AS rev
        FROM orders GROUP BY 1
    ), s AS (
        SELECT CAST(sum(sign(b.rev - a.rev)) AS BIGINT) AS s_stat
        FROM monthly a JOIN monthly b ON a.mi < b.mi
    ), nn AS (
        SELECT count(*) AS n FROM monthly
    ), ties AS (
        SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS tie_term
        FROM (SELECT count(*) AS t FROM monthly GROUP BY rev
              HAVING count(*) > 1)
    ), j AS (
        SELECT n, s_stat,
               (CAST(n AS DOUBLE) * (n - 1.0) * (2.0 * n + 5.0)
                - CAST(tie_term AS DOUBLE)) / 18.0 AS var
        FROM s, nn, ties
    ), zed AS (
        SELECT n, s_stat,
               CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var)
                    WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var)
                    ELSE 0.0 END AS z
        FROM j
    )
    SELECT n, s_stat, round(z, 4) AS z,
           CASE WHEN z > {MK_Z95} THEN 'increasing'
                WHEN z < -{MK_Z95} THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM zed
"""

ORACLES["holt_forecast_by_nation"] = f"""
    WITH RECURSIVE daily AS (
        SELECT n_name AS nation, CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                   AS rev
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2
    ), y AS (
        SELECT nation, day, rev,
               row_number() OVER (PARTITION BY nation ORDER BY day) AS rn
        FROM daily
    ), rec AS (
        SELECT a.nation, a.day, a.rev, a.rn,
               a.rev AS level,
               b.rev - a.rev AS trend,
               CAST(NULL AS DOUBLE) AS forecast,
               CAST(NULL AS DOUBLE) AS abs_err
        FROM y a JOIN y b ON a.rn = 1 AND b.rn = 2 AND a.nation = b.nation
        UNION ALL
        SELECT y.nation, y.day, y.rev, y.rn,
               {HOLT_A} * y.rev + {HOLT_1A} * (rec.level + rec.trend),
               {HOLT_B} * (({HOLT_A} * y.rev
                            + {HOLT_1A} * (rec.level + rec.trend))
                           - rec.level)
                   + {HOLT_1B} * rec.trend,
               rec.level + rec.trend,
               abs(y.rev - (rec.level + rec.trend))
        FROM y JOIN rec ON y.rn = rec.rn + 1 AND y.nation = rec.nation
    )
    SELECT nation, CAST(day AS VARCHAR) AS day, rev, level, trend,
           forecast, abs_err
    FROM rec
"""

ORACLES["twap_daily"] = """
    WITH p AS (
        SELECT user_id, ts, event_id, ts::DATE AS day,
               CAST(value AS DECIMAL(18,6)) AS val
        FROM events WHERE event_type = 'purchase'
    ), d AS (
        SELECT user_id, day, val,
               CAST(
                   COALESCE(
                       epoch_us(lead(ts) OVER (PARTITION BY user_id, day
                                               ORDER BY ts, event_id)),
                       epoch_us((day + INTERVAL 1 DAY)::TIMESTAMP)
                   ) - epoch_us(ts) AS DECIMAL(20,0)) AS dur
        FROM p
    )
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           count(*)::BIGINT AS n_obs,
           round(CAST(sum(val * dur) AS DOUBLE)
                 / CAST(sum(dur) AS DOUBLE), 4) AS twap
    FROM d GROUP BY user_id, day
"""

ORACLES["kaplan_meier_churn"] = f"""
    WITH users AS (
        SELECT user_id, min(ts::DATE) AS d0, max(ts::DATE) AS d1
        FROM events GROUP BY 1
    ), horizon AS (SELECT max(ts::DATE) AS obs_end FROM events),
    life AS (
        SELECT date_diff('day', d0, d1) AS duration,
               date_diff('day', d1, obs_end) < {KM_CENSOR_DAYS}
                   AS censored
        FROM users, horizon
    ), per_t AS (
        SELECT duration,
               sum(CASE WHEN NOT censored THEN 1 ELSE 0 END)::BIGINT
                   AS n_churned,
               sum(CASE WHEN censored THEN 1 ELSE 0 END)::BIGINT
                   AS n_censored
        FROM life GROUP BY 1
    ), risk AS (
        SELECT duration, n_churned, n_censored,
               sum(n_churned + n_censored) OVER ()
               - COALESCE(sum(n_churned + n_censored)
                          OVER (ORDER BY duration
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), 0) AS n_risk
        FROM per_t
    ), fac AS (
        SELECT *,
               1.0 - n_churned / CAST(n_risk AS DOUBLE) AS factor
        FROM risk
    )
    SELECT duration AS duration_days, n_risk::BIGINT AS n_risk,
           n_churned, n_censored,
           CASE WHEN max(CASE WHEN factor = 0 THEN 1 ELSE 0 END)
                     OVER cum = 1
                THEN 0.0
                ELSE round(exp(sum(CASE WHEN factor > 0
                                        THEN ln(factor)
                                        ELSE 0.0 END) OVER cum), 4)
           END AS survival
    FROM fac
    WINDOW cum AS (ORDER BY duration
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""

ORACLES["attribution_report"] = f"""
    WITH tagged AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS is_p,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum_p
        FROM events
    ), grouped AS (
        SELECT *, CASE WHEN is_p = 1 THEN cum_p ELSE cum_p + 1 END
                      AS grp
        FROM tagged
    ), with_conv AS (
        SELECT *,
               max(CASE WHEN is_p = 1 THEN ts END)
                   OVER (PARTITION BY user_id, grp) AS conv_ts
        FROM grouped
    ), touches AS (
        SELECT event_type AS channel,
               row_number() OVER (PARTITION BY user_id, grp
                                  ORDER BY ts, event_id) AS rn_f,
               row_number() OVER (PARTITION BY user_id, grp
                                  ORDER BY ts DESC, event_id DESC)
                   AS rn_l,
               count(*) OVER (PARTITION BY user_id, grp) AS n_t
        FROM with_conv
        WHERE is_p = 0 AND conv_ts IS NOT NULL AND ts < conv_ts
          AND ts >= conv_ts - INTERVAL {ATTRIB_WINDOW_SEC} SECOND
    ), by_len AS (
        SELECT channel, n_t, count(*)::BIGINT AS cnt,
               sum(CASE WHEN rn_f = 1 THEN 1 ELSE 0 END)::BIGINT AS ft,
               sum(CASE WHEN rn_l = 1 THEN 1 ELSE 0 END)::BIGINT AS lt
        FROM touches GROUP BY 1, 2
    )
    SELECT channel, sum(cnt)::BIGINT AS touches,
           sum(ft)::BIGINT AS first_touch,
           sum(lt)::BIGINT AS last_touch,
           round(sum(CAST(cnt AS DOUBLE) / CAST(n_t AS DOUBLE)), 4)
               AS linear_credit
    FROM by_len GROUP BY 1
"""

ORACLES["top_event_paths"] = f"""
    WITH stepped AS (
        SELECT event_type AS e1,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1 || ' > ' || e2 || ' > ' || e3 AS path,
           count(*)::BIGINT AS n
    FROM stepped
    WHERE e3 IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC, path NULLS LAST
    LIMIT {PATH_TOPK}
"""

ORACLES["event_transition_matrix"] = """
    WITH pairs AS (
        SELECT lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS from_type,
               event_type AS to_type
        FROM events
    ),
    counted AS (
        SELECT from_type, to_type, count(*) AS n
        FROM pairs WHERE from_type IS NOT NULL
        GROUP BY 1, 2
    ),
    totals AS (
        SELECT from_type, sum(n) AS n_from FROM counted GROUP BY 1
    )
    SELECT c.from_type, c.to_type, c.n,
           round(c.n / t.n_from, 6) AS p
    FROM counted c JOIN totals t USING (from_type)
"""

ORACLES["seasonal_decompose_hourly"] = f"""
    WITH series AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket,
               count(*)::BIGINT AS n
        FROM events GROUP BY 1, 2
    ), tr AS (
        SELECT *, avg(n) OVER (
            PARTITION BY event_type ORDER BY bucket
            ROWS BETWEEN {TREND_HALF_WIN} PRECEDING
                     AND {TREND_HALF_WIN} FOLLOWING
        ) AS trend FROM series
    ), se AS (
        SELECT *, CAST(sum(CAST(n - trend AS DECIMAL(28,12))) OVER (
                     PARTITION BY event_type, extract(hour FROM bucket)
                 ) AS DOUBLE)
                 / count(*) OVER (
                     PARTITION BY event_type, extract(hour FROM bucket)
                 ) AS seasonal FROM tr
    )
    SELECT event_type, bucket, n,
           CAST(round(CAST(trend AS DECIMAL(18,8)), 4) AS DOUBLE)
               AS trend,
           CAST(round(CAST(seasonal AS DECIMAL(18,8)), 4) AS DOUBLE)
               AS seasonal,
           CAST(round(CAST(n - trend - seasonal AS DECIMAL(18,8)), 4)
                AS DOUBLE) AS resid
    FROM se
"""

ORACLES["stl_strength"] = f"""
    WITH dec AS ({{DECOMPOSE}}),
    st AS (
        SELECT event_type, count(*) AS n_buckets,
               var_samp(resid) AS vr,
               var_samp(seasonal + resid) AS vsr,
               var_samp(trend + resid) AS vtr
        FROM dec WHERE resid IS NOT NULL
        GROUP BY event_type
    )
    SELECT event_type, n_buckets,
           round(greatest(0.0, 1.0 - vr / vsr), 4) AS seasonal_strength,
           round(greatest(0.0, 1.0 - vr / vtr), 4) AS trend_strength
    FROM st
    WHERE vsr > 0 AND vtr > 0
""".replace("{DECOMPOSE}", ORACLES["seasonal_decompose_hourly"])

ORACLES["new_vs_returning"] = """
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), first AS (
        SELECT user_id, min(day) AS first_day FROM days GROUP BY user_id
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)::BIGINT
               AS n_new,
           sum(CASE WHEN day = first_day THEN 0 ELSE 1 END)::BIGINT
               AS n_returning,
           round(CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS new_share
    FROM days JOIN first USING (user_id)
    GROUP BY day
"""

# Idle-flush replay: explicit-quartile batches (pure function of the
# table), then a FIVE-step recursive state machine per user — one row
# per (user, step): 'flush' rows are the emissions (and imply a reset
# state for the next step), 'state' rows carry (n, last_us) forward,
# merging any batch-k data. A flush at step k requires live state,
# absence from batch k, and the in-effect watermark STRICTLY past
# last + IDLE_MS (Spark fires on timeoutTimestamp < watermark, both at
# floored-ms grain). Step 5 (p.k = 3 → k = 4) is Spark's NO-DATA
# micro-batch after the watermark's final advance: no ub rows exist at
# k = 4 (everyone "absent") and the watermark stays the batch-3 one
# (least(p.k, 3)); states it does not clear never emit.
from ..streaming.events import THIN_MOD as _THIN_MOD  # noqa: E402

ORACLES["stream_idle_flush_drain"] = f"""
    WITH RECURSIVE ev AS (
        SELECT user_id, ts::TIMESTAMP AS ts,
               row_number() OVER (ORDER BY ts, event_id) AS rn,
               count(*) OVER () AS nt
        FROM events WHERE event_id % {_THIN_MOD} = 0
    ), eb AS (
        SELECT user_id, ts, floor((rn - 1) * 4.0 / nt)::INT AS k
        FROM ev
    ), ub AS (
        SELECT user_id, k, count(*)::BIGINT AS cnt,
               epoch_us(max(ts))::BIGINT AS mx_us
        FROM eb GROUP BY 1, 2
    ), wmb AS (
        SELECT k, epoch_ms(max(ts))::BIGINT - {IDLE_DELAY_MS} AS wm_ms
        FROM eb GROUP BY k
    ), users AS (
        SELECT DISTINCT user_id FROM eb
    ), sim AS (
        SELECT 0 AS k, u.user_id, 'state' AS typ,
               coalesce(b.cnt, 0)::BIGINT AS n, b.mx_us AS last_us
        FROM users u
        LEFT JOIN ub b ON b.user_id = u.user_id AND b.k = 0
        UNION ALL
        SELECT p.k + 1, p.user_id,
               CASE WHEN (CASE WHEN p.typ = 'flush' THEN 0
                               ELSE p.n END) > 0
                         AND b.cnt IS NULL
                         AND w.wm_ms >
                             (CASE WHEN p.typ = 'flush' THEN NULL
                                   ELSE p.last_us END) // 1000
                             + {IDLE_MS}
                    THEN 'flush' ELSE 'state' END,
               CASE WHEN (CASE WHEN p.typ = 'flush' THEN 0
                               ELSE p.n END) > 0
                         AND b.cnt IS NULL
                         AND w.wm_ms >
                             (CASE WHEN p.typ = 'flush' THEN NULL
                                   ELSE p.last_us END) // 1000
                             + {IDLE_MS}
                    THEN p.n
                    ELSE (CASE WHEN p.typ = 'flush' THEN 0
                               ELSE p.n END) + coalesce(b.cnt, 0)
               END,
               CASE WHEN (CASE WHEN p.typ = 'flush' THEN 0
                               ELSE p.n END) > 0
                         AND b.cnt IS NULL
                         AND w.wm_ms >
                             (CASE WHEN p.typ = 'flush' THEN NULL
                                   ELSE p.last_us END) // 1000
                             + {IDLE_MS}
                    THEN p.last_us
                    ELSE greatest(
                        CASE WHEN p.typ = 'flush' THEN NULL
                             ELSE p.last_us END,
                        b.mx_us)
               END
        FROM sim p
        LEFT JOIN ub b ON b.user_id = p.user_id AND b.k = p.k + 1
        JOIN wmb w ON w.k = least(p.k, 3)
        WHERE p.k < 4
    )
    SELECT user_id, n AS n_events,
           make_timestamp(last_us) AS last_ts
    FROM sim WHERE typ = 'flush'
"""

# Chained-state replay: dedup output = the original events table
# (full-row planted copies — stream_dedup_drain's argument), so the
# chain's final result is the batch daily aggregate over events,
# restricted to windows the FINAL watermark (floor_ms(max ts) − 48 h)
# closed. The midnight tie class (wm exactly on a window end) is
# unobservable on µs-grain data.
ORACLES["stream_chained_state_drain"] = """
    WITH wm AS (
        SELECT CAST(date_trunc('millisecond', max(ts)) AS TIMESTAMP)
               - INTERVAL 48 HOUR AS w
        FROM events
    )
    SELECT date_trunc('day', ts)::TIMESTAMP AS day, event_type,
           count(*)::BIGINT AS n,
           sum(round(value * 100)::BIGINT)::BIGINT AS cents
    FROM events
    GROUP BY 1, 2
    HAVING day + INTERVAL 1 DAY <= (SELECT w FROM wm)
"""

# Merge-snapshot replay: exact integer-cent accumulation commutes, so
# four batch-wise upserts equal the one-shot aggregate.
ORACLES["stream_merge_snapshot_drain"] = """
    SELECT user_id, count(*)::BIGINT AS n_events,
           (sum(round(value * 100)::BIGINT) / 100.0) AS total_value
    FROM events GROUP BY user_id
"""

# Stream-static replay: complete mode emits every window; the
# broadcast dim join is stateless, so the drained snapshot equals the
# batch join + hourly aggregate verbatim.
ORACLES["stream_static_join_drain"] = """
    SELECT date_trunc('hour', e.ts)::TIMESTAMP AS bucket,
           c.c_mktsegment AS segment,
           count(*)::BIGINT AS n
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id + 1
    GROUP BY 1, 2
"""
