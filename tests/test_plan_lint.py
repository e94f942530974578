"""Plan lint over the ENTIRE query registry: no query may silently plan
a cartesian product, a nested-loop join, or an unexpected global
single-partition shuffle. Exceptions are declared — each one is an
intentional, documented design choice, not an oversight."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from tests.conftest import SF_DIR

# Intentional BroadcastNestedLoopJoin / cross joins: brute-force or
# broadcast-side-generation designs where the cross product IS the
# algorithm (scored against a tiny broadcast side).
NESTED_LOOP_OK = {
    "cosine_topk",          # brute-force scoring vs broadcast query set
    "cosine_topk_pandas",   # same, Arrow variant
    "matryoshka_topk",      # one brute-force pass scoring full +
                            # prefix cosine vs the broadcast query set
    "mmr_rerank",           # relevance pass vs broadcast query set
                            # feeding the per-query bounded greedy
    "hybrid_search_rrf",    # semantic list reuses the brute-force
                            # scoring vs the broadcast query set
    "retrieval_ndcg",       # judge gains reuse the same brute-force
                            # scoring vs the broadcast query set
    "ann_ivf",              # centroid assignment vs broadcast centroids
    "q22_prospects",        # scalar subquery joined as 1-row broadcast
    "q15_top_supplier",     # scalar max joined as 1-row broadcast
    "q11_important_stock",  # HAVING > scalar-threshold, 1-row broadcast
    "mix_sources_weighted", # corpus totals joined as 1-row broadcast
    "t_closeness_audit",    # dense (QI-group × sensitive-value) grid:
                            # cross of two already-aggregated tiny
                            # frames (audit grain, not row grain)
    "pmi_bigrams",          # corpus token total as 1-row broadcast
    "bm25_search",          # avgdl/N corpus stats as 1-row broadcast
    "key_skew_profile",     # key-cardinality stats as 1-row broadcast
    "zorder_layout_profile",  # table min/max bounds as 1-row broadcast
    "hll_mergeable_rollup", # 1-row sketch-union total × 1-row exact
                            # grand count (self-verify join)
    "unigram_surprisal",    # corpus token total as 1-row broadcast
    "bigram_perplexity",    # vocab size V as 1-row broadcast
    "rolling_active_users",      # day-span bounds as 1-row broadcast
    "rolling_active_users_hll",  # same span bounds, sketch variant
    "embedding_int8_quantize",   # global [min,max] range as 1-row broadcast
    "dsir_importance",      # corpus token totals as 1-row broadcast
    "vocab_growth_heaps",   # npos max + curve endpoints as 1-row
                            # broadcasts over the 8-row ladder
    "cusum_changepoints",   # series mean/std stats as 1-row broadcast
                            # onto the day-grain (sf-independent) frame
    "tfidf_cosine_pairs",   # corpus doc count N (for IDF) as 1-row
                            # broadcast
    "benford_first_digit",  # grand-total count as 1-row broadcast over
                            # the 9 digit rows
    "theil_sen_slope",      # inequality self-join of the ~80-row
                            # month-grain series (calendar², never
                            # data-sized)
    "mann_kendall_trend",   # same pair frame + two 1-row stat frames
                            # (n, tie term) joined as broadcasts
    "kaplan_meier_churn",   # observation-end horizon as a 1-row
                            # broadcast onto the user-grain frame
    "hill_tail_index",      # x_(k+1) order statistic as a 1-row
                            # broadcast onto the top-k frame
}

# Intentional single-partition exchanges. Two benign shapes:
#  - global scalar aggregates: the exchange carries ONE partial-agg row
#    per upstream task, not the data;
#  - global ordering/keys on provably small data (dims, top-k outputs).
SINGLE_PARTITION_OK = {
    "surrogate_keys",       # global dense keys over a 25-row dim
    "multi_key_join",       # same: surrogate keys for a tiny attr dim
    "fact_facturacion_star",  # same: surrogate keys for the 5-row
                              # disease dim (row_number over 5 names)
    "order_limit_topk",     # global ORDER BY ... LIMIT output
    "q3_shipping_priority", # global top-10 of a small agg
    "q10_returned_items",   # global top-20 of a small agg
    "q6_forecast_revenue",  # global scalar aggregate
    "q14_promo_share",      # global scalar aggregate
    "q22_prospects",        # global scalar (avg) subquery
    "dq_null_rates",        # global profiling aggregate
    "dq_orphans",           # two global count aggregates unioned
    "k_anonymity_audit",    # scalar audit row over QI-group counts
    "l_diversity_audit",    # scalar audit row over QI-group counts
    "t_closeness_audit",    # scalar audit row over QI-group distances
    "q15_top_supplier",     # global scalar max
    "q17_small_quantity",   # global scalar aggregate
    "funnel_stages",        # global funnel summary (one output row)
    "funnel_windowed",      # same: one summary row after per-user
                            # partial aggregation
    "q11_important_stock",  # global scalar threshold (one agg row)
    "q19_disjunctive_revenue",  # global scalar aggregate
    "mix_sources_weighted",  # global totals (one agg row over sources)
    "hll_mergeable_rollup",  # sketch-union: exchange carries 3 sketches
    "bitmap_distinct_rollup",  # bitmap-OR grand total: exchange carries
                               # one bitmap per (type, bucket), not rows
    "key_skew_profile",     # global stats over key-cardinality counts
    "zorder_layout_profile",  # global min/max bounds (one agg row) +
                              # the tiny (file x layout) zone grain
    "profile_columns",      # global profiling aggregate (one wide row
                            # unpivoted to 6 column-grain rows)
    "pca_whiten_embeddings",  # O(d^2) sufficient-stats combine: the
                              # exchange carries per-batch (n, sum,
                              # Gram) partials, never data rows
    "mahalanobis_outliers",   # same O(d^2) stats combine + an
                              # output-sized global top-k
    "pmi_bigrams",          # global token total (one agg row)
    "bm25_search",          # global avgdl/N stats (one agg row)
    "unigram_surprisal",    # global token total (one agg row)
    "bigram_perplexity",    # global distinct-vocab count (one agg row)
    "dq_expectation_report",  # global profiling aggregate (one row
                              # per rule after map-side partials)
    "rolling_active_users",      # global day-span (one min/max row)
    "rolling_active_users_hll",  # same
    "embedding_int8_quantize",   # global range (one min/max row)
    "zone_map_profile",          # global profiling aggregate (one row)
    "table_checksum",            # global reconciliation checksum —
                                 # exchange carries one partial sum per
                                 # task, never rows
    "approx_topk_tokens",        # sketch-merge final (one sketch row,
                                 # partials merged map-side)
    "join_cardinality_estimate", # global scalar estimate (one agg row)
    "quality_calibration",       # global percent_rank — docstring names
                                 # the approx-quantile swap at scale
    "revenue_pareto",            # global ranking over the (small)
                                 # customer-grain aggregate; docstring
                                 # names the bucketed swap at scale
    "orders_seasonality",        # global month-over-month lag over the
                                 # (tiny) month-grain aggregate
    "dsir_importance",           # global token totals (one agg row)
    "corpus_mix_entropy",        # global total over the per-source
                                 # aggregate (one row per source)
    "length_matched_sample",     # global N/quota over the O(buckets)
                                 # stats frame (<= 6 rows)
    "temperature_sampling_weights",  # global totals over the
                                     # per-source aggregate
    "sampling_ess",         # same: global ESS scalar over the
                            # |sources|-row aggregate
    "vocab_growth_heaps",   # cumulative window over exactly
                            # HEAPS_STEPS (8) ladder rows
    "zipf_rank_slope",      # rank row_number + OLS scalar agg over the
                            # VOCAB-grain frame (corpus-independent)
    "cusum_changepoints",   # 1-row stats agg + the sequential CUSUM
                            # recursion on the day-grain series (size
                            # fixed by the calendar, not by sf)
    "tfidf_cosine_pairs",   # corpus doc count N (one agg row)
    "benford_first_digit",  # grand-total over the 9 digit-grain rows
    "chi2_source_lang",     # grand-total window over the cell frame
                            # (|sources|·|languages| rows, corpus-size
                            # independent)
    "skyline_parts",        # cross-bucket prefix max runs at BUCKET
                            # grain (price-range/100 rows regardless of
                            # table size); the row-grain windows are
                            # partitioned by bucket
    "theil_sen_slope",      # order-statistic median over the
                            # calendar²-sized pair frame (~3k rows)
    "hill_tail_index",      # global top-(k+1) rank executed as
                            # WindowGroupLimit (map tasks emit ≤ k+1
                            # rows) + the final scalar aggregate
    "mann_kendall_trend",   # global S/n/tie-term scalar aggregates
                            # over the calendar-sized series
    "max_drawdown",         # running-max window + scalar agg over the
                            # day-grain (calendar-sized) series
    "acf_daily_revenue",    # lag window over the day-grain
                            # (sf-independent, calendar-sized) series —
                            # same posture as cusum/holt; the unpivot
                            # multiplies that tiny frame by MAX_LAG only
    "holt_forecast",        # sequential recursion on the day-grain
                            # (sf-independent) series in one Arrow task
                            # (same posture as cusum_changepoints)
    "kaplan_meier_churn",   # cumulative-product windows over the
                            # duration-grain (≤ observation-span-days)
                            # frame — calendar-sized, never data-sized
}


# Row-at-a-time Python evaluation: inherent to Python UDTFs (API
# coverage on a bounded sample); everything else must stay Arrow.
PYTHON_ROW_OK = {
    "sql_udtf_chunks",
}

_ALLOW_BY_RULE = {
    "nested_loop": NESTED_LOOP_OK,
    "single_partition": SINGLE_PARTITION_OK,
    "python_row_udf": PYTHON_ROW_OK,
}


# Queries allowed to keep an unguarded ANSI division (each with the
# reason the lint can't see). Round-7 policy: FIX with functions.
# numeric.nz (zero -> NULL) instead of allowlisting — the list should
# stay empty unless a guard would genuinely change semantics.
DIVIDE_OK: dict[str, str] = {}


@pytest.mark.parametrize("name", sorted(entry.queries()))
def test_plan_has_no_scale_antipatterns(spark, name):
    from tests.plan_lint import (
        divide_findings,
        plan_findings,
    )

    df = entry.queries()[name](spark, SF_DIR)
    findings = plan_findings(df)
    assert not findings["cartesian"], f"{name} plans a cartesian product"
    for rule, allowed in _ALLOW_BY_RULE.items():
        if name not in allowed:
            assert not findings[rule], f"{name} violates {rule}"
    if name not in DIVIDE_OK:
        div = divide_findings(df)
        assert not div, (
            f"{name} divides without a zero guard (ANSI DIVIDE_BY_ZERO "
            f"on degenerate data — wrap the denominator in nz()): {div}"
        )


def test_assert_scalable_plan_api(spark):
    """The library gate raises on a cartesian plan, names the rule, and
    passes a clean aggregate; allow= must name known rules."""
    from pyspark.sql import functions as F

    from tests.plan_lint import (
        assert_scalable_plan,
    )

    a = spark.range(10)
    b = spark.range(10)
    cross = a.crossJoin(b)
    # small sides plan as BroadcastNestedLoopJoin, large as
    # CartesianProduct — either way the gate must fire
    with pytest.raises(ValueError, match="cartesian|nested_loop"):
        assert_scalable_plan(cross)

    clean = a.groupBy((F.col("id") % 3).alias("k")).count()
    assert_scalable_plan(clean)

    with pytest.raises(ValueError, match="unknown lint rules"):
        assert_scalable_plan(clean, allow={"not_a_rule"})


def test_divide_findings_guard_patterns(spark):
    """The ANSI-divide lint must flag exactly the unguarded shapes:
    count(col) can be zero (flag), count(*) cannot (clean), CASE/If —
    in the denominator OR enclosing the division — evaluates lazily
    (clean), an upstream filter on the denominator counts (clean), a
    guarded alias chases through the Aggregate/Project dataflow
    (clean), literal zero always errors (flag), and try_divide is its
    own guard (clean). Remainder is covered like Divide."""
    from pyspark.sql import functions as F

    from tests.plan_lint import (
        divide_findings,
    )

    df = spark.range(10).withColumn("k", F.col("id") % 3)
    agg = df.groupBy("k").agg(
        F.count("k").alias("n"),
        F.count(F.lit(1)).alias("nstar"),
        F.sum("id").alias("s"),
    )
    assert divide_findings(agg.select(F.col("s") / F.col("n")))
    assert not divide_findings(agg.select(F.col("s") / F.col("nstar")))
    assert not divide_findings(
        agg.select(F.col("s") / F.when(F.col("n") > 0, F.col("n")))
    )
    assert not divide_findings(
        agg.select(F.when(F.col("n") > 0, F.col("s") / F.col("n")))
    )
    assert not divide_findings(
        agg.filter(F.col("n") > 0).select(F.col("s") / F.col("n"))
    )
    assert not divide_findings(
        agg.withColumn("safe", F.greatest(F.col("n"), F.lit(1)))
        .select(F.col("s") / F.col("safe"))
    )
    assert not divide_findings(agg.select(F.col("s") / F.lit(2)))
    assert divide_findings(agg.select(F.col("s") / F.lit(0)))
    assert divide_findings(agg.select(F.col("s") % F.col("n")))
    assert not divide_findings(
        agg.selectExpr("try_divide(s, n) AS r")
    )


def test_nz_guard_is_value_neutral_and_nulls_zero(spark):
    """nz(): identical result on nonzero denominators, NULL (not an
    ANSI error) on zero — the repo-wide divide-guard contract."""
    from pyspark.sql import functions as F

    from data_warehouse_co_healthy_spark.functions.numeric import nz

    df = spark.createDataFrame(
        [(10.0, 2.0), (7.0, 0.0), (3.0, None)], "x double, d double"
    )
    got = df.select((F.col("x") / nz(F.col("d"))).alias("r")).collect()
    assert got[0].r == 5.0
    assert got[1].r is None
    assert got[2].r is None
