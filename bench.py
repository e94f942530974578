"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints exactly ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

value = total wall seconds across the headline queries (lower is better).
Each query is fully materialized via a count-collecting action (no
driver-side toPandas of big results). A warmup pass on the smallest SF
initializes the JVM/codegen so timings measure the queries, not startup.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_warehouse_co_healthy_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "fact_formula_star",     # flagship: collect->explode->4-dim star join
    "q1_pricing_summary",    # wide-agg scan
    "q3_shipping_priority",  # filter + join + agg + top-k
    "q5_local_supplier",     # 5-way join
    "q18_large_orders",      # agg semi-join
    "star_join_revenue",     # star join + agg
    "role_playing_dim",      # dim joined twice
    "window_topk_per_group", # window + filter
    "dedup_exact",           # LLM: exact dedup (if registered)
    "minhash_signatures",    # LLM: minhash (if registered)
    "minhash_lsh_pairs",     # LLM: LSH candidate pairs
    "cosine_topk",           # LLM: brute-force ANN (if registered)
    "asof_join",             # temporal: as-of via union-merge window
    "semantic_dedup",        # LLM heavy: k-means cells + in-cell greedy
    "ann_ivf_kmeans",        # LLM heavy: trained-IVF ANN search
    "ann_pq_adc",            # LLM heavy: PQ-ADC compressed-domain ANN
    "fact_facturacion_star", # CO payment pipeline star (driver-checked)
    "bpe_segment",           # registry tail: BPE train + corpus apply
    "dedup_cc_star",         # large-star/small-star connected components
    "image_decode_stats",    # real BMP/PPM decode over binary payloads
    "pagerank_near_dup",     # registry tail: 8-round damped power iter
    "attribution_report",    # event analytics: multi-touch attribution
    "kaplan_meier_churn",    # event analytics: right-censored survival
    "js_divergence_sources", # corpus-similarity matrix: token self-join
    "holt_forecast_by_nation",  # grouped forecasting: Arrow task/series
    "fact_retiro_star",      # CO retreat pipeline star (parity floor)
    "fact_service_star",     # CO service star: 8 joins, role-playing dims
    "stream_ohlc_drain",     # streaming path floor: windowed state drain
    "stream_stateful_totals_drain",  # applyInPandasWithState drain
    "bucketed_join_revenue",  # bucketed sink + exchange-free SMJ
    # round-8 slots: the twelfth-rotation flagships driver-graded this
    # round (ann_pq_adc above keeps the ADC-only point comparable)
    "stream_join_multibatch_drain",  # cross-batch join state drain
    "kcore_near_dup",        # iterative degree peel
    "kmeans_embeddings",     # Lloyd iterations, exact-DECIMAL replay
    "ann_pq_refine",         # PQ shortlist + exact re-rank
    "retrieval_ndcg",        # composed eval (r8: deduped to 15 exch)
    "stream_dedup_drain",    # dedup state-store drops, 4 ordered batches
    # round-9 slots: the thirteenth-rotation flagships
    "jpeg_decode_stats",     # vendored T.81 entropy+IDCT decode path
    "stream_late_drop_drain",  # watermark-discard semantics drain
    "ivf_index_probe_topk",  # persisted-index probe, partition-pruned
    "cut_duplicate_spans",   # span-grain Lee-et-al removal transform
    "tfidf_cosine_pairs",    # sparse cosine (r9: deduped 11 -> 7 exch)
    "stream_session_drain",  # session-window merging state drain
    "stream_outer_join_drain",  # outer-join null-emission drain
    "gif_frame_stats",       # animated-GIF LZW frame sampling
    "wav_energy_windows",    # RIFF/WAVE PCM16 windowed RMS
    # round-10 slots: the fourteenth-rotation flagships
    "stream_join_late_drop_drain",  # join-state late-data drops drain
    "pysource_rowgroup_docs",  # DataSource at production page sizing
    "html_extract_text",     # stdlib-parser main-text extraction
    "skew_hybrid_join",      # salted/broadcast hybrid skew join
    "url_canonical_dedup",   # crawl-stage URL canonicalization+dedup
    "stream_url_frontier_drain",  # streaming frontier dedup drain
    "stream_topk_drain",     # bounded ranked state (per-key top-K)
    "stream_idle_flush_drain",  # event-time timeout state eviction
    "stream_chained_state_drain",  # two state stores in one stream
]


def _calibration_sec(spark) -> float:
    """Fixed CPU-bound Spark job (hash-reduce over a generated range):
    a machine-speed constant emitted next to the headline so
    cross-round totals can be normalized for host noise (the shared
    rig swings ±25% on CPU-steal alone — see SCALING_MEASURED.md's
    round-6 bisection). min-of-3; no I/O, no shuffle beyond the 1-row
    final reduce."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 100_000_000, 1, 32).select(
            F.sum(F.xxhash64("id")).alias("h")
        ).collect()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = None

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    names = [n for n in HEADLINE if n in queries]
    # Bisection hook: SPARK_GRAFT_BENCH_QUERIES="q1,q3" reruns an exact
    # historical query list (e.g. BENCH_r04's 19) in a fresh session so
    # round-over-round deltas can be attributed to code vs session/load.
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if only:
        wanted = [q.strip() for q in only.split(",") if q.strip()]
        names = [n for n in wanted if n in queries]

    spark = get_spark("bench")
    # Warmup: run each headline query once at the smallest SF so JVM/
    # whole-stage-codegen compilation happens outside the timed window —
    # the timing should measure the query, not JIT.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        for name in names:
            try:
                queries[name](spark, warm_dir).count()
            except Exception:  # noqa: BLE001 - warmup is best-effort
                pass

    # Steady-state timing: best of 3 runs per query. Single-JVM local mode
    # JIT-compiles whole-stage-codegen units asynchronously (first run of a
    # plan pays C2 compilation a cluster amortizes away), and the shared
    # test rig has noisy-neighbor variance — min-of-3 is the honest
    # per-query cost.
    timings: dict[str, float] = {}
    for name in names:
        # isolate queries from each other's JVM state: drop any cache
        # leftovers and take the GC hit OUTSIDE the timed window, so a
        # heavy predecessor's garbage doesn't bill the next query
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        best = float("inf")
        # min-of-5: the shared host has bursty CPU-steal windows that can
        # inflate an entire min-of-3 triplet; two extra samples reject
        # noise spikes while min() still reports the honest steady-state
        # cost (run 1 additionally absorbs plan-specific C2 compilation).
        for _ in range(5):
            # cold per run: queries that persist() multi-consumer
            # frames must rematerialize them every run, otherwise
            # runs 2-5 time a cache hit no cold execution can match
            # and min() reports a fiction (clear is OUTSIDE the
            # timed window)
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            queries[name](spark, sf_dir).count()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_num,
        # protocol marker: since round-7 wave 11 every timed run is
        # COLD (clearCache per run), so totals are NOT comparable with
        # r6-and-earlier recordings for queries that persist()
        # multi-consumer frames
        "timing_protocol": "cold-per-run (clearCache before each run)",
    }
    out["calibration_sec"] = _calibration_sec(spark)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
