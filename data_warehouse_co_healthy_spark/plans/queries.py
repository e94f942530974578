"""Central query registry — the t2 correctness surface.

Merges every operator module's declared (query, oracle) pairs. The
driver runs each ``QUERIES[name]`` on Spark at sf0.01 and the matching
``ORACLES[name]`` on DuckDB over the same parquet and compares
row-count + schema + order-insensitive value hash (TESTDATA.md;
``__spark_entry__.py`` re-exports these).

Invariant enforced by tests/test_registry.py: every query has either an
oracle or an explicit entry in NO_ORACLE with a reason.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..functions import dates
from ..pipelines import star_queries
from ..operators import (
    aggregates,
    joins,
    projections,
    scalars,
    setops,
    temporal,
    warehouse,
    windows,
)
from . import sqlapi, tpch, tpch2

QueryFn = Callable[[SparkSession, str], DataFrame]

_MODULES = (
    projections,
    joins,
    star_queries,
    aggregates,
    setops,
    windows,
    scalars,
    dates,
    temporal,
    warehouse,
    tpch,
    tpch2,
    sqlapi,
)

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

for _m in _MODULES:
    for _name, _fn in _m.QUERIES.items():
        if _name in QUERIES:
            raise ValueError(f"duplicate query name: {_name}")
        QUERIES[_name] = _fn
    ORACLES.update(_m.ORACLES)

# The driver grades the FIRST 50 registry entries (iteration order) in
# CORRECTNESS_r{N}.json. This list pins those 50 slots to one
# representative per SURVEY.md §2 row — flagship star first, then the
# reference-parity projections/joins/setops/scalars/dates surface, the
# CO pipeline stars (J6-J15), one representative per engine-added
# family (aggregates, TPC-H, windows, temporal), and the
# highest-value LLM-pipeline operators. Redundant within-family
# variants stay registered (and locally oracle-tested) after slot 50.
# tests/test_registry.py pins len == 50, registration, and oracles.
#
# Round-4 rotation (VERDICT r3 item 8): five green-forever trivial
# slots (project_drop, project_rename, lit_tag, distinct_single,
# cast_bool — each a one-expression variant of a family still
# represented in-window) rotated out for never-driver-graded heavies:
# image_decode_stats (NEW: real BMP/PPM decode), scd2_user_state,
# dedup_connected_components (rotated out again in round 5; it is now
# the same star-contraction path as dedup_cc_star), bm25_search,
# hybrid_search_rrf. All five incoming slots carry full DuckDB oracles,
# so the window stays hash-graded end to end; the rotated-out five
# remain oracle-tested locally (tests/test_oracle.py runs the whole
# registry).
#
# Round-5 rotation, same policy: semi_join/anti_join (join family keeps
# four representatives), intersect_keys (setops keeps four), time_label
# and hour_dim_generate (dates family keeps three) rotate out for
# never-driver-graded slots: the round-4 privacy-audit pair
# (k_anonymity_audit, t_closeness_audit), the scale-path connected
# components (dedup_cc_star — O(log² n) rounds), and the two round-5
# additions (incremental_agg_refresh MV maintenance,
# gopher_quality_flags corpus gate). All five carry full DuckDB
# oracles.
#
# Round-5 second rotation (this session's additions): union_positional
# (setops keeps union_by_name/dedup_rows/except_keys), split_explode
# (explode_grain still covers F1/F2) and date_parts (dates family keeps
# month_name_mapping/date_dim_generate) rotate out for three new
# oracle-backed heavies: tfidf_cosine_pairs (sparse lexical similarity
# join), dedup_graph_triangles (triangle/clustering gate) and
# cusum_changepoints (sequential drift detection vs a recursive-CTE
# oracle).
#
# Round-5 third rotation: dedup_connected_components (dedup_cc_star is
# the same star-contraction path under a second registry name, with the
# same oracle — keeping both graded the same operator twice),
# ngram_jaccard_pairs (near-dup
# pair family keeps minhash_lsh/simhash/tfidf_cosine) and
# count_distinct_agg (aggregate family keeps q1/supplier_scorecard/
# rollup_sales/pivot_status) rotate out for three never-graded
# oracle-backed additions: mmr_rerank (unrolled-greedy diversity
# re-rank), skyline_parts (Pareto frontier via prefix-max prune) and
# roc_auc_by_source (tie-corrected Mann-Whitney AUC at distinct-score
# grain).
PRIORITY: tuple[str, ...] = (
    # Round-10 rotation, fourteenth wave (out: q5_local_supplier,
    # window_topk_per_group, did_report, mann_kendall_trend,
    # weighted_median_by_group, holt_winters_daily,
    # dedup_graph_triangles, retrieval_ndcg — all multi-round green,
    # every family keeps an in-window representative per the notes
    # below and the sets in tests/test_registry.py; plus
    # pysource_paged_docs, superseded as the graded DataSource slot by
    # the production-posture pysource_rowgroup_docs, VERDICT r9 item
    # 3 — the oversplit fan-out variant stays registered and
    # test-pinned). In: the four VERDICT r9 item-1 names
    # (stream_outer_join_drain, wav_energy_windows, gif_frame_stats,
    # html_extract_text), the two round-10 builds
    # (stream_join_late_drop_drain — late-data JOIN state drops,
    # VERDICT item 2; pysource_rowgroup_docs — VERDICT item 3), and
    # three never-driver-graded strict-green tails (skew_hybrid_join —
    # the salted/broadcast hybrid skew-join scale path;
    # ewma_smoother — recursive window smoother, keeps the windows
    # family repped after window_topk_per_group retires;
    # l_diversity_audit — restores privacy-audit representation lost
    # when k_anonymity/t_closeness rotated out in round 7). Nine
    # first-time grades.
    # flagship (J1-J4 + F1/F2 + S6 composed)
    "fact_formula_star",
    # §2.3 projections / filters / column ops (P1-P8; project_select /
    # fillna_left_join / filter_rows rotated out round 5 —
    # case_when_bucket keeps the family repped, fillna-on-left-miss
    # semantics stay graded inside fact_facturacion_star, and filters
    # run inside most window slots)
    "case_when_bucket",
    # §2.4 joins (J1-J15 + semi/anti)
    "star_join_revenue",
    "role_playing_dim",
    "fact_facturacion_star",
    "fact_retiro_star",
    "fact_service_star",
    # §2.7 set ops / dedup: dedup_rows rotated out thirteenth wave
    # (r1–r8 green — dropDuplicates semantics stay graded via
    # dedup_exact and the stream_dedup_drain state path)
    # §2.8 scalar functions / §2.1 S6: date_dim_generate rotated out
    # thirteenth wave (r8-green — the same generated date dim runs
    # graded inside fact_formula_star and fact_service_star)
    # §1.1/O3 in-plan surrogate keys: surrogate_keys rotated out
    # seventh rotation — the same row_number key build runs graded
    # inside multi_key_join and fact_facturacion_star
    # §2.5 aggregation surface (family representatives; rollup_sales
    # rotated out sixth rotation — rollup/cube/grouping-sets stay
    # local-green and pivot_status keeps the multi-dim shape graded)
    "q1_pricing_summary",
    # TPC-H star-query family: q5_local_supplier rotated out
    # fourteenth wave (r1–r9 green — q1_pricing_summary above IS
    # TPC-H q1, so the family stays driver-graded; q3 rotated out
    # sixth rotation)
    # asof_join rotated out thirteenth wave (r1–r8 green — the as-of
    # shape stays graded inside conversion_latency's self-excluding
    # cumulative-window binding and stays local-strict)
    # §2.6 windows / sort / limit: window_topk_per_group rotated out
    # fourteenth wave (r1–r9 green — ewma_smoother below keeps window
    # functions driver-graded, and ordered-window shapes run inside
    # conversion_latency and every TPC-H star slot's ordered output;
    # window_range_frame out seventh, order_limit_topk out thirteenth)
    # the salted/broadcast HYBRID skew join — the join-skew scale
    # path (hot keys broadcast, cold keys shuffled), never
    # driver-graded before the fourteenth wave:
    "skew_hybrid_join",
    # the recursive EWMA smoother (window-sequential recursion via
    # closed-form unroll), fourteenth wave:
    "ewma_smoother",
    # LLM-pipeline operators (dedup / similarity / text; simhash_pairs,
    # cosine_topk and token_count rotated out sixth rotation —
    # minhash_lsh keeps near-dup pairs graded, hybrid_search_rrf and
    # mmr_rerank keep similarity graded, text_quality/gopher keep text
    # stats graded)
    "dedup_exact",
    "minhash_lsh_pairs",
    "text_quality",
    # round-4 rotation: heavies never driver-graded before (all with
    # full DuckDB oracles; bm25_search rotated out round 7 eleventh
    # wave — r6-green, text retrieval stays graded via
    # hybrid_search_rrf + retrieval_ndcg + mmr_rerank).
    # image_decode_stats (r4–r8 green) superseded thirteenth wave by
    # jpeg_decode_stats: the SAME decoded-pixel-stat grade, but
    # through the vendored T.81 baseline-JPEG codec (Huffman entropy
    # decode, IDCT, 4:2:0 upsample, restart markers) instead of the
    # header-parse BMP/PPM path — the media slot now grades strictly
    # more; BMP/PPM stays local-strict.
    "jpeg_decode_stats",
    "hybrid_search_rrf",
    # round-5 rotation: scale-path CC (k_anonymity_audit,
    # incremental_agg_refresh rotated out round 7 — both r6-green,
    # locally oracle-tested; the grouping-audit shape stays graded via
    # chi2_source_lang and MV-maintenance via the warehouse slots)
    "dedup_cc_star",
    # round-5 second rotation: this session's oracle-backed heavies
    # (cusum_changepoints rotated out round 7 — sequential recursion
    # stays graded via holt_winters_daily + the stateful stream drain)
    "tfidf_cosine_pairs",
    # dedup_graph_triangles rotated out fourteenth wave (r5–r9 green —
    # the pair-graph family keeps pagerank_near_dup, kcore_near_dup
    # and dedup_cc_star in-window)
    # mmr_rerank + skyline_parts rotated out thirteenth wave (both
    # r5–r8 green — similarity stays graded via hybrid_search_rrf /
    # the ANN slots; the dominance/prune shape stays
    # local-strict); kaplan_meier_churn rotated out thirteenth wave
    # (r5–r8 green — the stats-screen family keeps ks_two_sample,
    # chi2, burstiness)
    # round-5 sixth rotation: statistics screens (KS drift, pairwise
    # JSD corpus similarity; sql_recursive_hierarchy rotated out round
    # 7 — the recursive shape stays graded through the k-core/pagerank
    # recursive-CTE oracles and stays locally oracle-tested)
    "ks_two_sample",
    # (js_divergence_sources rotated out round 7 eleventh wave —
    # r6-green, same family coverage note as roc_auc_by_source)
    # round-5 seventh rotation (out: left_join_miss, surrogate_keys,
    # supplier_scorecard, window_range_frame, t_closeness_audit,
    # holt_forecast — every family keeps an in-window representative,
    # and holt_winters_daily supersedes holt_forecast as the graded
    # forecaster): the quasi-experimental DiD, the Mann-Kendall trend
    # test, the DP release, conversion latency, the weighted median,
    # and the Holt-Winters capstone — all with full DuckDB oracles
    # did_report, mann_kendall_trend, weighted_median_by_group and
    # holt_winters_daily rotated out fourteenth wave (all r5–r9 green
    # — the stats-screen family keeps ks_two_sample,
    # chi2_source_lang and burstiness_by_type in-window, the
    # sequential-recursion shape stays graded via ewma_smoother and
    # the stateful stream drain, and all four stay local-strict)
    "conversion_latency",
    # round-5 eighth rotation (out: multi_key_join — joins keep
    # star_join_revenue/role_playing_dim; explode_grain — F1/F2 runs
    # graded inside fact_formula_star's explode; pivot_status —
    # aggregates keep q1; gopher_quality_flags — text keeps
    # text_quality/roc_auc/ks/js_divergence; all stay locally
    # oracle-tested): the
    # heavy-tail index, the arrival-process burstiness screen, the
    # cross-engine reconciliation checksum, and the language-ID
    # confusion-matrix eval — all with full DuckDB oracles
    "burstiness_by_type",
    # table_checksum rotated out thirteenth wave (r5–r8 green — the
    # cross-engine reconciliation shape stays local-strict and the
    # md5-fold runs graded inside several sampling slots)
    "langid_confusion",
    # round-6 rotation, ninth wave (out: ohlc_daily — superseded by
    # stream_ohlc_drain, the SAME bars and oracle but executed through
    # the Structured Streaming path, so the slot now grades the
    # streaming engine; acf_daily_revenue, gini_by_nation,
    # attribution_report, twap_daily, dp_noisy_counts — all r5-green,
    # each family keeps in-window representation and all stay locally
    # oracle-tested): six never-driver-graded oracle-backed slots —
    # the streaming drain, the Lee-et-al exact-substring screen, the
    # bigram LM perplexity, the chi-squared source/lang independence
    # test, sorted-neighborhood blocking, and the NDCG retrieval eval
    # stream_ohlc_drain rotated out round 8 (r6+r7 green — the
    # windowed-aggregate state path stays locally oracle-tested) for
    # stream_dedup_drain below: the dedup state store was the one
    # streaming state operator never driver-graded.
    "exact_substring_matches",
    # bigram_perplexity rotated out thirteenth wave (r6–r8 green —
    # text stays graded via text_quality/langid_confusion/chi2)
    "chi2_source_lang",
    "snm_adjacent_pairs",
    # retrieval_ndcg rotated out fourteenth wave (r6–r9 green — the
    # retrieval-eval shape stays local-strict; similarity keeps
    # hybrid_search_rrf and the three ANN slots in-window)
    # round-7 rotation, tenth wave (out: fellegi_sunter_links —
    # superseded by fellegi_sunter_em, the SAME blocked-comparison
    # grain plus the EM fixpoint, so the slot now grades strictly more;
    # scd2_user_state — warehouse family keeps zorder_layout_profile;
    # k_anonymity_audit, incremental_agg_refresh, cusum_changepoints,
    # sql_recursive_hierarchy — all r5/r6-green, locally oracle-tested,
    # shapes retained as noted above): the applyInPandasWithState
    # multi-micro-batch stateful drain stays (the custom-state executor
    # path); its five tenth-wave peers (zorder_layout_profile,
    # fellegi_sunter_em, dedup_cluster_labels, event_transition_matrix,
    # vocab_growth_heaps) rotated out twelfth wave below — all
    # r7-green, locally oracle-tested, families stay repped
    # (warehouse via bucketed_join_revenue, linkage via
    # snm_adjacent_pairs, near-dup labels via dedup_cc_star, stats
    # screens via ks/burstiness/mann_kendall/chi2).
    "stream_stateful_totals_drain",
    # round-7 addition (out: hill_tail_index — r6-green, stats family
    # keeps burstiness/ks/js/chi2/mann_kendall): the K2 bucketed-table
    # sink graded end-to-end — a staged co-bucketed write feeding an
    # exchange-free sort-merge join (the first sink-path slot in the
    # driver window)
    "bucketed_join_revenue",
    # round-7 eleventh wave (out: bm25_search, roc_auc_by_source,
    # js_divergence_sources — all r6-green, locally oracle-tested,
    # families stay repped as noted above): the trained-IVF ANN serve
    # path keeps its slot; its eleventh-wave peers ann_pq_adc and
    # kcenter_coreset rotated out twelfth wave (both r7-green —
    # ann_pq_refine below grades the SAME pq_encode+ADC plan plus the
    # exact-refine stage, so the PQ family now grades strictly more;
    # training keeps kmeans_embeddings/semantic_dedup in-window).
    "ann_ivf_kmeans",
    # round-8 rotation, twelfth wave (out: the seven r7-green slots
    # noted above). Seven never-driver-graded oracle-backed slots —
    # the round-6/7 oracle flagships whose exact-DECIMAL /
    # recursive-CTE / fixed-fold-order oracles were the hardest oracle
    # work of those rounds, plus the one remaining ungraded executor
    # path: PageRank over the near-dup graph (exact-DECIMAL per-round
    # sums), the k-core peel (recursive-CTE oracle), BPE merge+segment
    # (fixed-fold-order oracle), embedding k-means and the semantic
    # dedup built on it (exact-DECIMAL replay oracles), PQ encode→ADC
    # shortlist→exact refine (completes the PQ family), and the
    # stream-stream JOIN drain (symmetric-hash join state — the last
    # streaming executor path never driver-graded; OHLC and
    # stateful-totals drains stay in-window).
    "pagerank_near_dup",
    "kcore_near_dup",
    "bpe_segment",
    "semantic_dedup",
    "kmeans_embeddings",
    "ann_pq_refine",
    # The join slot grades the MULTI-batch variant: event-time-ordered
    # staging makes cross-batch join state exactly batch-replayable
    # (test_streaming pins that cross-batch matches EXIST — >0, not a
    # specific count; 46 of 860 measured on the round-8 fixture), so
    # it certifies strictly more than the single-batch
    # stream_join_drain (which stays registered and locally
    # oracle-tested).
    "stream_join_multibatch_drain",
    # round-8 addition (in place of stream_ohlc_drain, note above):
    # dropDuplicatesWithinWatermark state-store drops over planted
    # exact duplicates, four ordered micro-batches — the fourth
    # streaming state path, first driver grade.
    "stream_dedup_drain",
    # round-9 rotation, thirteenth wave (out: dedup_rows,
    # date_dim_generate, order_limit_topk, mmr_rerank, skyline_parts,
    # kaplan_meier_churn, table_checksum, bigram_perplexity — all
    # multi-round green, families stay repped per the notes above).
    # In: the VERDICT r8 item-1 list plus the two new round-9 paths.
    # The Lee-et-al span family — span grain, no pair join, linear in
    # corpus size; cut_duplicate_spans is the actual removal transform
    # (interval merge + per-doc segment fold):
    "duplicate_spans",
    "cut_duplicate_spans",
    # the persisted-IVF serve path: stored quantizer + hive-partitioned
    # vectors, probe prunes unprobed cell directories (the first
    # index-ARTIFACT slot; result pinned equal to ann_ivf_kmeans):
    "ivf_index_probe_topk",
    # recursive-CTE org hierarchy (re-graded after its r7 rotation out
    # — the SQL-surface recursion representative):
    "sql_recursive_hierarchy",
    # cross-snapshot incremental LSH (in-bucket expansion restricted to
    # new docs — the ε·B² scale path) and the multi-signal dedup
    # decision matrix:
    "incremental_lsh_pairs",
    "dedup_decision_matrix",
    # round-9 additions, first grades: watermark-DISCARD semantics
    # (the one streaming behavior no prior drain touched — late
    # cohort provably dropped, determinism argument on the drain) and
    # the Spark-4 Python DataSource executor read path (paged parquet
    # pages, Arrow-batch decode, vs DuckDB's native scan of the same
    # file):
    "stream_late_drop_drain",
    # pysource_paged_docs rotated out fourteenth wave — superseded as
    # the graded DataSource slot by the production-posture
    # pysource_rowgroup_docs below (pages auto-sized to row groups
    # from the footer, VERDICT r9 item 3); the oversplit page_size=64
    # fan-out variant stays registered and test-pinned
    "pysource_rowgroup_docs",
    # the SIXTH streaming state path, first grade: session-window
    # MERGING state (gap sessions over 4 ordered micro-batches;
    # boundary-inclusive merge pinned by a synthetic exact-gap test,
    # oracle = batch gaps-and-islands + final-watermark emission)
    "stream_session_drain",
    # Round-10 fourteenth wave, first grades (rotate-outs noted at the
    # top of this list). The SEVENTH streaming state behavior:
    # outer-join null emission (min-of-sides watermark + eviction
    # boundary pinned in its oracle, registered strict-green round 9):
    "stream_outer_join_drain",
    # the EIGHTH: late-data drops in stream-stream JOIN state — the
    # 3-cohort pinned-late stream feeding the attribution join, drops
    # provably non-zero (487 of 860 matches lost at sf0.01, pinned in
    # tests/test_streaming.py), oracle = batch join over the kept set
    # (VERDICT r9 item 2):
    "stream_join_late_drop_drain",
    # vendored-codec media slots, registered strict-green round 9:
    # RIFF/WAVE PCM16 container decode + windowed energy, and
    # animated-GIF LZW frame sampling (jpeg_decode_stats stays
    # in-window — the three together grade three distinct codecs):
    "wav_energy_windows",
    "gif_frame_stats",
    # the web-scrape→training-text extraction step (stdlib html.parser
    # state machine, escape→parse→unescape identity oracle):
    "html_extract_text",
    # privacy-audit representation restored (k_anonymity/t_closeness
    # rotated out round 7; l-diversity grades the same QI-grain audit
    # plus the within-group sensitive-value distribution):
    "l_diversity_audit",
)

# (The round-9 rotation-candidate note is resolved: all three named
# candidates went into the fourteenth wave above.)
#
# Round-11 rotation candidates — never driver-graded, strict-green in
# every full sweep, strongest remaining representatives of their
# shapes: cross_snapshot_dedup (incremental dedup across snapshot
# versions), gapfill_linear (time-grid interpolation),
# isotonic_calibration (PAV monotone fit, brute-force-pinned),
# ngram_containment_pairs (asymmetric near-dup), token_length_histogram
# / char_entropy (corpus-stats tail), rfm_segments (entity scoring),
# sql_groupby_all (SQL-surface tail), fellegi_sunter_em (EM record
# linkage, rotated out r8 while still r7-green), url_canonical_dedup
# (round-10 post-sweep addition: crawl-pipeline URL canonicalization,
# MATCH at all 3 sfs, never in a driver window),
# stream_url_frontier_drain (its STREAMING twin — the ninth streaming
# state shape: cross-batch canonical-key frontier dedup over
# variant-partitioned batches, MATCH at all 3 sfs),
# stream_topk_drain (the TENTH streaming state shape: bounded RANKED
# state — per-source best-K podium merged/truncated across
# doc_id-hash-partitioned batches, MATCH at all 3 sfs),
# robots_disallow_filter (crawl politeness: RFC-9309 longest-match /
# allow-wins-tie precedence over a broadcast rule table, MATCH at all
# 3 sfs — graded alongside url_canonical_dedup it certifies the whole
# crawl stage), stream_idle_flush_drain (the ELEVENTH streaming state
# shape: event-time TIMEOUT eviction — hasTimedOut / setTimeoutTimestamp
# / no-data invocation / state.remove, the executor surface no other
# drain touches; recursive-CTE oracle incl. Spark's no-data final
# micro-batch, MATCH at all 3 sfs), stream_chained_state_drain (the
# TWELFTH: chained stateful operators — dedup state store feeding a
# windowed-agg state store in one plan with watermark propagation
# between them, SPARK-42376; chain sensitivity test-pinned, MATCH at
# all 3 sfs), stream_merge_snapshot_drain (the foreachBatch →
# versioned-snapshot MERGE last mile: per-batch read-modify-write
# upserts committing atomic versions, exact-cents split-independence,
# 4-version ledger test-pinned, MATCH at all 3 sfs),
# stream_static_join_drain (the stream-static BROADCAST join against a
# real dim — customer market segment — stateless per-trigger
# re-resolution, nothing-dropped pin, MATCH at all 3 sfs). Obvious rotate-outs:
# the longest-green of ks_two_sample / chi2_source_lang /
# burstiness_by_type (stats screens keep two), conversion_latency,
# langid_confusion, dedup_exact-family redundancy per the family sets
# in tests/test_registry.py. ~140 oracled queries remain never
# driver-graded; keep retiring the tail.


def _apply_priority() -> None:
    """Reorder QUERIES in place so PRIORITY names come first (in that
    order), everything else keeping its module order after them. Names
    not yet registered (LLM modules load late) are skipped until they
    are."""
    snapshot = dict(QUERIES)
    QUERIES.clear()
    for n in PRIORITY:
        if n in snapshot:
            QUERIES[n] = snapshot.pop(n)
    QUERIES.update(snapshot)


_apply_priority()

# Queries intentionally without a SQL oracle (driver falls back to the
# weaker rows-only check) — each with the reason.
# approx_distinct / approx_quantiles / hll_mergeable_rollup were made
# SELF-VERIFYING in round 3 (exact values + in-engine bound booleans →
# full hash oracle); only the rolling sketch twin keeps the rows-only
# fallback (its whole point is avoiding the exact window recompute).
NO_ORACLE: dict[str, str] = {
    "rolling_active_users_hll": "HLL estimates are implementation-"
    "defined; bounded error vs the exact rolling_active_users twin "
    "asserted in tests/test_plans.py",
}


def register_llm_modules() -> None:
    """LLM-pipeline operators register late (heavier imports).
    Idempotent — repeat calls are no-ops."""
    if "dedup_exact" in QUERIES:
        return
    from ..llm import (  # noqa: PLC0415
        dedup,
        filters,
        multimodal,
        similarity,
        text,
        training,
    )

    for m in (dedup, filters, multimodal, similarity, text, training):
        for name, fn in m.QUERIES.items():
            if name in QUERIES:
                raise ValueError(f"duplicate query name: {name}")
            QUERIES[name] = fn
        ORACLES.update(m.ORACLES)
        NO_ORACLE.update(getattr(m, "NO_ORACLE", {}))
    _apply_priority()
