"""Registry invariants: the (query, oracle) contract the driver relies
on — every declared query is either oracle-checked or explicitly
excused with a reason; nothing dangles."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from data_warehouse_co_healthy_spark.plans import queries as reg
from tests.conftest import SF_DIR


def test_every_query_has_oracle_or_reason():
    reg.register_llm_modules()
    for name in reg.QUERIES:
        assert name in reg.ORACLES or name in reg.NO_ORACLE, (
            f"{name} has neither an oracle nor a NO_ORACLE reason"
        )


def test_no_orphan_oracles():
    reg.register_llm_modules()
    orphans = set(reg.ORACLES) - set(reg.QUERIES)
    assert not orphans, f"oracles without queries: {orphans}"


def test_no_oracle_reasons_are_meaningful():
    for name, reason in reg.NO_ORACLE.items():
        assert len(reason) > 20, f"{name}: reason too thin: {reason!r}"


def test_driver_window_is_the_priority_list():
    """The driver grades the FIRST 50 registry entries. They must be
    exactly the curated PRIORITY list (one representative per SURVEY §2
    row + flagship + LLM highlights), every one of them oracle-backed so
    the driver window contains zero rows-only checks."""
    reg.register_llm_modules()
    names = list(reg.QUERIES)
    assert len(reg.PRIORITY) == 50
    assert names[: len(reg.PRIORITY)] == list(reg.PRIORITY)
    no_oracle_in_window = [n for n in reg.PRIORITY if n not in reg.ORACLES]
    assert not no_oracle_in_window, (
        f"driver window entries without an oracle: {no_oracle_in_window}"
    )


def test_driver_window_keeps_family_representation():
    """Rotating heavies into the 50-slot window must never drop a
    SURVEY §2 family from driver grading: at least one representative
    of each family group below stays in PRIORITY."""
    families = {
        "projections": {"project_select", "case_when_bucket",
                        "fillna_left_join", "filter_rows"},
        "joins": {"star_join_revenue", "multi_key_join",
                  "left_join_miss", "role_playing_dim"},
        "co_pipelines": {"fact_formula_star", "fact_facturacion_star",
                         "fact_retiro_star", "fact_service_star"},
        # round-9: dedup_rows rotated out — U1/U2 union semantics run
        # graded inside fact_service_star's positional union and U3/U4
        # dedup semantics inside dedup_exact (canonical pick) and the
        # stream_dedup_drain state path, both in-window
        "setops": {"union_by_name", "union_positional", "dedup_rows",
                   "intersect_keys", "except_keys", "dedup_exact",
                   "stream_dedup_drain"},
        # round-9: date_dim_generate rotated out — F1/F2 explode, F4
        # formatting and the S6/F7 generated date dim all execute
        # inside the graded fact_formula_star / fact_service_star
        "scalars_dates": {"split_explode", "date_parts",
                          "month_name_mapping", "date_dim_generate",
                          "time_label", "fact_formula_star"},
        "aggregates": {"q1_pricing_summary", "supplier_scorecard",
                       "rollup_sales", "pivot_status"},
        # round-10: window_topk_per_group rotated out — ewma_smoother
        # keeps window functions driver-graded (ordered window + lag
        # unroll), and ordered-window shapes run inside
        # conversion_latency and the TPC-H stars' ordered output
        "windows": {"window_range_frame", "window_topk_per_group",
                    "order_limit_topk", "ewma_smoother"},
        # round-10: q5_local_supplier rotated out — q1_pricing_summary
        # IS TPC-H q1, so the family stays driver-graded
        "tpch": {"q3_shipping_priority", "q5_local_supplier",
                 "q1_pricing_summary"},
        # round-9: asof_join rotated out — the as-of binding runs
        # graded inside conversion_latency's self-excluding cumulative
        # window, and the temporal module keeps six graded stream
        # drains in-window
        "temporal": {"asof_join", "conversion_latency",
                     "stream_session_drain", "stream_late_drop_drain"},
        "llm_dedup": {"dedup_exact", "minhash_lsh_pairs",
                      "simhash_pairs", "dedup_connected_components",
                      "dedup_cc_star"},
        "llm_text": {"token_count", "text_quality", "bm25_search"},
        "llm_similarity": {"cosine_topk", "hybrid_search_rrf"},
        # round-9: jpeg_decode_stats supersedes image_decode_stats as
        # the graded media-decode slot (strictly harder decode path)
        "multimodal": {"image_decode_stats", "jpeg_decode_stats"},
        "warehouse": {"scd2_user_state", "surrogate_keys",
                      "zorder_layout_profile", "bucketed_join_revenue"},
    }
    window = set(reg.PRIORITY)
    missing = [fam for fam, names in families.items()
               if not (names & window)]
    assert not missing, f"families with no driver-window slot: {missing}"


def test_entry_module_exports_registry():
    qs, oracles = entry.queries(), entry.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 80
    # driver contract: oracle_sql values are plain SQL strings
    assert all(isinstance(s, str) and s.strip() for s in oracles.values())


def test_every_query_is_documented_in_coverage():
    """COVERAGE.md is the judge-facing SURVEY-§2 map — every registry
    query name must appear in it verbatim (docs can't silently drift
    behind the registry)."""
    cov = open("COVERAGE.md").read()
    missing = [q for q in sorted(entry.queries()) if q not in cov]
    assert not missing, f"undocumented queries: {missing}"


#: query -> the fixture tables it reads; the first one is rewritten.
#: The first three read memoized centroids, codebooks and probe
#: weights, the fourth staged bucketed tables, the last a staged
#: stream split.
_REWRITE_CASES = {
    "kmeans_embeddings": ("embeddings",),
    "ann_pq_adc": ("embeddings",),
    "quality_classifier": ("embeddings",),
    "bucketed_join_revenue": ("lineitem", "orders"),
    "stream_stateful_totals_drain": ("events",),
}


@pytest.mark.parametrize("name", sorted(_REWRITE_CASES))
def test_rewritten_fixture_is_not_served_stale(spark, tmp_path, name):
    """Run again after its source table is rewritten at the same path
    (half the rows, a new mtime), a query answers what it answers over
    a fresh dir holding the rewritten table, where no value derived
    from the old table can hit."""
    import os
    import shutil

    import pandas as pd
    import pyarrow.parquet as pq

    reg.register_llm_modules()
    fn = reg.QUERIES[name]
    tables = _REWRITE_CASES[name]
    dirs = {"a": tmp_path / "a", "b": tmp_path / "b"}
    for d in dirs.values():
        d.mkdir()
        for t in tables:
            shutil.copyfile(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")

    def run(d):
        got = fn(spark, str(d)).toPandas()
        return got.sort_values(list(got.columns)).reset_index(drop=True)

    def halve(d):
        path = d / f"{tables[0]}.parquet"
        mtime = path.stat().st_mtime_ns + 10**9
        full = pq.read_table(path)
        pq.write_table(full.slice(0, full.num_rows // 2), path)
        os.utime(path, ns=(mtime, mtime))

    first = run(dirs["a"])
    halve(dirs["a"])
    again = run(dirs["a"])
    halve(dirs["b"])
    fresh = run(dirs["b"])
    assert not first.equals(fresh), "the rewrite must change the answer"
    pd.testing.assert_frame_equal(
        again, fresh, check_exact=False, rtol=1e-9
    )
