"""LLM-pipeline operator semantics beyond the oracle hash checks."""

from __future__ import annotations

import pandas as pd
import pytest

from data_warehouse_co_healthy_spark.llm import dedup, similarity, text
from tests.conftest import SF_DIR


def test_pandas_topk_agrees_with_builtin(spark):
    """The Arrow/numpy brute-force variant must agree with the
    fold-based oracle-checked one (float summation order may differ in
    the last bits — compare with tolerance on cos, exactly on ranks)."""
    a = (
        similarity.cosine_topk(spark, SF_DIR)
        .toPandas()
        .sort_values(["query_id", "rk"])
        .reset_index(drop=True)
    )
    b = (
        similarity.cosine_topk_pandas(spark, SF_DIR)
        .toPandas()
        .sort_values(["query_id", "rk"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b, check_exact=False, atol=1e-3)


def test_minhash_signature_shape(spark):
    sig = dedup.minhash_signatures(spark, SF_DIR).toPandas()
    n_docs = sig.doc_id.nunique()
    assert len(sig) == n_docs * dedup.N_PERM
    assert sig.minhash.between(0, dedup.PRIME - 1).all()


def test_lsh_pairs_are_actually_similar(spark):
    """LSH candidates sharing a full 4-row band should have high real
    Jaccard on char shingles — spot-check the top pairs aren't noise."""
    pairs = dedup.minhash_lsh_pairs(spark, SF_DIR).toPandas()
    assert (pairs.doc_a < pairs.doc_b).all()
    if len(pairs):
        docs = (
            spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text")
            .toPandas()
            .set_index("doc_id")["text"]
        )
        sh = lambda t: {t[i : i + 5] for i in range(len(t) - 4)}  # noqa: E731
        # LSH candidates legitimately include lower-similarity pairs
        # (that's what the verify stage downstream is FOR); the noise
        # check is that the candidate set as a whole is enriched: the
        # best of a sample must be clearly similar
        jacs = []
        for _, row in pairs.head(20).iterrows():
            a, b = sh(docs[row.doc_a]), sh(docs[row.doc_b])
            jacs.append(len(a & b) / len(a | b))
        assert max(jacs) > 0.3, f"all sampled pairs look like noise: {jacs}"
        assert min(jacs) > 0.05, f"candidate floor too low: {min(jacs)}"


def test_embedding_dedup_pairs_above_threshold(spark):
    """Every reported near-dup pair clears the cosine threshold, and the
    banded-LSH blocking finds a nonempty subset of the true pairs."""
    pairs = similarity.dedup_embedding_cosine(spark, SF_DIR).toPandas()
    assert len(pairs) > 0
    assert (pairs.cos >= similarity.COS_DUP_THRESH).all()
    assert (pairs.vec_a < pairs.vec_b).all()


def test_ivf_probes_single_cell(spark):
    """IVF results: top-k per query, candidates all from one cell (the
    query's own), ranks contiguous from 1."""
    out = similarity.ann_ivf(spark, SF_DIR).toPandas()
    for qid, grp in out.groupby("query_id"):
        assert grp.cell.nunique() == 1
        assert sorted(grp.rk) == list(range(1, len(grp) + 1))
        assert len(grp) <= similarity.IVF_TOP_K


def test_exact_dedup_is_partition(spark):
    groups = dedup.dedup_exact(spark, SF_DIR).toPandas()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert groups.n_copies.sum() == n_docs


def test_langid_covers_all_docs(spark):
    out = text.langid_heuristic(spark, SF_DIR).toPandas()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert len(out) == n_docs
    assert set(out.pred_lang) <= set(text.STOPWORDS) | {"unknown"}


def test_cluster_labels_are_canonical_min(spark):
    """Cluster ids are real doc ids, never exceed the member's own id
    (min-label propagation invariant), and every doc is labeled."""
    labels = dedup.dedup_cluster_labels(spark, SF_DIR).toPandas()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert len(labels) == n_docs
    assert (labels.cluster_id <= labels.doc_id).all()
    assert set(labels.cluster_id) <= set(labels.doc_id)


def test_cluster_labels_release_edge_cache(spark):
    """No edge-list cache may outlive the query: every persistent RDD
    the query ADDS must be a localCheckpoint block (reclaimed when the
    result is GC'd), never a plain .persist() cache, which would need
    an explicit unpersist."""

    def persistent(sc):
        out = {}
        it = sc._jsc.sc().getPersistentRDDs().values().iterator()
        while it.hasNext():
            r = it.next()
            out[int(r.id())] = r
        return out

    before = set(persistent(spark.sparkContext))
    dedup.dedup_cluster_labels(spark, SF_DIR)
    after = persistent(spark.sparkContext)
    leaked = [
        rid
        for rid, r in after.items()
        if rid not in before and not bool(r.isLocallyCheckpointed())
    ]
    assert not leaked, f"persisted (non-checkpoint) RDDs leaked: {leaked}"


def test_pack_sequences_bins_are_monotonic(spark):
    """Within a source, pack ids never decrease in doc order and every
    pack except possibly the last is 'opened' below the target length."""
    from data_warehouse_co_healthy_spark.llm import text

    packs = (
        text.pack_sequences(spark, SF_DIR)
        .toPandas()
        .sort_values(["source", "doc_id"])
    )
    for _, grp in packs.groupby("source"):
        assert grp.pack_id.is_monotonic_increasing
        assert (grp.pack_id.diff().fillna(0) >= 0).all()


def test_chunk_documents_covers_every_doc(spark):
    from data_warehouse_co_healthy_spark.llm import text

    chunks = text.chunk_documents(spark, SF_DIR).toPandas()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert chunks.doc_id.nunique() == n_docs
    # chunk indices are contiguous from 0 per doc
    for _, grp in chunks.groupby("doc_id"):
        assert sorted(grp.chunk_idx) == list(range(len(grp)))


def test_pii_redaction_leaves_no_pii(spark):
    """After redaction no email/URL/phone pattern may survive, and every
    enriched doc must have found at least one of each."""
    from pyspark.sql import functions as F

    from data_warehouse_co_healthy_spark.llm import filters

    out = filters.pii_redaction(spark, SF_DIR)
    enriched = out.filter(
        (F.col("doc_id") % filters.PII_MOD) == filters.PII_REM
    )
    assert enriched.filter(
        (F.col("n_emails") < 1) | (F.col("n_urls") < 1) | (F.col("n_phones") < 1)
    ).count() == 0
    clean = out.filter(
        (F.col("doc_id") % filters.PII_MOD) != filters.PII_REM
    )
    assert clean.filter(
        (F.col("n_emails") > 0) | (F.col("n_urls") > 0) | (F.col("n_phones") > 0)
    ).count() == 0


def test_repetition_ratios_bounded(spark):
    from pyspark.sql import functions as F

    from data_warehouse_co_healthy_spark.llm import filters

    out = filters.repetition_ratio(spark, SF_DIR)
    assert out.filter(
        (F.col("dup_word_ratio") < 0)
        | (F.col("dup_word_ratio") > 1)
        | (F.col("dup_bigram_ratio") < 0)
        | (F.col("dup_bigram_ratio") > 1)
    ).count() == 0


def test_contamination_excludes_eval_docs(spark):
    """Eval-set docs must not be scored; scores are fractions in [0,1]."""
    from pyspark.sql import functions as F

    from data_warehouse_co_healthy_spark.llm import filters

    out = filters.contamination_overlap(spark, SF_DIR)
    assert out.filter(
        (F.col("doc_id") % filters.EVAL_MOD) == filters.EVAL_REM
    ).count() == 0
    assert out.filter(
        (F.col("contamination") < 0) | (F.col("contamination") > 1)
    ).count() == 0
    assert out.filter(F.col("n_hit") > F.col("n_grams")).count() == 0


def test_mix_keeps_target_fraction_and_reweights(spark):
    """Overall keep-rate lands near MIX_KEEP_FRAC, and hot sources keep
    a higher fraction of their docs than cold sources."""
    from pyspark.sql import functions as F

    from data_warehouse_co_healthy_spark.llm import filters
    from data_warehouse_co_healthy_spark.catalog import load_table

    kept = filters.mix_sources_weighted(spark, SF_DIR)
    total = load_table(spark, SF_DIR, "documents").count()
    frac = kept.count() / total
    assert abs(frac - filters.MIX_KEEP_FRAC) < 0.1

    rates = (
        kept.groupBy("source")
        .count()
        .join(
            load_table(spark, SF_DIR, "documents")
            .groupBy("source")
            .agg(F.count("*").alias("n")),
            on="source",
        )
        .select("source", (F.col("count") / F.col("n")).alias("kept_frac"))
        .collect()
    )
    hot = [r.kept_frac for r in rates if r.source in filters.MIX_HOT_SOURCES]
    cold = [
        r.kept_frac for r in rates if r.source not in filters.MIX_HOT_SOURCES
    ]
    assert min(hot) > max(cold)


def test_split_assigns_every_doc_exactly_once(spark):
    from data_warehouse_co_healthy_spark.catalog import load_table
    from data_warehouse_co_healthy_spark.llm.filters import (
        train_val_test_split,
    )

    out = train_val_test_split(spark, SF_DIR).toPandas()
    docs = load_table(spark, SF_DIR, "documents")
    assert len(out) == docs.count()
    assert out.doc_id.is_unique
    frac = out.split.value_counts(normalize=True)
    # hash split at small N: train dominates, all three present-ish
    assert frac.get("train", 0) > 0.8
    assert set(out.split.unique()) <= {"train", "val", "test"}
    # determinism: a second build is identical
    again = train_val_test_split(spark, SF_DIR).toPandas()
    assert out.sort_values("doc_id").split.tolist() == \
        again.sort_values("doc_id").split.tolist()


def test_tfidf_topk_ranks_are_dense_per_source(spark):
    from data_warehouse_co_healthy_spark.llm.text import (
        TFIDF_TOPK,
        tfidf_top_terms,
    )

    out = tfidf_top_terms(spark, SF_DIR).toPandas()
    for src, grp in out.groupby("source"):
        assert sorted(grp.rk.tolist()) == list(range(1, TFIDF_TOPK + 1))
        assert grp.token.is_unique
        assert (grp.sort_values("rk").score.diff().dropna() <= 1e-9).all()


def test_editdist_rerank_subset_and_exact_dups_score_one(spark):
    """Re-ranked pairs are a subset of the LSH candidates; pairs whose
    canonical texts are identical (exact dups survive LSH by
    construction) must score editdist=0 / edit_sim=1."""
    pairs = dedup.minhash_lsh_pairs(spark, SF_DIR).toPandas()
    ranked = dedup.dedup_editdist_rerank(spark, SF_DIR).toPandas()
    cand = {tuple(r) for r in pairs[["doc_a", "doc_b"]].to_numpy()}
    assert {tuple(r) for r in ranked[["doc_a", "doc_b"]].to_numpy()} <= cand
    assert (ranked.edit_sim >= dedup.EDIT_SIM_MIN).all()
    exact = ranked[ranked.editdist == 0]
    assert (exact.edit_sim == 1.0).all()
    # wherever the corpus HAS exact-duplicate content, the verify stage
    # must confirm those pairs at distance zero (sf0.001 may have none)
    dups = dedup.dedup_exact(spark, SF_DIR).toPandas()
    n_dup_groups = (dups.n_copies > 1).sum()
    if n_dup_groups:
        assert len(exact) > 0


def test_pmi_bigrams_support_floor_and_symmetric_marginals(spark):
    out = text.pmi_bigrams(spark, SF_DIR).toPandas()
    assert (out.bc >= text.MIN_BIGRAM).all()
    # PMI is bounded above by ln(U / max(uc1, uc2)) <= ln(U); sanity:
    # finite, and a bigram can't be more frequent than either unigram
    import numpy as np

    assert np.isfinite(out.pmi).all()
    # determinism
    again = text.pmi_bigrams(spark, SF_DIR).toPandas()
    key = ["w1", "w2"]
    assert out.sort_values(key).reset_index(drop=True).equals(
        again.sort_values(key).reset_index(drop=True)
    )


def test_bm25_scores_only_docs_containing_query_terms(spark):
    from data_warehouse_co_healthy_spark.catalog import load_table

    out = text.bm25_search(spark, SF_DIR).toPandas()
    assert (out.bm25 > 0).all()
    docs = load_table(spark, SF_DIR, "documents").toPandas()
    docs["hit"] = docs.text.str.lower().str.split().map(
        lambda ws: any(t in ws for t in text.BM25_TERMS)
    )
    hit_ids = set(docs[docs.hit].doc_id)
    assert set(out.doc_id) == hit_ids
    # a doc stuffed with query terms outranks one with a single hit
    tf_tot = docs.set_index("doc_id").text.str.lower().str.split().map(
        lambda ws: sum(w in text.BM25_TERMS for w in ws)
    )
    top = out.sort_values("bm25", ascending=False).doc_id.iloc[0]
    assert tf_tot[top] >= tf_tot[list(hit_ids)].median()


def test_kmeans_partitions_all_vectors_and_inertia_decreases(spark):
    """Lloyd's must (a) assign every vector exactly once, (b) be
    deterministic across runs, (c) monotonically not increase inertia
    as iterations grow (the defining invariant of Lloyd's)."""
    from data_warehouse_co_healthy_spark.llm import training

    out = training.kmeans_embeddings(spark, SF_DIR).toPandas()
    n = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert len(out) == n
    assert out.vec_id.is_unique
    assert set(out.cid) <= set(range(training.K_CLUSTERS))
    assert (out.dist >= 0).all()

    again = training.kmeans_embeddings(spark, SF_DIR).toPandas()
    pd.testing.assert_frame_equal(
        out.sort_values("vec_id").reset_index(drop=True),
        again.sort_values("vec_id").reset_index(drop=True),
        check_exact=False,
        atol=1e-6,
    )

    orig_iters = training.KM_ITERS
    try:
        training.KM_ITERS = 1
        inertia_1 = training.kmeans_embeddings(spark, SF_DIR).toPandas().dist.sum()
    finally:
        training.KM_ITERS = orig_iters
    inertia_n = out.dist.sum()
    assert inertia_n <= inertia_1 + 1e-6


def test_connected_components_refines_bounded_propagation(spark):
    """Converged CC labels must be consistent with the pair graph:
    every LSH candidate pair lands in the same component, and the
    component id is the min doc_id of its members."""
    pairs = dedup.minhash_lsh_pairs(spark, SF_DIR).toPandas()
    cc = dedup.dedup_connected_components(spark, SF_DIR).toPandas()
    lab = dict(zip(cc.doc_id, cc.cluster_id))
    for a, b in zip(pairs.doc_a, pairs.doc_b):
        assert lab[a] == lab[b], (a, b)
    grp = cc.groupby("cluster_id").doc_id.min()
    assert (grp.index == grp.values).all()


def test_connected_components_job_cap(spark):
    """Converged labels come from star contraction: an eager checkpoint
    of the oriented pairs, one bounded driver fetch and the final join
    — 8 Spark jobs measured at SF_DIR (9 as a session's first query);
    a fixpoint label-propagation loop needs 56 there."""
    sc = spark.sparkContext
    group = "test_connected_components_job_cap"
    sc.setJobGroup(group, group)
    try:
        dedup.dedup_connected_components(spark, SF_DIR).toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 10, len(jobs)


def test_exact_substring_matches_exact_offsets(spark, tmp_path):
    """A planted verbatim passage must be reported as ONE maximal run
    with exact 1-based offsets and length; sub-threshold overlaps and
    self-pairs must not appear."""
    shared = "the identical boilerplate passage xyz"  # 37 chars
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "AAAA " + shared + " tail-one distinct ending here",
                "prefix-two BB " + shared + " other suffix text",
                "completely unrelated content with no overlap at all",
            ],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
        }
    )
    docs["n_chars"] = docs.text.str.len().astype("int64")
    d = str(tmp_path)
    docs.to_parquet(f"{d}/documents.parquet", index=False)
    out = dedup.exact_substring_matches(spark, d).toPandas()
    # only the (0, 1) pair shares a >=ESS_MIN_RUN run
    assert set(zip(out.doc_a, out.doc_b)) == {(0, 1)}
    run = out[(out.doc_a == 0) & (out.doc_b == 1)]
    # the shared region includes the flanking spaces both docs share
    # (' ' + shared + ' '), so expect the maximal run to cover it
    a_expected = docs.text[0].lower().find(shared) + 1  # 1-based
    b_expected = docs.text[1].lower().find(shared) + 1
    best = run.sort_values("run_len", ascending=False).iloc[0]
    assert best.run_len >= len(shared)
    assert abs(best.a_start - a_expected) <= 1  # flanking space
    assert abs(best.b_start - b_expected) <= 1
    # offsets are consistent: the reported spans are IDENTICAL text
    for _, r in run.iterrows():
        sa = docs.text[0].lower()[r.a_start - 1 : r.a_start - 1 + r.run_len]
        sb = docs.text[1].lower()[r.b_start - 1 : r.b_start - 1 + r.run_len]
        assert sa == sb and len(sa) == r.run_len


def _force_distributed_star(monkeypatch):
    """Route star_contraction around the driver fast path so the
    distributed LS/SS machinery itself is what the test runs."""
    monkeypatch.setattr(dedup, "CC_DRIVER_EDGE_MAX", -1)


def test_star_contraction_driver_and_distributed_paths_agree(
    spark, monkeypatch
):
    """The driver fast path (bounded union-find off one fetch) must
    produce exactly the distributed contraction's labels on the
    fixture graph — the BPE both-paths equivalence recipe."""
    fast = (
        dedup.dedup_connected_components(spark, SF_DIR)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    _force_distributed_star(monkeypatch)
    dist = (
        dedup.dedup_connected_components(spark, SF_DIR)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert (fast.doc_id == dist.doc_id).all()
    assert (fast.cluster_id == dist.cluster_id).all()


def test_star_contraction_bridge_node_not_a_premature_star(
    spark, monkeypatch
):
    """Regression (hypothesis-found): edges {(0,2), (1,2)} have no
    node in both child and parent roles, yet node 2 bridges 0 and 1 —
    the termination check must ALSO require one parent per child, or
    contraction stops a round early with split labels."""
    _force_distributed_star(monkeypatch)
    edges = spark.createDataFrame([(0, 2), (1, 2)], "s long, d long")
    parents, _ = dedup.star_contraction(edges)
    got = {int(r["node"]): int(r["root"]) for r in parents.collect()}
    assert got == {1: 0, 2: 0}


def test_star_contraction_chain_converges_logarithmically(
    spark, monkeypatch
):
    """Adversarial high-diameter component: a 200-link chain. Label
    propagation would need ~200 rounds (beyond its cap); star
    contraction must converge in <10 LS+SS rounds and still label
    every node with the chain's minimum."""
    _force_distributed_star(monkeypatch)
    n = 201
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)] + [(500, 501), (502, 502)],
        "s long, d long",
    )
    parents, rounds = dedup.star_contraction(edges)
    assert rounds < 10, rounds
    pm = parents.toPandas()
    chain = pm[pm.node < 500]
    # every chain node except the root (0) points at 0
    assert sorted(chain.node) == list(range(1, n))
    assert (chain.root == 0).all()
    assert (pm[pm.node == 501].root == 500).all()
    # self-loop-only node 502 is a root: absent from the parent map
    assert 502 not in set(pm.node)


@pytest.mark.parametrize("cap", [None, 0])
@pytest.mark.parametrize(
    "dtype, row", [("int", (1, 2)), ("string", ("a", "b"))],
    ids=["int", "string"],
)
def test_star_contraction_rejects_non_long_ids(
    spark, monkeypatch, cap, dtype, row
):
    """Both paths emit ``node long, root long``, so a non-long id
    column must raise TypeError naming its type before either path
    runs — with the default driver cap and with the cap at 0."""
    if cap is not None:
        monkeypatch.setattr(dedup, "CC_DRIVER_EDGE_MAX", cap)
    edges = spark.createDataFrame([row], f"s {dtype}, d {dtype}")
    with pytest.raises(TypeError, match=f"got {dtype}$"):
        dedup.star_contraction(edges)


def test_chunk_dedup_preserves_unique_docs(spark):
    """A doc made of corpus-unique chunks must reassemble to its exact
    original text; docs sharing all chunks with >CHUNK_MAX_FREQ copies
    must vanish."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").toPandas()
    out = dedup.chunk_dedup_reassemble(spark, SF_DIR).toPandas()
    merged = docs.merge(out, on="doc_id", how="inner")
    # texts whose every chunk survived must round-trip byte-identically
    full = merged[
        merged.kept_chunks
        == (merged.text.str.split(" ").str.len() + dedup.CHUNK_WORDS - 1)
        // dedup.CHUNK_WORDS
    ]
    assert len(full) > 0
    assert (full.cleaned_text == full.text).all()


def test_phash_buckets_group_identical_payloads(spark):
    """Exact-duplicate payloads must share a phash bucket; bucket sizes
    must be consistent with the per-hash group counts."""
    from data_warehouse_co_healthy_spark.llm import multimodal

    out = multimodal.media_phash_buckets(spark, SF_DIR).toPandas()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").toPandas()
    m = docs.merge(out, left_on="doc_id", right_on="media_id")
    # identical text => identical payload => identical phash
    for _, grp in m.groupby("text"):
        assert grp.phash.nunique() == 1
    sizes = out.groupby("phash").media_id.size()
    got = out.set_index("phash").n_bucket
    assert (got == sizes.loc[got.index]).all()


def test_ivf_kmeans_recall_vs_brute_force(spark):
    """Trained-quantizer IVF with nprobe=2 must recover a healthy
    fraction of the true top-5 neighbors while scoring only a fraction
    of the corpus per query (the IVF contract)."""
    got = similarity.ann_ivf_kmeans(spark, SF_DIR).toPandas()
    truth = similarity.cosine_topk(spark, SF_DIR).toPandas()
    recalls = []
    for qid, grp in truth.groupby("query_id"):
        g = set(got[got.query_id == qid].cand_id)
        recalls.append(len(g & set(grp.cand_id)) / len(grp))
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.4, mean_recall
    from data_warehouse_co_healthy_spark.llm.training import K_CLUSTERS
    assert got.groupby("query_id").rk.is_monotonic_increasing.all()


def test_semantic_dedup_keep_set_invariants(spark):
    """The greedy keep-set must satisfy its own contract: every pair of
    KEPT vectors in a cell is below the cosine threshold, and every
    dropped vector is justified by a kept one with smaller vec_id."""
    import numpy as np

    from data_warehouse_co_healthy_spark.llm import training

    out = training.semantic_dedup(spark, SF_DIR).toPandas()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").toPandas()
    assert len(out) == len(emb)
    vecs = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in emb.itertuples()
    }
    for v in vecs:
        vecs[v] = vecs[v] / np.linalg.norm(vecs[v])
    for _, cell in out.groupby("cid"):
        kept = cell[cell.kept].sort_values("vec_id")
        ids = list(kept.vec_id)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                assert vecs[a] @ vecs[b] < training.SEMDEDUP_COS
        for r in cell[~cell.kept].itertuples():
            justified = any(
                vecs[k] @ vecs[r.vec_id] >= training.SEMDEDUP_COS
                for k in ids
                if k < r.vec_id
            )
            assert justified, r.vec_id


def test_approx_topk_tokens_matches_exact_on_fixture(spark):
    """On the small-vocab fixture the frequent-items sketch is exact:
    its top-K set and counts must equal the exact token counts."""
    from pyspark.sql import functions as F

    got = text.approx_topk_tokens(spark, SF_DIR).toPandas()
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    all_counts = (
        d.select(
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w")
        )
        .groupBy("w")
        .count()
        .toPandas()
        .set_index("w")["count"]
    )
    exact_sorted = all_counts.sort_values(ascending=False)
    # every sketched count must be the exact count for that token
    for tok, est in zip(got.token, got.est_count):
        assert all_counts[tok] == est, (tok, est, all_counts[tok])
    # determinism contract (what the DuckDB oracle relies on): the
    # result is EXACTLY the tokens strictly above the K-th largest
    # exact count, ranked by (count DESC, token) — the tie-ambiguous
    # boundary group is excluded by construction
    kth = exact_sorted.iloc[text.APPROX_TOPK_K - 1]
    want = sorted(
        ((int(c), t) for t, c in all_counts.items() if c > kth),
        key=lambda p: (-p[0], p[1]),
    )
    got_sorted = got.sort_values("rk")
    assert list(got_sorted.rk) == list(range(1, len(want) + 1))
    assert [(c, t) for c, t in want] == list(
        zip(got_sorted.est_count, got_sorted.token)
    )


def test_pq_encode_invariants(spark):
    """PQ codes: correct arity and range, deterministic across runs,
    and reconstruction error bounded (unit vectors => per-dim MSE must
    sit well below the 1/d energy of the vector itself)."""
    from data_warehouse_co_healthy_spark.llm.similarity import (
        PQ_K,
        PQ_M,
    )

    a = similarity.pq_encode(spark, SF_DIR).toPandas()
    b = similarity.pq_encode(spark, SF_DIR).toPandas()
    parsed = a.codes.map(lambda c: [int(x) for x in c.split(",")])
    assert parsed.map(len).eq(PQ_M).all()
    assert parsed.map(max).lt(PQ_K).all()
    assert parsed.map(min).ge(0).all()
    pd.testing.assert_frame_equal(
        a.sort_values("vec_id").reset_index(drop=True),
        b.sort_values("vec_id").reset_index(drop=True),
    )
    # unit vectors carry 1/64 energy per dim; quantization must beat it
    assert (a.recon_mse < 1.0 / 64).all(), a.recon_mse.max()


def test_pq_refine_recall_vs_brute_force(spark):
    """The full PQ recipe (ADC shortlist + exact rescore) must recover
    most of the true top-5; the pure-ADC ranking is allowed the known
    8-byte-code recall trade but must beat random."""
    truth = similarity.cosine_topk(spark, SF_DIR).toPandas()
    refined = similarity.ann_pq_refine(spark, SF_DIR).toPandas()
    adc = similarity.ann_pq_adc(spark, SF_DIR).toPandas()

    def mean_recall(got):
        rs = []
        for qid, grp in truth.groupby("query_id"):
            g = set(got[got.query_id == qid].cand_id)
            rs.append(len(g & set(grp.cand_id)) / len(grp))
        return sum(rs) / len(rs)

    assert mean_recall(refined) >= 0.6, mean_recall(refined)
    assert mean_recall(adc) >= 0.1, mean_recall(adc)
    # refine must strictly improve on pure ADC on this fixture
    assert mean_recall(refined) > mean_recall(adc)


def test_hybrid_rrf_fuses_both_rank_lists(spark):
    """RRF invariants: every fused score equals the recomputed
    1/(K+lex_rk) + 1/(K+cos_rk) with absent list membership contributing
    zero; each query returns exactly TOP_K rows; and a candidate ranked
    top by BOTH lists outscores one present in only one list."""
    fused = similarity.hybrid_search_rrf(spark, SF_DIR).toPandas()
    k = similarity.RRF_K
    for _, r in fused.iterrows():
        want = 0.0
        if pd.notna(r.lex_rk):
            want += 1.0 / (k + r.lex_rk)
        if pd.notna(r.cos_rk):
            want += 1.0 / (k + r.cos_rk)
        assert abs(r.rrf - round(want, 6)) < 1e-9, r
    counts = fused.groupby("query_id").size()
    assert (counts == similarity.TOP_K).all(), counts
    both = fused[fused.lex_rk.notna() & fused.cos_rk.notna()]
    single = fused[fused.lex_rk.isna() | fused.cos_rk.isna()]
    if len(both) and len(single):
        assert both.rrf.max() > single.rrf.min()


def test_epoch_shuffle_orders_are_decorrelated_and_complete(spark):
    """Each epoch is a complete permutation of the corpus into shards,
    and different epochs produce different orders (the seed actually
    changes the shuffle)."""
    from data_warehouse_co_healthy_spark.llm import training

    out = training.epoch_shuffle(spark, SF_DIR).toPandas()
    n_docs = out.doc_id.nunique()
    for e, grp in out.groupby("epoch"):
        assert len(grp) == n_docs
        assert grp.doc_id.nunique() == n_docs
        # positions within each shard are dense 1..n
        for _, s in grp.groupby("shard"):
            assert sorted(s.pos) == list(range(1, len(s) + 1))
    e0 = out[out.epoch == 0].set_index("doc_id")[["shard", "pos"]]
    e1 = out[out.epoch == 1].set_index("doc_id")[["shard", "pos"]]
    assert not e0.join(e1, lsuffix="_0", rsuffix="_1").pipe(
        lambda j: ((j.shard_0 == j.shard_1) & (j.pos_0 == j.pos_1)).all()
    )


def test_snm_finds_exact_duplicates_within_blocks(spark):
    """Exact duplicates share an identical sorted-token signature, so
    they sort adjacently — every exact-dup pair (same canonical
    fingerprint) must be recovered by the SNM window unless more than
    SNM_NEIGHBORS copies stack up between them."""
    pairs = dedup.snm_adjacent_pairs(spark, SF_DIR).toPandas()
    assert (pairs.jac >= dedup.SNM_THRESHOLD).all()
    assert (pairs.doc_a < pairs.doc_b).all()
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .toPandas()
    )
    docs["fp"] = docs.text.str.lower().str.strip()
    got = set(map(tuple, pairs[["doc_a", "doc_b"]].values))
    for _, grp in docs.groupby("fp"):
        ids = sorted(grp.doc_id)
        if 2 <= len(ids) <= dedup.SNM_NEIGHBORS + 1:
            # consecutive identical docs must pair with jac = 1
            for a, b in zip(ids, ids[1:]):
                assert (a, b) in got, (a, b)


def test_quality_classifier_learns_the_weak_label(spark):
    """The engine-trained linear probe must separate the label classes
    (mean score of positives well above negatives), beat the
    majority-class accuracy baseline, and produce predictions that are
    deterministic at the rounded-score grain across two runs."""
    from data_warehouse_co_healthy_spark.llm import training

    a = training.quality_classifier(spark, SF_DIR).toPandas()
    assert len(a) == a.vec_id.nunique()
    assert a.score.between(0, 1).all()
    pos, neg = a[a.label == 1], a[a.label == 0]
    assert pos.score.mean() > neg.score.mean() + 0.2, (
        pos.score.mean(),
        neg.score.mean(),
    )
    # balanced accuracy: the honest bar for a ~10%-positive class
    # (plain accuracy is maximized by predicting the majority class)
    bal = ((pos.pred == 1).mean() + (neg.pred == 0).mean()) / 2
    assert bal > 0.7, bal
    # drop the memoized weights so run 2 is a REAL retrain, making the
    # determinism assertion non-vacuous (ADVICE r3)
    from data_warehouse_co_healthy_spark.catalog import _MEMO

    del _MEMO[("probe_weights", SF_DIR)]
    b = training.quality_classifier(spark, SF_DIR).toPandas()
    m = a.merge(b, on="vec_id", suffixes=("_a", "_b"))
    assert (m.pred_a == m.pred_b).all()
    assert (m.score_a - m.score_b).abs().max() <= 1e-3


def test_bpe_merges_first_rule_exact_and_deterministic(spark):
    """Merge 1 must be the exact most-frequent adjacent character pair
    (independent pandas recount); later merges may only use symbols
    available at their rank; two runs agree exactly."""
    from collections import Counter

    from data_warehouse_co_healthy_spark.llm import training

    got = training.bpe_merges(spark, SF_DIR).toPandas()
    assert list(got["rank"]) == list(range(1, training.BPE_MERGES + 1))
    assert (got.merged == got.left + got.right).all()
    assert (got.pair_count > 0).all()

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").toPandas()
    pairs = Counter()
    for text in docs.text:
        for w in text.lower().split():
            for a, b in zip(w, w[1:]):
                pairs[(a, b)] += 1
    # engine tie-break: count desc, then (left, right) asc
    best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
    r1 = got.iloc[0]
    assert (r1.left, r1.right) == best[0], (r1.left, r1.right, best)
    assert r1.pair_count == best[1]


def test_bpe_over_cap_vocabulary_raises(spark):
    """A vocabulary over BPE_DRIVER_VOCAB_MAX words must raise, naming
    the cap, instead of being collected to the driver."""
    import pytest

    from data_warehouse_co_healthy_spark.llm import training

    orig = training.BPE_DRIVER_VOCAB_MAX
    training.BPE_DRIVER_VOCAB_MAX = 0
    try:
        with pytest.raises(ValueError, match="BPE_DRIVER_VOCAB_MAX=0"):
            training.bpe_merges(spark, SF_DIR)
    finally:
        training.BPE_DRIVER_VOCAB_MAX = orig


def test_bpe_segment_matches_python_apply(spark):
    """Corpus stats are internally consistent and the engine's fold
    segmentation agrees with an independent Python BPE apply over the
    learned merge table on every distinct word of a sample doc."""
    from data_warehouse_co_healthy_spark.llm import training

    stats = training.bpe_segment(spark, SF_DIR).toPandas()
    assert (stats.n_tokens <= stats.n_words * 64).all()
    assert (stats.tokens_per_word >= 1).all()
    assert (stats.chars_per_token >= 1).all()

    merges = training.bpe_merges(spark, SF_DIR).toPandas()
    rules = list(zip(merges.left, merges.right))

    def apply_bpe(word):
        s = list(word)
        for left, right in rules:
            out = []
            for x in s:
                if out and out[-1] == left and x == right:
                    out[-1] = left + right
                else:
                    out.append(x)
            s = out
        return s

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").toPandas()
    tok_cache = {}
    want = {}
    for _, row in docs.iterrows():
        words = [w for w in row.text.lower().split() if w]
        agg = want.setdefault(row.source, [0, 0, 0])  # words, toks, chars
        for w in words:
            if w not in tok_cache:
                segs = apply_bpe(w)
                assert "".join(segs) == w  # chars conserved
                tok_cache[w] = len(segs)
            agg[0] += 1
            agg[1] += tok_cache[w]
            agg[2] += len(w)
    for _, r in stats.iterrows():
        ww, tt, cc = want[r.source]
        assert r.n_words == ww, (r.source, r.n_words, ww)
        assert r.n_tokens == tt, (r.source, r.n_tokens, tt)
        assert r.tokens_per_word == round(tt / ww, 4)
        assert r.chars_per_token == round(cc / tt, 4)
    assert set(stats.source) == set(want)


def test_bootstrap_ci_brackets_the_point_estimate(spark):
    """Bootstrap interval sanity: lo <= mid <= hi, the point estimate
    falls inside the 95% interval for every source, and the interval
    has nonzero width (the resampling actually varied)."""
    from data_warehouse_co_healthy_spark.llm import filters

    out = filters.bootstrap_ci(spark, SF_DIR).toPandas()
    assert len(out) == out.source.nunique()
    assert (out.ci_lo <= out.ci_mid).all()
    assert (out.ci_mid <= out.ci_hi).all()
    assert (out.ci_lo <= out.mean_chars).all()
    assert (out.mean_chars <= out.ci_hi).all()
    assert (out.ci_hi > out.ci_lo).all()


def test_psi_nonnegative_and_complete(spark):
    """PSI is a symmetrized KL divergence — every term
    (p−q)·ln(p/q) >= 0, so the sum must be nonnegative and finite for
    every source. (Magnitude is not asserted at this fixture scale:
    sf0.001 holds ~3 docs per source, where bin-share noise lawfully
    produces large PSI values; the sf0.01 oracle hash pins the exact
    arithmetic.)"""
    import numpy as np

    from data_warehouse_co_healthy_spark.llm import filters

    out = filters.population_stability_index(spark, SF_DIR).toPandas()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").toPandas()
    assert set(out.source) == set(docs.source)
    assert (out.psi >= 0).all()
    assert np.isfinite(out.psi).all()


def test_url_canonical_dedup_collapses_all_noise_shapes(spark):
    """URL canonicalization must collapse every planted spelling of one
    resource to a single canonical row: the fixture rotates each
    (host, path) through all four messy variants (scheme/port, host
    case, www., utm_ params, param order, trailing slash, fragment),
    so every canonical must aggregate >= 2 distinct raw spellings —
    and the canonical string itself must carry none of the noise."""
    from data_warehouse_co_healthy_spark.llm import filters

    out = filters.url_canonical_dedup(spark, SF_DIR).toPandas()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()

    # one row per (host, path) resource: the full planted universe
    assert len(out) == filters.URL_HOSTS * filters.URL_PATHS
    # every doc plants exactly two URLs; nothing lost, nothing invented
    assert int(out.n_occurrences.sum()) == 2 * n_docs
    # each canonical collapsed multiple raw spellings
    assert (out.n_variants >= 2).all()
    assert (out.n_variants <= 8).all()  # 4 shapes x 2 plant slots
    # the canonical key is noise-free: lowered host, no scheme/port/
    # fragment, tracking params dropped, survivors sorted
    assert not out.canonical.str.contains("://|www\\.|#|utm_|:443|:80").any()
    assert out.canonical.str.match(r"site\d\.example\.com/path/\d+\?a=1&b=2$").all()
    assert (out.host == out.canonical.str.split("/").str[0]).all()
    # keeper is the min contributing doc, and plausible
    assert (out.keeper_doc >= 0).all()
    assert (out.keeper_doc < n_docs).all()


def test_retrieval_ndcg_bounds_and_hybrid_value(spark):
    """NDCG and MRR live in [0, 1]; the RRF fusion should put at least
    one true-top-5 candidate in its list for most queries (MRR > 0),
    and mean NDCG must beat a random-ranking floor."""
    out = similarity.retrieval_ndcg(spark, SF_DIR).toPandas()
    assert len(out) == similarity.N_QUERIES
    assert out.ndcg.between(0, 1).all()
    assert out.mrr.between(0, 1).all()
    assert (out.mrr > 0).mean() >= 0.6
    assert out.ndcg.mean() > 0.3, out.ndcg.mean()


def test_gopher_quality_flags_each_rule_fires(spark, tmp_path):
    """Hand-built docs that each violate exactly one Gopher rule, plus
    one that passes all — every flag must fire on its target and the
    conjunctive keep must reflect the union of failures."""
    import pandas as pd

    from data_warehouse_co_healthy_spark.llm import text as tx

    good_words = ["the", "a"] + ["table"] * 48  # 50 words, len band ok
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4, 5],
            "text": [
                " ".join(good_words),                      # passes all
                "the a table",                             # too few words
                " ".join(["the", "a"] + ["of"] * 48),      # words too short
                " ".join(good_words) + " " + "# " * 20,    # symbol spam
                " ".join(["the", "a"] + ["9"] * 48),       # digits, no alpha
                " ".join(["table"] * 50),                  # no stopwords
            ],
            "lang": ["en"] * 6,
            "source": ["s"] * 6,
        }
    )
    docs["n_chars"] = docs.text.str.len().astype("int64")
    d = str(tmp_path)
    docs.to_parquet(f"{d}/documents.parquet", index=False)
    out = (
        tx.gopher_quality_flags(spark, d)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert bool(out.loc[0, "keep"])
    assert not out.loc[1, "pass_word_count"]
    assert not out.loc[2, "pass_word_len"]
    assert not out.loc[3, "pass_symbols"]
    assert not out.loc[4, "pass_alpha"]
    assert out.loc[4, "alpha_frac"] < 0.1
    assert not out.loc[5, "pass_stopwords"]
    assert out.loc[5, "stop_hits"] == 0
    assert not out.loc[1:, "keep"].any()


def test_bigram_perplexity_matches_python_reference(spark, tmp_path):
    """Bigram LM scoring vs an independent pure-Python reference on a
    hand-built corpus; predictable text must score lower perplexity
    than unique-word text, and n_bigrams == n_words - 1."""
    import math
    from collections import Counter

    import pandas as pd

    from data_warehouse_co_healthy_spark.llm import text as tx

    texts = [
        "a b a b a b a b a b",            # fully predictable
        "q w e r t y u i o p",            # every bigram unique
        "a b c a b c a b",                # mid
    ]
    docs = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
        }
    )
    docs["n_chars"] = docs.text.str.len().astype("int64")
    d = str(tmp_path)
    docs.to_parquet(f"{d}/documents.parquet", index=False)
    out = (
        tx.bigram_perplexity(spark, d)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    # independent reference
    k = tx.BIGRAM_K
    all_words = [t.split() for t in texts]
    bis = [list(zip(ws, ws[1:])) for ws in all_words]
    c2 = Counter(b for bb in bis for b in bb)
    c1 = Counter(b[0] for bb in bis for b in bb)
    v = len({w for ws in all_words for w in ws})
    for i, bb in enumerate(bis):
        nll = [
            -math.log((c2[b] + k) / (c1[b[0]] + k * v)) for b in bb
        ]
        mean_nll = sum(nll) / len(nll)
        assert out.loc[i, "n_bigrams"] == len(all_words[i]) - 1
        assert abs(out.loc[i, "mean_nll"] - round(mean_nll, 4)) <= 1e-9, i
        assert abs(out.loc[i, "ppl"] - round(math.exp(mean_nll), 2)) <= 1e-9
    assert out.loc[0, "ppl"] < out.loc[2, "ppl"] < out.loc[1, "ppl"]


def test_pagerank_matches_python_power_iteration(spark):
    """PageRank over the LSH pair graph vs an independent pure-Python
    power iteration with the same damping/rounds/dangling handling:
    ranks agree to the 8-decimal output rounding, total mass is 1, and any linked node
    outranks the isolated-node floor."""
    from data_warehouse_co_healthy_spark.llm import dedup

    got = {
        r["doc_id"]: r["rank"]
        for r in dedup.pagerank_near_dup(spark, SF_DIR).collect()
    }
    pairs = dedup.minhash_lsh_pairs(spark, SF_DIR).collect()
    n_docs = len(got)
    adj: dict[int, set[int]] = {}
    for r in pairs:
        a, b = r["doc_a"], r["doc_b"]
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    d, iters = dedup.PR_DAMPING, dedup.PR_ITERS
    ranks = {i: 1.0 / n_docs for i in got}
    for _ in range(iters):
        dangling = sum(v for k, v in ranks.items() if k not in adj)
        base = (1.0 - d) / n_docs + d * dangling / n_docs
        nxt = {i: base for i in ranks}
        for s, outs in adj.items():
            share = d * ranks[s] / len(outs)
            for t in outs:
                nxt[t] += share
        ranks = nxt
    assert abs(sum(got.values()) - 1.0) < 1e-6
    assert len(pairs) > 0  # the fixture graph is non-trivial
    for i, want in ranks.items():
        # engine output is rounded to 8 decimals; allow that half-step
        assert abs(got[i] - want) < 5.1e-9, (i, got[i], want)
    isolated = min(v for k, v in ranks.items() if k not in adj)
    linked_max = max(v for k, v in ranks.items() if k in adj)
    assert linked_max > isolated


def test_pca_whitening_matches_numpy_and_is_white(spark):
    """pca_whiten_embeddings vs an INDEPENDENT pure-numpy PCA on the
    collected fixture (same covariance definition, eigh, sign fix):
    projections agree to 1e-8. Invariants: components orthonormal,
    eigenvalues descending, and the whitened sample covariance is the
    analytic diag(lam/(lam+eps)) ~ identity."""
    import numpy as np

    from data_warehouse_co_healthy_spark.catalog import load_table
    from data_warehouse_co_healthy_spark.llm import training

    rows = (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    x = np.stack(
        [np.asarray(r.embedding, dtype=np.float64) for r in rows]
    )
    ids = np.asarray([r.vec_id for r in rows])
    n, d = x.shape
    mean = x.mean(0)
    cov = (x - mean).T @ (x - mean) / n
    evals, evecs = np.linalg.eigh((cov + cov.T) / 2.0)
    order = np.argsort(evals)[::-1][: training.PCA_K]
    lam, v = evals[order], evecs[:, order]
    flip = np.sign(v[np.abs(v).argmax(axis=0), np.arange(v.shape[1])])
    v = v * flip[None, :]
    want = (x - mean) @ (v / np.sqrt(lam + training.PCA_EPS)[None, :])

    got_rows = training.pca_whiten_embeddings(spark, SF_DIR).collect()
    got = {r.vec_id: np.asarray(r.proj) for r in got_rows}
    assert len(got) == n
    for i, vid in enumerate(ids):
        assert np.max(np.abs(got[vid] - want[i])) < 1e-8, vid

    # invariants on the engine output alone
    z = np.stack([got[vid] for vid in ids])
    assert np.all(np.diff(lam) <= 1e-12)  # descending spectrum
    assert np.allclose(v.T @ v, np.eye(training.PCA_K), atol=1e-10)
    zc = z - z.mean(0)
    white = zc.T @ zc / n
    expect = np.diag(lam / (lam + training.PCA_EPS))
    assert np.allclose(white, expect, atol=1e-6)


def test_mahalanobis_outliers_match_numpy(spark):
    """Top-k Mahalanobis outliers vs an independent pure-numpy
    computation (same ridge, same inverse): identical id set in the
    same order, scores within the 8-decimal output rounding, and every
    reported score >= the best unreported one (true global top-k)."""
    import numpy as np

    from data_warehouse_co_healthy_spark.catalog import load_table
    from data_warehouse_co_healthy_spark.llm import training

    rows = (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    x = np.stack(
        [np.asarray(r.embedding, dtype=np.float64) for r in rows]
    )
    ids = np.asarray([r.vec_id for r in rows])
    n, d = x.shape
    mean = x.mean(0)
    c = x - mean
    cov = c.T @ c / n
    cov = (cov + cov.T) / 2.0 + training.PCA_EPS * np.eye(d)
    prec = np.linalg.inv(cov)
    prec = (prec + prec.T) / 2.0
    d2 = np.round(np.einsum("ij,jk,ik->i", c, prec, c), 8)
    order = np.lexsort((ids, -d2))
    want = [(int(ids[i]), d2[i]) for i in order[: training.MAHA_TOP]]

    got = [
        (r.vec_id, r.maha_sq)
        for r in training.mahalanobis_outliers(spark, SF_DIR).collect()
    ]
    assert [g[0] for g in got] == [w[0] for w in want]
    for (gid, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-6, gid
    cutoff = max(s for i, s in zip(ids, d2) if i not in {g[0] for g in got})
    assert min(g[1] for g in got) >= cutoff


def test_containment_catches_subset_dup_that_jaccard_misses(spark):
    """A short doc quoted whole inside a much longer one: directed
    containment ~ 1.0 while Jaccard stays under its 0.2 threshold —
    the exact asymmetric case the operator exists for."""
    import os
    import tempfile

    long_words = [f"w{i}" for i in range(200)]
    short_words = long_words[40:60]  # verbatim 20-word excerpt
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                " ".join(long_words),
                " ".join(short_words),
                "совсем unrelated text about nothing shared here at all",
            ],
            "lang": ["en", "en", "en"],
            "source": ["a", "b", "c"],
        }
    )
    docs["n_chars"] = docs.text.str.len().astype("int64")
    d = tempfile.mkdtemp(prefix="containment_")
    docs.to_parquet(os.path.join(d, "documents.parquet"), index=False)

    out = {
        (r.doc_a, r.doc_b): (r.cont_a_in_b, r.cont_b_in_a)
        for r in dedup.ngram_containment_pairs(spark, d).collect()
    }
    assert (1, 2) in out
    cont_long_in_short, cont_short_in_long = out[(1, 2)]
    # doc 2 has 18 distinct 3-grams, all inside doc 1's 198
    assert cont_short_in_long == 1.0
    assert cont_long_in_short == round(18 / 198, 4)
    assert len(out) == 1  # doc 3 pairs with nothing
    jac = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(spark, d).collect()
    }
    assert (1, 2) not in jac  # jaccard 18/198 = 0.09 < 0.2 threshold


def test_kcenter_coreset_matches_numpy_greedy(spark):
    """k-Center-Greedy vs an independent pure-numpy farthest-point
    loop (same seed, same euclidean metric, ties to the lower id):
    identical pick sequence, radii within the 6-decimal rounding, and
    the covering radius is non-increasing."""
    import numpy as np

    from data_warehouse_co_healthy_spark.catalog import load_table
    from data_warehouse_co_healthy_spark.llm import training

    rows = (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.asarray([r.vec_id for r in rows])
    x = np.stack(
        [np.asarray(r.embedding, dtype=np.float64) for r in rows]
    )
    order = np.argsort(ids)
    ids, x = ids[order], x[order]
    sel = [0]  # lowest vec_id seeds
    mind = np.full(len(ids), np.inf)
    want = [(int(ids[0]), 0.0)]
    for _ in range(training.KCENTER_K - 1):
        d = np.sqrt(((x - x[sel[-1]][None, :]) ** 2).sum(1))
        mind = np.minimum(mind, d)
        far = int(np.lexsort((ids, -mind))[0])
        sel.append(far)
        want.append((int(ids[far]), round(float(mind[far]), 6)))

    got = [
        (r.vec_id, r.radius)
        for r in training.kcenter_coreset(spark, SF_DIR)
        .orderBy("pick")
        .collect()
    ]
    assert [g[0] for g in got] == [w[0] for w in want]
    for (gid, gr), (_, wr) in zip(got, want):
        assert abs(gr - wr) < 2e-6, gid
    radii = [g[1] for g in got[1:]]
    assert all(a >= b - 1e-9 for a, b in zip(radii, radii[1:]))


def test_wilson_interval_matches_scalar_recompute(spark):
    """The per-source Wilson bounds must equal an independent Python
    evaluation of the closed form from the SAME integer counts, and
    satisfy the interval invariants (ordered, inside [0, 1],
    containing the point estimate)."""
    import math

    from data_warehouse_co_healthy_spark.llm.text import (
        WILSON_Z,
        wilson_lang_share,
    )

    rows = wilson_lang_share(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        n, k = r["n_docs"], r["n_pos"]
        p = k / n
        z2 = WILSON_Z * WILSON_Z
        denom = 1.0 + z2 / n
        center = (p + z2 / (2.0 * n)) / denom
        half = (WILSON_Z / denom) * math.sqrt(
            p * (1.0 - p) / n + z2 / (4.0 * n * n)
        )
        assert abs(r["share"] - p) < 6e-5
        assert abs(r["ci_lo"] - (center - half)) < 6e-5
        assert abs(r["ci_hi"] - (center + half)) < 6e-5
        assert 0.0 <= r["ci_lo"] <= r["share"] <= r["ci_hi"] <= 1.0, r


def test_fellegi_sunter_score_recompute_and_em_consistency(spark):
    """The FS score must equal the Python-side sum of the field
    weights selected by the agreement flags (exact same doubles), the
    decision must follow the thresholds, and the EM step's output
    weights must be log2 of its own smoothed m/u estimates."""
    import math

    from data_warehouse_co_healthy_spark.llm.dedup import (
        _FS_W,
        FS_T_MATCH,
        FS_T_POSSIBLE,
        fellegi_sunter_em,
        fellegi_sunter_links,
    )

    rows = fellegi_sunter_links(spark, SF_DIR).collect()
    assert rows
    n_match = 0
    agree_m = {"lang": 0, "source": 0, "length": 0}
    agree_u = {"lang": 0, "source": 0, "length": 0}
    for r in rows:
        flags = {
            "lang": r["agree_lang"],
            "source": r["agree_source"],
            "length": r["agree_length"],
        }
        score = sum(
            _FS_W[f][0] if flags[f] else _FS_W[f][1] for f in flags
        )
        assert abs(r["fs_score"] - score) < 6e-5, r
        want = (
            "match"
            if score >= FS_T_MATCH
            else "possible"
            if score >= FS_T_POSSIBLE
            else "non_match"
        )
        assert r["decision"] == want, r
        is_m = want == "match"
        n_match += is_m
        for f in flags:
            if flags[f]:
                (agree_m if is_m else agree_u)[f] += 1
    n_non = len(rows) - n_match
    em = {r["field"]: r for r in fellegi_sunter_em(spark, SF_DIR).collect()}
    assert set(em) == {"lang", "source", "length"}
    for f, r in em.items():
        assert (r["n_match"], r["n_non"]) == (n_match, n_non)
        m_hat = (agree_m[f] + 1.0) / (n_match + 2.0)
        u_hat = (agree_u[f] + 1.0) / (n_non + 2.0)
        assert abs(r["m_hat"] - m_hat) < 6e-6
        assert abs(r["u_hat"] - u_hat) < 6e-6
        assert abs(r["w_agree"] - math.log2(m_hat / u_hat)) < 6e-6
        assert abs(
            r["w_disagree"] - math.log2((1 - m_hat) / (1 - u_hat))
        ) < 6e-6


def test_kcore_matches_python_peel(spark, monkeypatch):
    """k-core survivors + degrees vs an independent pure-Python peel
    over the same (oracle-checked) LSH pair list — run against BOTH
    the driver fast path (default at fixture scale) and the
    forced distributed peel loop, which must agree with the reference
    and therefore each other."""
    from data_warehouse_co_healthy_spark.llm import dedup

    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(spark, SF_DIR).collect()
    ]
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < dedup.KCORE_K:
                for m in adj.pop(n):
                    adj[m].discard(n)
                changed = True
    want = {n: len(ns) for n, ns in adj.items()}

    got = {
        r["doc_id"]: r["core_degree"]
        for r in dedup.kcore_near_dup(spark, SF_DIR).collect()
    }
    assert got == want
    monkeypatch.setattr(dedup, "CC_DRIVER_EDGE_MAX", -1)
    got_dist = {
        r["doc_id"]: r["core_degree"]
        for r in dedup.kcore_near_dup(spark, SF_DIR).collect()
    }
    assert got_dist == want
    # independent CHARACTERIZATION of the k-core, not just peel replay:
    # (soundness) every survivor keeps >= K neighbors among survivors;
    # (maximality) every REMOVED node has < K surviving neighbors, so
    # nothing peeled could be added back
    full: dict[int, set[int]] = {}
    for a, b in pairs:
        full.setdefault(a, set()).add(b)
        full.setdefault(b, set()).add(a)
    core = set(got)
    # the characterization alone is necessary-but-not-sufficient (the
    # empty set satisfies single-node non-augmentability); non-emptiness
    # whenever the replay core is non-empty closes that hole, and the
    # replay equality above remains the primary check
    assert bool(core) == bool(want)
    for n, ns in full.items():
        deg_in_core = len(ns & core)
        if n in core:
            assert deg_in_core >= dedup.KCORE_K, n
            assert got[n] == deg_in_core, n
        else:
            assert deg_in_core < dedup.KCORE_K, n


def test_isotonic_calibration_matches_python_pav(spark):
    """Engine PAV blocks vs an independent pure-Python PAV over the
    pandas-pooled (source, length) rates: identical block boundaries,
    weights, means — and strictly increasing means per source."""
    import pandas as pd

    from data_warehouse_co_healthy_spark.llm import text as t

    from decimal import ROUND_HALF_UP, Decimal

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet",
                           columns=["source", "lang", "n_chars"])
    docs["pos"] = (docs["lang"] == t.AUC_POS_LANG).astype(int)
    want = {}
    for src, grp in docs.groupby("source"):
        pooled = (
            grp.groupby("n_chars")["pos"].agg(["count", "sum"]).sort_index()
        )
        # independent PAV via exact Fraction MEANS (the classic
        # pooled-mean update — a different mechanization from the
        # engine's integer cross-multiply state, same exact math)
        from fractions import Fraction

        blocks = []
        for x, (w, pos) in pooled.iterrows():
            blocks.append([x, x, int(w), Fraction(int(pos), int(w))])
            while len(blocks) > 1 and blocks[-2][3] >= blocks[-1][3]:
                b2 = blocks.pop()
                b1 = blocks.pop()
                wt = b1[2] + b2[2]
                blocks.append(
                    [b1[0], b2[1], wt,
                     (b1[2] * b1[3] + b2[2] * b2[3]) / wt]
                )
        def _r6(m: float) -> float:
            # engine rounding: double -> decimal(18,8) snap -> 6dp,
            # both HALF_UP on the exact value (not banker's round())
            return float(
                Decimal(m)
                .quantize(Decimal("1E-8"), ROUND_HALF_UP)
                .quantize(Decimal("1E-6"), ROUND_HALF_UP)
            )
        want[src] = [
            # float(Fraction) is correctly rounded == the engine's
            # IEEE pos/w division; weight compares int == float
            (b[0], b[1], float(b[2]), _r6(float(b[3]))) for b in blocks
        ]

    got: dict[str, list] = {}
    for r in t.isotonic_calibration(spark, SF_DIR).collect():
        got.setdefault(r["source"], []).append(
            (r["x_lo"], r["x_hi"], r["weight"], r["p_calibrated"])
        )
    for src in got:
        got[src].sort()
    assert got == {s: sorted(b) for s, b in want.items()}
    for src, blocks in got.items():
        ps = [b[3] for b in sorted(blocks)]
        assert all(a < b for a, b in zip(ps, ps[1:])), src


def test_approx_topk_degenerate_vocab_matches_oracle(spark, tmp_path):
    """A corpus with fewer distinct tokens than K has no K-th slot and
    therefore no tie ambiguity: the engine must return EVERY token
    (nothing dropped) and the DuckDB oracle must agree — review found
    the original oracle emptied out (thr CTE matched no row) while the
    engine dropped the min-count group."""
    import duckdb

    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, "aa aa aa bb bb cc", "en", "s1", 17)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.parquet(f"{sf}/documents.parquet")
    got = sorted(
        (r["rk"], r["token"], r["est_count"])
        for r in text.approx_topk_tokens(spark, sf).collect()
    )
    assert got == [(1, "aa", 3), (2, "bb", 2), (3, "cc", 1)]
    duck = duckdb.connect()
    duck.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    want = sorted(
        tuple(r) for r in
        duck.sql(text.ORACLES["approx_topk_tokens"]).fetchall()
    )
    assert [tuple(g) for g in got] == want


def test_html_extract_text_adversarial(spark, tmp_path):
    """The parser contract under adversarial text: markup-looking
    characters in the SOURCE are data (escaped on build, unescaped by
    the parser), boilerplate containers never leak into the
    extraction, and a multi-chunk doc reassembles byte-for-byte."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_warehouse_co_healthy_spark.llm.text import (
        HTML_CHUNK,
        html_extract_text,
    )

    evil = '<script>alert("x")</script> & <b>bold</b>\t end'
    long = ("word " * 120).strip()  # 599 chars -> 3 chunks
    docs = [(0, evil), (1, long), (2, ""), (3, "   ")]
    pq.write_table(
        pa.table(
            {"doc_id": [d[0] for d in docs],
             "text": [d[1] for d in docs],
             "lang": ["en"] * 4, "source": ["s"] * 4,
             "n_chars": [len(d[1]) for d in docs]},
            schema=pa.schema(
                [("doc_id", pa.int64()), ("text", pa.string()),
                 ("lang", pa.string()), ("source", pa.string()),
                 ("n_chars", pa.int64())]),
        ),
        f"{tmp_path}/documents.parquet",
    )
    out = {r.doc_id: r for r in
           html_extract_text(spark, str(tmp_path)).collect()}

    norm_evil = '<script>alert("x")</script> & <b>bold</b> end'
    assert out[0].extracted_len == len(norm_evil)
    assert out[0].extracted_md5 == hashlib.md5(
        norm_evil.encode()).hexdigest()

    assert out[1].n_chunks == (len(long) + HTML_CHUNK - 1) // HTML_CHUNK
    assert out[1].extracted_md5 == hashlib.md5(long.encode()).hexdigest()

    for i in (2, 3):  # empty/whitespace-only: empty extraction
        assert out[i].extracted_len == 0 and out[i].n_chunks == 0
        assert out[i].extracted_md5 == hashlib.md5(b"").hexdigest()


def test_robots_disallow_filter_precedence(spark):
    """The politeness gate must implement RFC-9309 precedence exactly:
    longest matching prefix wins, Allow beats Disallow on a length
    tie, no-match defaults to allowed — each behavior pinned on the
    planted rule set."""
    from data_warehouse_co_healthy_spark.llm import filters

    out = (
        filters.robots_disallow_filter(spark, SF_DIR)
        .toPandas()
        .set_index("canonical")
    )
    assert len(out) == filters.URL_HOSTS * filters.URL_PATHS
    for h in range(filters.URL_HOSTS):
        host = f"site{h}.example.com"

        def row(p, host=host):
            hits = out[
                (out.index.str.startswith(f"{host}/path/{p}?"))
                | (out.index == f"{host}/path/{p}")
            ]
            assert len(hits) == 1
            return hits.iloc[0]

        # plain prefix block
        r1 = row(1)
        assert (r1.verdict, r1.rule) == ("blocked", "/path/1")
        # longest-match override: /path/10 matches the /path/1
        # disallow AND the longer /path/10 allow — allow wins
        r10 = row(10)
        assert (r10.verdict, r10.rule) == ("allowed", "/path/10")
        # equal-length tie: allow beats disallow
        r2 = row(2)
        assert (r2.verdict, r2.rule) == ("allowed", "/path/2")
        # host-specific disallow
        rx = row((3 + 2 * h) % 11)
        assert rx.verdict == "blocked"
        # no-match default: pick a path outside every rule
        free = next(
            p
            for p in range(3, 10)
            if p not in (1, 2, (3 + 2 * h) % 11)
        )
        rf = row(free)
        assert rf.verdict == "allowed" and rf.rule is None
    # corpus-level shape: exactly 2 blocked paths per host
    assert (out.verdict == "blocked").sum() == 2 * filters.URL_HOSTS
