"""Deduplication operators for training-data pipelines (engine-added
capability — SURVEY §7.7): exact, MinHash+LSH, SimHash, n-gram Jaccard.

Hashing is md5-based (portable: identical in Spark and DuckDB), so every
stage is deterministic and oracle-checkable — unlike
``pyspark.ml.feature.MinHashLSH``'s seeded random coefficients, which
can't be reproduced in SQL. The dataflow shape IS the scale story:

  doc-local shingle+distinct (no shuffle) → one md5 per shingle →
  16 permutation mins as parallel aggregates of ONE groupBy(doc_id) →
  band keys off the wide row (no shuffle) → bucket groupBy →
  in-bucket combination expansion → candidate pairs → bounded
  label propagation → clusters

At 100 TB the heavy shuffles are the per-doc aggregate (partial-agg'd
map-side) and the bucket groupBy, whose pair fan-out is bounded by
bucket sizes; hot buckets (boilerplate docs) are the classic skew
source and are capped explicitly (MAX_BUCKET / MAX_DOCFREQ below) —
same posture as production near-dedup pipelines.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table, local_frame, spread
from ..functions.numeric import nz, snap_round, snap_round_sql

N_PERM = 16          # minhash permutations
BAND_ROWS = 4        # rows per LSH band → 4 bands of 4
N_BANDS = N_PERM // BAND_ROWS
SHINGLE_LEN = 5      # char-shingle width
MAX_BUCKET = 50      # LSH bucket size cap (skew guard)
MAX_DOCFREQ = 100    # n-gram document-frequency cap (skew guard)
SIMHASH_BITS = 32
HAMMING_MAX = 6

# Universal-hash permutation family: perm_i(h) = (a_i*h + b_i) mod PRIME.
# One md5 per shingle gives the 60-bit base h; the 16 permutations are
# pure 64-bit arithmetic (no per-permutation row blow-up or rehash) —
# products stay < 2^60 so ANSI mode never overflows. Coefficients come
# from a fixed LCG so Spark and the DuckDB oracle share exact literals.
PRIME = 1_000_000_007


def _perm_coeffs() -> tuple[list[int], list[int]]:
    a, b, x = [], [], 42
    for _ in range(N_PERM):
        x = (1103515245 * x + 12345) % (1 << 31)
        a.append(x % (PRIME - 1) + 1)
        x = (1103515245 * x + 12345) % (1 << 31)
        b.append(x % PRIME)
    return a, b


PERM_A, PERM_B = _perm_coeffs()


def _doc_canon(col):
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via canonical-text hash groupBy: one row per distinct
    content, keeping the smallest doc_id as canonical."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(_doc_canon(F.col("text"))).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count("*").alias("n_copies"),
        )
    )


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: within each exact-duplicate
    group keep the LONGEST copy (highest n_chars; doc_id ascending as
    the tie-break) — the production policy when near-identical copies
    differ in truncation and "smallest id wins" would keep the worst
    one. One window over the fingerprint partition; group sizes are
    duplicate-multiplicity-bounded, so no skew risk at corpus scale."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("fp").orderBy(F.desc("n_chars"), "doc_id")
    return (
        d.select(
            "doc_id",
            "n_chars",
            F.md5(_doc_canon(F.col("text"))).alias("fp"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("fp", F.col("doc_id").alias("keep_id"), "n_chars")
    )


_CANON_EXPR = "trim(regexp_replace(lower(text), '\\\\s+', ' '))"


def _signature_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per doc with N_PERM minhash columns m0..m{N-1}.

    Shingle dedup is doc-local (``array_distinct`` on the shingle
    array — no dropDuplicates shuffle); each distinct shingle is md5'd
    ONCE; the 16 permutations are parallel ``min()`` aggregates of a
    single groupBy(doc_id) running in whole-stage-codegen hash agg with
    map-side partial aggregation, so the only shuffle carries one
    17-column row per document. Higher-order lambdas are deliberately
    kept off the hot path — Spark interprets them per element.

    CACHING: deliberately NOT persisted here. Persisted at the
    producer, every single-consumer query (minhash_signatures,
    minhash_lsh_pairs and the graph queries stacked on it) pays a cache
    materialization per cold run for a subtree it instantiates exactly
    once — measured +19–25% on the cold-per-run bench
    (OPTIMIZATION_r10.md). Consumers that
    genuinely instantiate the signature build more than once in ONE
    plan (minhash_jaccard_estimate) persist the wide frame themselves
    and compose via the ``*_from_wide`` helpers below."""
    d = spread(load_table(spark, sf_dir, "documents"))
    canon = d.select("doc_id", F.expr(_CANON_EXPR).alias("canon"))
    shingled = canon.selectExpr(
        "doc_id",
        f"explode(array_distinct(transform("
        f"sequence(1, greatest(length(canon) - {SHINGLE_LEN - 1}, 1)), "
        f"i -> substring(canon, i, {SHINGLE_LEN})))) AS shingle",
    )
    h = (
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
        % PRIME
    )
    hashed = shingled.select("doc_id", h.alias("h"))
    mins = [
        F.min((F.lit(PERM_A[i]) * F.col("h") + F.lit(PERM_B[i])) % PRIME)
        .alias(f"m{i}")
        for i in range(N_PERM)
    ]
    return hashed.groupBy("doc_id").agg(*mins)


def _signatures_from_wide(wide: DataFrame) -> DataFrame:
    """Long-form (doc_id, perm, minhash) rows off a wide signature
    frame — split out so multi-consumer queries can share one
    persisted wide frame across every derivation."""
    pairs = ", ".join(f"{i}, m{i}" for i in range(N_PERM))
    return wide.selectExpr(
        "doc_id", f"stack({N_PERM}, {pairs}) AS (perm, minhash)"
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature matrix: for permutation i, min over shingles of
    (a_i*h + b_i) mod PRIME — (doc_id, perm, minhash) rows."""
    return _signatures_from_wide(_signature_wide(spark, sf_dir))


def _band_keys_from_wide(wide: DataFrame) -> DataFrame:
    """Band keys straight off the wide signature row — zero extra
    shuffle (no long-form groupBy(doc_id, band))."""
    rows = []
    for j in range(N_BANDS):
        cols = ", ".join(
            f"cast(m{j * BAND_ROWS + k} AS string)"
            for k in range(BAND_ROWS)
        )
        rows.append(f"{j}L, md5(concat_ws('|', {cols}))")
    return wide.selectExpr(
        "doc_id", f"stack({N_BANDS}, {', '.join(rows)}) AS (band, band_key)"
    )


def _band_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band keys for the corpus (see ``_band_keys_from_wide``)."""
    return _band_keys_from_wide(_signature_wide(spark, sf_dir))


def _lsh_pairs_from_bands(bands: DataFrame) -> DataFrame:
    """In-bucket pair expansion over a band-key frame (see
    ``minhash_lsh_pairs``) — split out so multi-consumer queries can
    derive pairs from a shared persisted signature frame."""
    buckets = (
        bands.groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .filter((F.size("docs") >= 2) & (F.size("docs") <= MAX_BUCKET))
    )
    return (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(docs, (x, i) -> "
                    "transform(slice(docs, i + 2, size(docs)), "
                    "y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .dropDuplicates()
    )


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: docs sharing any band key. Buckets larger
    than MAX_BUCKET are dropped (boilerplate/skew guard) — the
    100 TB-critical step.

    Pairs are generated IN-bucket (collect_list + combination
    expansion), not by self-joining the bucket table: a self-join would
    recompute the whole signature pipeline for each side (Spark does
    not share unaliased subplans) and shuffle it twice; here signatures
    are computed once and one groupBy builds every bucket, whose pair
    fan-out is bounded by the MAX_BUCKET cap."""
    return _lsh_pairs_from_bands(_band_keys(spark, sf_dir))


def lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observability for the LSH skew cap: per band, the bucket-size
    distribution AND exactly what the MAX_BUCKET guard excluded
    (buckets and doc-slots). The cap keeps hot boilerplate buckets from
    exploding pair generation; this query makes the cap's cost VISIBLE
    instead of silent — the "no silent truncation" contract for any
    bounded operator.
    """
    bands = _band_keys(spark, sf_dir)
    sizes = bands.groupBy("band", "band_key").agg(
        F.count("*").alias("sz")
    )
    return (
        sizes.groupBy("band")
        .agg(
            F.count("*").alias("n_buckets"),
            F.max("sz").alias("max_bucket"),
            F.sum(F.when(F.col("sz") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_candidate_buckets"),
            F.sum(F.when(F.col("sz") > MAX_BUCKET, 1).otherwise(0))
            .cast("long")
            .alias("n_capped_buckets"),
            F.sum(F.when(F.col("sz") > MAX_BUCKET, F.col("sz")).otherwise(0))
            .cast("long")
            .alias("doc_slots_excluded"),
        )
    )


def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document: per-token md5-derived 32-bit hash,
    bitwise majority vote over tokens."""
    d = spread(load_table(spark, sf_dir, "documents"))
    tokens = d.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), " ")).alias("w"),
    ).filter(F.col("w") != "")
    h = F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long")
    # All 32 bit-votes as parallel aggregates of ONE groupBy(doc_id) —
    # the alternative (crossJoin with a bits table) multiplies every
    # token row 32x before the shuffle.
    votes = [
        F.sum(
            F.when(F.expr(f"(h >> {b}) & 1") == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    wide = tokens.select("doc_id", h.alias("h")).groupBy("doc_id").agg(*votes)
    combine = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b}L ELSE 0L END)"
        for b in range(SIMHASH_BITS)
    )
    return wide.selectExpr("doc_id", f"({combine}) AS simhash")


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash: block on each of the 4 bytes (a pair
    within Hamming distance ≤ 6 of 32 bits shares at least one byte in
    expectation — standard rotate-and-block), verify with bit_count.

    Same in-bucket combination expansion as minhash_lsh_pairs: one
    signature computation, one groupBy per blocking byte, pair fan-out
    inside the bucket row (at production scale add a bucket cap here
    exactly like MAX_BUCKET)."""
    sims = simhash_docs(spark, sf_dir)
    keyed = sims.selectExpr(
        "doc_id",
        "simhash",
        "explode(transform(sequence(0, 3), "
        "j -> struct(j AS j, shiftright(simhash, 8 * j) & 255 AS k))) AS b",
    ).select("doc_id", "simhash", "b.j", "b.k")
    buckets = (
        keyed.groupBy("j", "k")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "simhash"))
            ).alias("ds")
        )
        .filter(F.size("ds") >= 2)
    )
    return (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds)), "
                    "y -> struct(x.doc_id AS doc_a, y.doc_id AS doc_b, "
                    "x.simhash AS sim_a, y.simhash AS sim_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b", "p.sim_a", "p.sim_b")
        .dropDuplicates()
        .filter(F.bit_count(F.expr("sim_a ^ sim_b")) <= HAMMING_MAX)
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.expr("sim_a ^ sim_b")).cast("long").alias("hamming"),
        )
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs. Shingles above MAX_DOCFREQ
    document frequency are dropped (stopword-phrase skew guard), pairs
    blocked on shared shingles, Jaccard = |∩| / |∪| ≥ 0.2.

    Doc-local work stays map-side: per-doc gram dedup is an
    ``array_distinct`` on the gram array (no dropDuplicates shuffle)
    and each doc's distinct-gram count rides the exploded rows (no
    per-doc size aggregate, no size joins). The plan shuffles only at
    gram grain (doc-frequency window) and pair grain (the bounded
    intersection count)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    # Tokenize once per doc; the transform lambda slices the cached
    # array instead of re-splitting the text per gram position.
    words = d.select("doc_id", F.split(F.lower("text"), " ").alias("ws"))
    grams = (
        words.filter(F.size("ws") >= 3)
        .select(
            "doc_id",
            F.array_distinct(
                F.expr(
                    # greatest(..., 1): the size(ws) >= 3 filter does
                    # NOT protect this expression — Spark's
                    # InferFiltersFromGenerate merges a size(gs) > 0
                    # predicate into the SAME Filter and codegen
                    # subexpression elimination evaluates the hoisted
                    # transform BEFORE the AND short-circuits, so
                    # sequence(1, size-2) must be total: on a short doc
                    # sequence(1, 0) is DESCENDING [1, 0] and
                    # slice(ws, 0, ..) throws. Clamping to 1 yields one
                    # junk gram on rows the filter discards anyway.
                    "transform(sequence(1, greatest(size(ws) - 2, 1)), "
                    "i -> array_join(slice(ws, i, 3), ' '))"
                )
            ).alias("gs"),
        )
        .select(
            "doc_id",
            F.size("gs").alias("n"),
            F.explode("gs").alias("g"),
        )
    )
    from pyspark.sql.window import Window

    # persisted: without it the a/b legs of the pair self-join each
    # re-run the scan + gram explode + doc-frequency window — the cache
    # halves the upstream and the g-grain shuffle (clearCache contract
    # as tfidf_cosine_pairs)
    rare = grams.withColumn(
        "df", F.count("*").over(Window.partitionBy("g"))
    ).filter(F.col("df") <= MAX_DOCFREQ).persist()
    a = rare.select(
        "g", F.col("doc_id").alias("doc_a"), F.col("n").alias("na")
    )
    b = rare.select(
        "g", F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")
    )
    return (
        a.join(b, on="g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("inter"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.2)
    )


TFIDF_COS_MIN = 0.3  # sparse-cosine report threshold


def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse lexical similarity join: TF-IDF-weighted cosine between
    documents via an inverted index — the classic sparse-vector
    alternative to MinHash (graded similarity, not set overlap) and to
    embedding cosine (no model needed). Pairs sharing any token whose
    document frequency clears the MAX_DOCFREQ skew cap accumulate
    weight products; cosine = dot / (norm_a · norm_b) >= TFIDF_COS_MIN.

    Scale shape: one (doc, token) aggregate builds TF, one token-grain
    aggregate builds DF/IDF, per-doc norms ride the posting rows, and
    the pair fan-out is bounded by the same document-frequency cap as
    the other posting-join operators — never all-pairs.

    Cross-engine determinism (the dsir_importance recipe): per-posting
    weights are quantized ONCE — round(tf·idf, 6) as DECIMAL(14,6) —
    so weight products and their sums are exact decimal arithmetic
    (order-independent); doubles appear only in the final
    cosine division."""
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias(
                "tok"
            ),
        )
        .filter(F.length("tok") > 0)
    )
    from pyspark.sql.window import Window  # noqa: PLC0415

    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    # corpus size off the RAW scan, not the spread() frame: the count
    # needs no fan-out, and counting the repartitioned frame would pay
    # the round-robin exchange a second time in this plan (one data
    # exchange of the 6)
    n_docs_src = load_table(spark, sf_dir, "documents")
    # DF/IDF and the per-doc norm ride WINDOWS instead of groupBy+join
    # pairs (≤8 data shuffles instead of 11). tf is (doc, tok)-grain, so
    # count(*) over (partition by tok) IS the document frequency (no
    # countDistinct expansion, no token-grain aggregate, no join
    # back), and sum(w²) over (partition by doc_id) IS the squared
    # norm. The windows shuffle the same posting volume the joins
    # would move — what disappears is the aggregate-side exchanges
    # and the joins. doc_id is the table key, so corpus size is a
    # plain count (1-row broadcast).
    n_docs = n_docs_src.select(F.count("doc_id").alias("n"))
    wn = (
        tf.crossJoin(F.broadcast(n_docs))
        .withColumn("df", F.count("*").over(Window.partitionBy("tok")))
        .filter(F.col("df") <= MAX_DOCFREQ)
        .select(
            "tok",
            "doc_id",
            # (14,6)×(14,6) → exact DECIMAL(29,12); the downcast to
            # (18,12) is VALUE-IDENTICAL (same scale, w ≪ 10^6) but
            # keeps the squares/products below Spark's 38-digit clamp:
            # (29,12)² would silently round to scale 6, while (18,12)²
            # is exact (37,24) — matching DuckDB's always-exact
            # widening (ANSI errors loudly on a genuine overflow
            # instead of rounding)
            (
                F.col("tf").cast("decimal(14,6)")
                * F.round(F.log(F.col("n") / F.col("df")), 6)
                .cast("decimal(14,6)")
            )
            .cast("decimal(18,12)")
            .alias("w"),
        )
        .withColumn(
            "sq",
            F.sum(F.col("w") * F.col("w")).over(
                Window.partitionBy("doc_id")
            ),
        )
        # re-shuffle by tok LAST so the cached frame's partitioning is
        # exactly the self-join key: both pair sides read the SAME
        # cache co-partitioned on tok and the join plans with no
        # exchange (sorts only). persist, not checkpoint — data-sized,
        # and the shuffle audit counts the cached subtree once.
        .repartition("tok")
        .persist()
    )
    a = wn.select(
        "tok",
        F.col("doc_id").alias("doc_a"),
        F.col("w").alias("wa"),
        F.col("sq").alias("sqa"),
    )
    b = wn.select(
        "tok",
        F.col("doc_id").alias("doc_b"),
        F.col("w").alias("wb"),
        F.col("sq").alias("sqb"),
    )
    return (
        a.join(b, on="tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "sqa", "sqb")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("sqa").cast("double"))
                    * F.sqrt(F.col("sqb").cast("double"))
                ),
                4,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= TFIDF_COS_MIN)
    )


CONTAIN_MIN = 0.5    # directed-containment report threshold


def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup detection by word-3-gram CONTAINMENT
    (Broder 1997's other resemblance measure): C(A→B) = |A∩B| / |A|.
    Jaccard misses subset duplicates — a short doc quoted whole inside
    a much longer one scores |A|/|B| ≈ 0 on Jaccard but 1.0 on
    containment — so corpus pipelines run both: Jaccard for mutual
    near-dups, containment for quote/excerpt/boilerplate inclusion.

    Same scale shape as ngram_jaccard_pairs (shared blocking machinery
    would be one refactor away, kept inline so each query's plan reads
    standalone): doc-local gram dedup map-side, the MAX_DOCFREQ
    document-frequency cap bounds posting-list fan-out, and the only
    shuffles are gram-grain (df window) and pair-grain (intersection
    count). Reports both directions; a pair is kept when EITHER
    direction's containment clears CONTAIN_MIN."""
    d = spread(load_table(spark, sf_dir, "documents"))
    words = d.select("doc_id", F.split(F.lower("text"), " ").alias("ws"))
    grams = (
        words.filter(F.size("ws") >= 3)
        .select(
            "doc_id",
            F.array_distinct(
                F.expr(
                    # greatest(..., 1): the size(ws) >= 3 filter does
                    # NOT protect this expression — Spark's
                    # InferFiltersFromGenerate merges a size(gs) > 0
                    # predicate into the SAME Filter and codegen
                    # subexpression elimination evaluates the hoisted
                    # transform BEFORE the AND short-circuits, so
                    # sequence(1, size-2) must be total: on a short doc
                    # sequence(1, 0) is DESCENDING [1, 0] and
                    # slice(ws, 0, ..) throws. Clamping to 1 yields one
                    # junk gram on rows the filter discards anyway.
                    "transform(sequence(1, greatest(size(ws) - 2, 1)), "
                    "i -> array_join(slice(ws, i, 3), ' '))"
                )
            ).alias("gs"),
        )
        .select(
            "doc_id",
            F.size("gs").alias("n"),
            F.explode("gs").alias("g"),
        )
    )
    from pyspark.sql.window import Window  # noqa: PLC0415

    # persisted: without it the a/b legs of the pair self-join each
    # re-run the scan + gram explode + doc-frequency window — the cache
    # halves the upstream and the g-grain shuffle (clearCache contract
    # as tfidf_cosine_pairs)
    rare = grams.withColumn(
        "df", F.count("*").over(Window.partitionBy("g"))
    ).filter(F.col("df") <= MAX_DOCFREQ).persist()
    a = rare.select(
        "g", F.col("doc_id").alias("doc_a"), F.col("n").alias("na")
    )
    b = rare.select(
        "g", F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")
    )
    return (
        a.join(b, on="g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("inter"))
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("inter") / F.col("na"), 4).alias("cont_a_in_b"),
            F.round(F.col("inter") / F.col("nb"), 4).alias("cont_b_in_a"),
        )
        .filter(
            F.greatest("cont_a_in_b", "cont_b_in_a") >= CONTAIN_MIN
        )
    )


ESS_K = 12           # char-gram width for exact-substring matching
ESS_MIN_RUN = 20     # minimum shared-run length (chars) to report
# Corpus occurrence cap per gram (skew guard). Default 100 rather
# than 200 — the production-posture argument: the sf1 cap curve
# (SCALING_MEASURED.md) shows wall time tracking in-cap pair volume
# ~linearly (200 → 96.4 s, 100 → 51.3 s, 50 → 6.6 s), and the RECALL
# cost of 100 is confined to runs built exclusively from grams whose
# corpus frequency exceeds 100 — by construction boilerplate (licence
# blocks, templates, headers), which (a) carries no near-dup signal a
# pair ranking should act on, and (b) is exactly what the LINEAR
# span-grain twin ``duplicate_spans``/``cut_duplicate_spans`` catches
# with NO cap at all. Any run containing even one sub-cap gram is
# still reported with exact offsets. Raise toward 200 only when the
# pair grain must also enumerate boilerplate-only matches and the
# Σ min(occ, cap)² pair budget is acceptable.
ESS_MAX_OCC = 100


def exact_substring_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shared-substring spans between documents (the
    'Deduplicating Training Data Makes Language Models Better'
    Lee et al. 2021 shape, Spark-expressed): every maximal run of
    ESS_MIN_RUN+ characters appearing VERBATIM in two documents, with
    both start offsets and the run length — the operator that catches
    boilerplate/licence blocks and copied passages that token-level
    Jaccard smooths over.

    Dataflow instead of a suffix array: overlapping ESS_K-char grams
    fingerprinted to 64 bits at the scan (collision math in the
    scan-stage comment — semantics unchanged), a corpus occurrence cap
    (ESS_MAX_OCC — the same visible skew guard as MAX_DOCFREQ,
    computed with map-side combine and joined back), an in-bucket pair
    join, then gaps-and-islands per (pair, diagonal): consecutive
    matching positions on one diagonal (pos_a - pos_b constant)
    collapse into ONE maximal run via pos - row_number islands.
    Shuffles: fp-count groupBy (partial-agg), keep-join, pair join,
    island window at matched-position grain — no all-pairs stage
    anywhere. The cap's measured cost/recall curve at sf1 lives in
    SCALING_MEASURED.md. When the frequent-gram tail itself is the
    target (boilerplate / licence blocks), use ``duplicate_spans`` —
    span grain, no pair join, linear in corpus size, no cap to tune.

    TERMINAL COST DECISION: cap 100 is the end state, and the sharded
    suffix array is deliberately NOT built. Why this is terminal, not
    deferred debt:
    (a) the superlinear slope (1.43 measured) appears only on the
    boilerplate-adversarial corpus, where the cost driver is the
    frequent-gram tail — and for exactly that workload the shipped
    linear path is ``duplicate_spans``/``cut_duplicate_spans``, the
    span-grain formulation Lee et al. actually materialize and cut at
    training scale; (b) what pair grain uniquely answers — WHO shares
    with WHOM — is a provenance question, and provenance of a gram
    occurring >100× across a corpus is not attributable to pairs in
    any meaningful sense (every pairing is boilerplate × boilerplate);
    the cap therefore bounds cost precisely where the answer stops
    meaning anything, with the measured knee (96.4 s → ~51 s at sf1,
    recall on ≤cap grams unchanged by construction) committed in
    SCALING_MEASURED.md; (c) a sharded suffix array would make the
    pair-grain cost O(n log n) but introduces a non-DataFrame index
    artifact, a second storage format, and a rebuild-on-append
    contract — engineering spent on a workload the span grain already
    serves linearly. Users needing full uncapped pair provenance set
    ESS_MAX_OCC explicitly and accept the quadratic-in-occurrence
    contract the knob documents."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    d = spread(load_table(spark, sf_dir, "documents"))
    t = d.select("doc_id", F.lower("text").alias("t")).filter(
        F.length("t") >= ESS_K
    )
    # 64-bit gram fingerprint BEFORE any shuffle (the chunk_dedup
    # trade): the raw
    # ESS_K-char gram string never leaves the scan stage — every
    # exchange downstream moves (doc_id, pos, fp) at a fixed 24 bytes
    # per row instead of a variable-length string. Collision math: a
    # false positional match needs TWO distinct grams with equal
    # xxhash64 (p ≈ n²/2⁶⁵; n = 10⁹ distinct grams → ~3%), and a false
    # REPORTED run needs ESS_MIN_RUN - ESS_K + 1 = 9 consecutive
    # colliding positions on one diagonal (p < 10⁻¹⁰⁰) — fingerprinting
    # does not change match semantics in any observable way.
    grams = t.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, length(t) - {ESS_K - 1}), "
                f"i -> xxhash64(substr(t, i, {ESS_K})))"
            )
        ).alias("p0", "fp"),
    ).select("doc_id", (F.col("p0") + 1).cast("long").alias("pos"), "fp")
    # Occurrence cap as a partial-aggregating groupBy + join instead of
    # a count-window: the window would shuffle EVERY gram
    # occurrence (no map-side combine) to count corpus frequency; the
    # groupBy ships one (fp, partial_count) row per distinct gram per
    # task — on boilerplate-heavy corpora (the measured sf1 adversary:
    # a fixed 31-word vocabulary, every gram frequent) that is orders
    # of magnitude fewer shuffled bytes. The surviving rare-fp set then
    # joins back; AQE broadcasts it when small.
    keep = (
        grams.groupBy("fp")
        .agg(F.count("*").alias("oc"))
        .filter(F.col("oc") <= ESS_MAX_OCC)
        .select("fp")
    )
    capped = grams.join(keep, on="fp")
    a = capped.select(
        "fp", F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a")
    )
    b = capped.select(
        "fp", F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b")
    )
    m = (
        a.join(b, on="fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "pos_a",
            "pos_b",
            (F.col("pos_a") - F.col("pos_b")).alias("diag"),
        )
    )
    iw = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    isl = m.withColumn(
        "island", F.col("pos_a") - F.row_number().over(iw)
    )
    return (
        isl.groupBy("doc_a", "doc_b", "diag", "island")
        .agg(
            F.min("pos_a").alias("a_start"),
            F.min("pos_b").alias("b_start"),
            (F.max("pos_a") - F.min("pos_a") + ESS_K).alias("run_len"),
        )
        .filter(F.col("run_len") >= ESS_MIN_RUN)
        .select("doc_a", "doc_b", "a_start", "b_start", "run_len")
    )


def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-duplicated text SPANS per document — the output Lee et
    al. 2021 actually materialize (and cut) when dedup runs at training
    scale: for each document, every maximal character span of
    ESS_MIN_RUN+ in which EVERY overlapping ESS_K-gram occurs at least
    twice in the corpus. Unlike ``exact_substring_matches`` (pair
    grain: who shares with whom, cost ~ Σ min(occ,cap)² pair rows —
    the measured sf1 cost driver), this is span grain: no pair join
    exists anywhere, so cost is LINEAR in corpus size regardless of
    gram skew and there is no occurrence cap to tune. A span here may
    be stitched from grams duplicated against DIFFERENT partners —
    exactly Lee et al.'s removal criterion (the span's every window
    exists elsewhere), not a claim of one contiguous partner match;
    use the pair-grain operator when provenance matters.

    Plan: 64-bit gram fingerprints at the scan (same collision math as
    exact_substring_matches), ONE partial-aggregating groupBy(fp) for
    the duplicated-gram set, one join back (AQE broadcasts it when
    small), then per-document gaps-and-islands over duplicated
    positions — shuffles: fp groupBy, dup-join, doc-grain island
    window. At 100 TB each stage is scan-proportional."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    d = spread(load_table(spark, sf_dir, "documents"))
    t = d.select("doc_id", F.lower("text").alias("t")).filter(
        F.length("t") >= ESS_K
    )
    grams = t.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, length(t) - {ESS_K - 1}), "
                f"i -> xxhash64(substr(t, i, {ESS_K})))"
            )
        ).alias("p0", "fp"),
    ).select("doc_id", (F.col("p0") + 1).cast("long").alias("pos"), "fp")
    dup = (
        grams.groupBy("fp")
        .agg(F.count("*").alias("oc"))
        .filter(F.col("oc") >= 2)
        .select("fp")
    )
    hit = grams.join(dup, on="fp").select("doc_id", "pos")
    iw = Window.partitionBy("doc_id").orderBy("pos")
    isl = hit.withColumn(
        "island", F.col("pos") - F.row_number().over(iw)
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") - F.min("pos") + ESS_K).alias("span_len"),
        )
        .filter(F.col("span_len") >= ESS_MIN_RUN)
        .select("doc_id", "span_start", "span_len")
    )


def cut_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lee-et-al TRANSFORMATION, end to end: remove every
    ``duplicate_spans`` span from its document and emit the cleaned
    (lowercased — spans are positions in the case-folded text) result
    per doc: merged-span count, characters cut, cleaned length, and
    the cleaned text's md5 (full text stays executor-side; the hash
    keeps the oracle comparison compact, same recipe as
    pii_redaction). Detection → cut is the whole dedup last mile.

    Char spans from different gram islands can overlap by up to
    ESS_K−1 chars (an island's span extends ESS_K−1 past its last
    duplicated position), so spans are first MERGED per document
    (classic interval merge: running-max-end window → group → min/max)
    and the cut then folds the sorted merged spans once per doc
    (F.aggregate over a per-doc array bounded by span count), copying
    the kept segments between them.

    Scale posture: inherits duplicate_spans' linear stages; the merge
    adds one doc-grain window over SPAN rows (≪ gram rows) and the
    fold is per-doc work proportional to output size. No pair join
    anywhere."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    spans = duplicate_spans(spark, sf_dir).select(
        "doc_id",
        F.col("span_start").alias("ms0"),
        (F.col("span_start") + F.col("span_len") - 1).alias("me0"),
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("ms0")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("ms0")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = (
        spans.withColumn(
            "ng",
            (
                F.col("ms0")
                > F.coalesce(F.max("me0").over(w_prev), F.lit(0))
            ).cast("int"),
        )
        .withColumn("grp", F.sum("ng").over(w_run))
        .groupBy("doc_id", "grp")
        .agg(F.min("ms0").alias("ms"), F.max("me0").alias("me"))
    )
    per_doc = merged.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("ms"), F.col("me")))
        ).alias("spans"),
        F.count("*").cast("long").alias("n_spans"),
        F.sum(F.col("me") - F.col("ms") + 1).alias("chars_cut"),
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.lower("text").alias("t")
    )
    cleaned = F.when(F.col("spans").isNull(), F.col("t")).otherwise(
        F.expr(
            "aggregate(spans, struct(CAST(1 AS BIGINT) AS pos, '' AS txt), "
            "(acc, s) -> struct(s.me + 1 AS pos, "
            "concat(acc.txt, substr(t, CAST(acc.pos AS INT), "
            "CAST(s.ms - acc.pos AS INT))) AS txt), "
            "acc -> concat(acc.txt, substr(t, CAST(acc.pos AS INT), "
            "CAST(length(t) - acc.pos + 1 AS INT))))"
        )
    )
    return (
        docs.join(per_doc, on="doc_id", how="left")
        .withColumn("clean", cleaned)
        .select(
            "doc_id",
            F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
            F.coalesce(F.col("chars_cut"), F.lit(0))
            .cast("long")
            .alias("chars_cut"),
            F.length("clean").cast("long").alias("clean_len"),
            F.md5("clean").alias("clean_fp"),
        )
    )


# Cross-snapshot split: docs with doc_id % SNAP_MOD == 0 model the
# newly-crawled batch; the rest model the previously-ingested corpus.
SNAP_MOD = 3


def cross_snapshot_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion dedup: keep only NEW-batch documents whose
    canonical content hash does not already exist in the previous
    snapshot — a content-hash left-anti join, the cheapest and most
    common dedup step when appending a crawl to an existing corpus.

    Scale posture: both sides shuffle once on the 16-byte fp (not the
    text); at 100 TB the old-snapshot side is a pre-computed fp-only
    table, so the join moves hashes, never documents."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(_doc_canon(F.col("text"))).alias("fp")
    is_new = (F.col("doc_id") % SNAP_MOD) == 0
    new_batch = d.filter(is_new).select("doc_id", fp)
    old_snapshot = d.filter(~is_new).select(fp)
    return new_batch.join(old_snapshot, on="fp", how="left_anti")


EDIT_SIM_MIN = 0.4   # normalized-edit-similarity accept threshold


def dedup_editdist_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-verification stage after LSH blocking: each MinHash
    candidate pair is re-scored with true Levenshtein distance on the
    canonical text, keeping pairs whose normalized edit similarity
    (1 - dist/max_len) clears EDIT_SIM_MIN — the classic two-phase
    near-dedup (cheap probabilistic blocking, exact verify on the
    surviving candidates only).

    Scale posture: the O(len²) edit distance runs ONLY on LSH-surviving
    pairs (bounded by MAX_BUCKET fan-out), never all-pairs; the text
    join moves each document's canonical form once per candidate
    appearance, shuffling on doc ids. The distance itself is a JVM
    built-in (F.levenshtein) inside whole-stage codegen — no Python.
    """
    pairs = minhash_lsh_pairs(spark, sf_dir)
    canon = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_CANON_EXPR).alias("canon")
    )
    a = canon.selectExpr("doc_id AS doc_a", "canon AS canon_a")
    b = canon.selectExpr("doc_id AS doc_b", "canon AS canon_b")
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn(
            "editdist", F.levenshtein("canon_a", "canon_b").cast("long")
        )
        .withColumn(
            "edit_sim",
            # nz: two empty-after-canonicalization docs give
            # greatest(len, len) = 0 — NULL drops the pair at the
            # threshold filter instead of an ANSI crash
            F.round(
                F.lit(1.0)
                - F.col("editdist")
                / nz(F.greatest(F.length("canon_a"), F.length("canon_b"))),
                4,
            ),
        )
        .filter(F.col("edit_sim") >= EDIT_SIM_MIN)
        .select("doc_a", "doc_b", "editdist", "edit_sim")
    )


def _symmetric_lsh_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both directions of every LSH candidate pair as (s, d) rows,
    localCheckpoint-ed so the caller's several readers share one
    materialization. The pairs are unique with doc_a < doc_b by
    construction (sorted bucket arrays + dropDuplicates), so exploding
    both directions from ONE pair row is already a distinct symmetric
    edge list: no distinct exchange, and no union whose two legs would
    each instantiate the whole LSH pipeline (Spark does not share
    unaliased subplans)."""
    return (
        minhash_lsh_pairs(spark, sf_dir)
        .select(
            F.explode(
                F.expr(
                    "array(struct(doc_a AS s, doc_b AS d), "
                    "struct(doc_b AS s, doc_a AS d))"
                )
            ).alias("e")
        )
        .select("e.s", "e.d")
        .localCheckpoint()
    )


N_LABEL_ITERS = 3  # label-propagation rounds (bounded, deterministic)


def dedup_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from the LSH candidate pairs: every doc gets a
    cluster id = the smallest doc_id reachable within N_LABEL_ITERS
    hops (bounded min-label propagation — the last mile of dedup, where
    pairs become keep/drop groups).

    Each round is one join + one min-aggregate over the symmetrized
    edge list WITH self-loops (so a node's own label competes in the
    same aggregate — no second self-reference needed). Bounded rounds
    keep it deterministic and SQL-mirrorable (the oracle unrolls the
    same 3 rounds). For CONVERGED labels use
    ``dedup_connected_components`` (large-star/small-star contraction —
    O(log² n) rounds regardless of component diameter).

    EAGER: constructing this DataFrame runs the whole propagation —
    the final labels are ``localCheckpoint``-ed (eager by design), so
    a caller that reads them twice does not replay the rounds. Static
    plan tooling (shuffle audit) sees the truncated lineage and books
    ~0 exchanges (acknowledged in CHECKPOINT_TRUNCATED)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    edges = _symmetric_lsh_edges(spark, sf_dir).unionByName(
        docs.selectExpr("doc_id AS s", "doc_id AS d")
    )
    labels = docs.select("doc_id", F.col("doc_id").alias("label"))
    for _ in range(N_LABEL_ITERS):
        labels = (
            edges.join(labels, edges.s == labels.doc_id)
            .groupBy("d")
            .agg(F.min("label").alias("label"))
            .select(F.col("d").alias("doc_id"), "label")
        )
    return labels.localCheckpoint().select(
        "doc_id", F.col("label").alias("cluster_id")
    )


def _non_star_count(e: DataFrame) -> int:
    """Number of star-forest VIOLATIONS in the directed (s > d) edge
    set. Zero ⇔ the edges form a forest of stars each centered at its
    component minimum — the TRUE termination condition of star
    contraction. Two conditions, both required:

    - no node appears BOTH as a child (s) and a parent (d): a star
      centered off the minimum always leaves its center in both roles
      under the s > d invariant;
    - every child has exactly ONE parent: a child with two parents
      (e.g. {(2,0), (2,1)}) still BRIDGES two would-be components —
      no node holds both roles, yet the graph is not a union of
      disjoint stars (a hypothesis-found counterexample; checking
      roles alone terminated one round early with split labels).

    One role-tagged explode + one groupBy — a single shuffle per call:
    sum of child-tags per node counts its parent edges (e is
    distinct), max of each role tag detects double-role nodes. The
    role rows come from ONE explode over each edge row, not a union
    of two selects: Spark does not share unaliased subplans, so a
    union would instantiate the whole edge subtree twice — and the
    per-round edges are lazily checkpointed, so THIS job is what
    materializes them."""
    flat = e.select(
        F.explode(
            F.expr(
                "array(struct(s AS n, 1 AS c, 0 AS p), "
                "struct(d AS n, 0 AS c, 1 AS p))"
            )
        ).alias("r")
    ).select("r.n", "r.c", "r.p")
    return (
        flat.groupBy("n")
        .agg(
            F.sum("c").alias("n_parents"),
            F.max("c").alias("c"),
            F.max("p").alias("p"),
        )
        .filter(
            ((F.col("c") == 1) & (F.col("p") == 1))
            | (F.col("n_parents") > 1)
        )
        .count()
    )


def _large_star(sym: DataFrame) -> DataFrame:
    """Large-star (Kiveris et al., 'Connected Components in MapReduce
    and Beyond', SoCC 2014): every node links its LARGER neighbors to
    the minimum of its closed neighborhood. Input is the symmetric
    edge list; output directed child→parent edges (s > d).

    The neighborhood minimum rides a WINDOW over partitionBy(s)
    (guide §2.4): a groupBy+join pair would shuffle the edge frame
    twice per pass (the aggregate's exchange plus the join's
    re-shuffle of the edge side) and instantiate the un-checkpointed
    input once per join leg; the window computes the same per-s min in
    ONE edge-frame exchange with a single instantiation. Duplicate
    (s, m) rows are harmless — _small_star's final distinct collapses
    them."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    return (
        sym.withColumn(
            "m",
            F.least(
                F.col("s"), F.min("d").over(Window.partitionBy("s"))
            ),
        )
        .filter(F.col("d") > F.col("s"))
        .select(F.col("d").alias("s"), F.col("m").alias("d"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: every node links its SMALLER-or-equal neighbors
    (and itself) to the minimum among them. Input/output directed
    child→parent edges (s > d).

    The per-s minimum rides a window as in _large_star, and the two
    output legs — (d → m) per edge plus (s → m) per node — explode
    from ONE struct array per edge row instead of a union of two
    selects, so the upstream large-star pass is computed once, not
    twice (Spark does not share unaliased subplans). The (s → m) leg
    appears once per edge rather than once per s; the final distinct
    collapses those duplicates together with duplicate large-star
    output rows."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    t = edges.withColumn(
        "m", F.min("d").over(Window.partitionBy("s"))
    )
    return (
        t.select(
            F.explode(
                F.expr(
                    "array(struct(d AS s, m AS d), "
                    "struct(s AS s, m AS d))"
                )
            ).alias("e")
        )
        .select("e.s", "e.d")
        .filter(F.col("s") != F.col("d"))
        .distinct()
    )


MAX_STAR_ROUNDS = 25  # LS+SS rounds ≈ O(log² n) — generous for any n

#: Driver fast-path bound for star_contraction: graphs at or under
#: this many (deduped, oriented) edges are solved by an in-process
#: union-find off ONE bounded fetch instead of ~5 Spark jobs of
#: distributed contraction. 200k two-long rows ≈ 3 MB via Arrow /
#: tens of MB as pickled rows — bounded either way; the distributed
#: path is unchanged above the cap (and remains the 100 TB story).
CC_DRIVER_EDGE_MAX = 200_000


def star_contraction(edges: DataFrame) -> tuple[DataFrame, int]:
    """Connected components by ALTERNATING large-star/small-star
    contraction: label propagation needs ~diameter rounds (a 1000-link
    chain needs 1000 shuffles), star contraction provably converges in
    O(log² n) rounds regardless of diameter, because every round HALVES
    tree heights instead of walking them.

    ``edges``: undirected edge list as (s, d) long columns; duplicates
    in either direction and self-loops are allowed. Returns (parents,
    rounds): parents maps every non-root node to its component's
    minimum node id (roots are absent — they are their own label), and
    rounds is the number of LS+SS rounds to the star-forest (0 on the
    driver path). The driver sees one scalar per round (the non-star
    node count, whose zero IS the termination condition — checking the
    star property directly instead of edge-set equality saves the
    no-change confirming round a signature comparison needs, and
    doubles as the correctness guard: labels ship only from a verified
    star forest). Ids must be ``long``: both paths emit ``node long,
    root long``, so any other ``s``/``d`` type raises ``TypeError``
    before either path runs.

    The input is oriented (s > d) and self-loops dropped, but NOT
    deduplicated: duplicate edges are harmless to the union-find and to
    the large-star window, small-star ends in a distinct, and the
    non-star count only ever reads a round's (distinct) output — so an
    input distinct would be a full exchange stacked on the caller's
    whole upstream plan for nothing.

    Per round ONE job: the round's edge set is lazily localCheckpoint-ed
    and materialized inside the non-star-count job, and every round
    subtree instantiates its input exactly once — large-star/small-star
    ride windows, and both union-shaped expansions (small-star's two
    legs, the count's two role rows) explode from one struct array per
    row."""
    for col in ("s", "d"):
        dtype = edges.schema[col].dataType
        if not isinstance(dtype, T.LongType):
            raise TypeError(
                f"star_contraction: edge column {col!r} must be long, "
                f"got {dtype.simpleString()}"
            )
    # eager: e seeds round 1's symmetrize (two instantiations), so the
    # caller's upstream plan must be materialized exactly once here
    e = (
        edges.select(
            F.greatest("s", "d").alias("s"), F.least("s", "d").alias("d")
        )
        .filter(F.col("s") != F.col("d"))
        .localCheckpoint()
    )
    # Driver fast path (the BPE trainer's bounded-probe recipe, guide
    # §5): ONE bounded fetch off the already-checkpointed edge set
    # either returns the whole graph (≤ CC_DRIVER_EDGE_MAX edges →
    # path-compressed union-find on the driver, microseconds, zero
    # further jobs) or proves it big and the distributed loop below
    # takes over. Labels are identical by construction — both paths
    # map every non-root node to its component minimum (pinned by the
    # forced-both-paths equivalence test) — and driver memory is capped
    # at MAX+1 two-long rows. At 100 TB the candidate-pair graph blows
    # past the cap and the O(log² n) contraction runs; what the cap
    # buys is not paying ~5 Spark jobs to label a residual graph an
    # in-process union-find solves outright.
    probe = e.limit(CC_DRIVER_EDGE_MAX + 1).toPandas()
    if len(probe) <= CC_DRIVER_EDGE_MAX:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for s_v, d_v in zip(probe["s"], probe["d"]):
            ra, rb = find(int(s_v)), find(int(d_v))
            if ra != rb:
                # union by MIN root: the surviving root is the
                # component minimum, matching the contraction's labels
                parent[max(ra, rb)] = min(ra, rb)
        rows = [
            (n, find(n)) for n in list(parent) if find(n) != n
        ]
        spark = edges.sparkSession
        # a local relation's size estimate is its real size (24 bytes
        # a row; the ≤ 2·CC_DRIVER_EDGE_MAX nodes stay under the 10 MB
        # broadcast threshold), so the caller's docs-side join
        # broadcasts it without a hint
        return local_frame(spark, rows, "node long, root long"), 0
    rounds = 0
    converged = False
    # do-while, not while: a star forest is a FIXPOINT of LS∘SS (the
    # large-star pass reproduces it, the small-star pass re-derives it),
    # so skipping the pre-loop star check costs one no-op round on
    # already-converged input but saves a whole check job on the common
    # (non-star) case.
    while not converged and rounds < MAX_STAR_ROUNDS:
        sym = e.unionByName(
            e.select(F.col("d").alias("s"), F.col("s").alias("d"))
        )
        # lazy: materializes inside the count job below — one job per
        # round, not two; _non_star_count touches e once by
        # construction, so the round subtree is computed exactly once
        e = _small_star(_large_star(sym)).localCheckpoint(eager=False)
        rounds += 1
        converged = _non_star_count(e) == 0
    if not converged:
        raise RuntimeError(
            f"star_contraction: no star-forest after {MAX_STAR_ROUNDS} "
            "LS+SS rounds — raise MAX_STAR_ROUNDS"
        )
    return e.select(F.col("s").alias("node"), F.col("d").alias("root")), (
        rounds
    )


def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERGED near-dup clusters over the LSH candidate-pair graph
    (unlike ``dedup_cluster_labels``' bounded 3 rounds): every doc's
    cluster_id is exactly the smallest doc_id in its connected
    component. Labels come from ``star_contraction``, so rounds are
    O(log² n) whatever the component diameter: a chain-shaped
    component would cost label propagation one shuffle per link
    (tests pin a 200-link chain converging in <10 rounds). Registered
    under ``dedup_connected_components`` and ``dedup_cc_star``."""
    pairs = minhash_lsh_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("s"), F.col("doc_b").alias("d")
    )
    parents, _rounds = star_contraction(pairs)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.join(
        parents, docs.doc_id == parents.node, "left"
    ).select(
        "doc_id", F.coalesce("root", "doc_id").alias("cluster_id")
    )


CHUNK_WORDS = 10    # chunk granularity for corpus-level span dedup
CHUNK_MAX_FREQ = 2  # keep chunks occurring at most this often corpus-wide


def chunk_dedup_reassemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document span dedup (CCNet/RefinedWeb-style duplicated-line
    removal, adapted to word-chunks since the fixture has no newlines):
    split every doc into consecutive CHUNK_WORDS-word chunks, count each
    chunk's occurrences across the WHOLE corpus, drop chunks appearing
    more than CHUNK_MAX_FREQ times (boilerplate), and reassemble each
    doc from its surviving chunks in order. Docs whose every chunk is
    boilerplate disappear entirely.

    Plan: tokenize+posexplode (narrow), one window count partitioned by
    chunk text (the corpus-frequency shuffle — at 100 TB hash a 64-bit
    fingerprint of the chunk instead of shuffling raw text), one
    groupBy(doc_id) to reassemble. Chunk order is restored with
    array_sort over (idx, chunk) structs — no global sort.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    from pyspark.sql.window import Window  # noqa: PLC0415

    chunks = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(split(text, ' ')) "
                f"/ {CHUNK_WORDS}.0) AS INT) - 1), "
                f"i -> array_join(slice(split(text, ' '), "
                f"i * {CHUNK_WORDS} + 1, {CHUNK_WORDS}), ' '))"
            )
        ).alias("idx", "chunk"),
    )
    freq = chunks.withColumn(
        "n", F.count("*").over(Window.partitionBy("chunk"))
    )
    return (
        freq.filter(F.col("n") <= CHUNK_MAX_FREQ)
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "chunk"))),
                    lambda s: s.chunk,
                ),
                " ",
            ).alias("cleaned_text"),
            F.count("*").cast("long").alias("kept_chunks"),
        )
    )


def dedup_decision_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consumable dedup verdict table: one row per document with the
    EXACT-dup decision (canonical copy or not, and of which fingerprint
    group) and the NEAR-dup decision (converged LSH cluster id, and
    whether the doc is its cluster's canonical min). Downstream corpus
    builds filter on these two booleans instead of re-running any dedup
    — the contract artifact the whole dedup family feeds.

    Cost: dedup_exact + ``dedup_connected_components`` (star
    contraction; on the driver below CC_DRIVER_EDGE_MAX edges) + two
    doc_id-keyed joins (same partitioning end to end)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    exact = dedup_exact(spark, sf_dir)
    fp = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(_doc_canon(F.col("text"))).alias("fp")
    )
    exact_j = fp.join(exact, on="fp").select(
        "doc_id",
        (F.col("doc_id") == F.col("canonical_id")).alias("is_exact_canonical"),
        F.col("n_copies").alias("exact_copies"),
    )
    cc = dedup_connected_components(spark, sf_dir)
    return (
        d.join(exact_j, on="doc_id")
        .join(cc, on="doc_id")
        .select(
            "doc_id",
            "is_exact_canonical",
            "exact_copies",
            F.col("cluster_id").alias("near_cluster_id"),
            (F.col("doc_id") == F.col("cluster_id")).alias(
                "is_near_canonical"
            ),
        )
    )


EXAMPLES_PER_CLUSTER = 3


def cluster_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Human-audit sampling of near-dup clusters: for every converged
    cluster with >= 2 members, up to EXAMPLES_PER_CLUSTER example
    doc_ids (smallest ids — deterministic) and the cluster size. The
    artifact a reviewer eyeballs to tune thresholds before a destructive
    dedup run; bounded output (k per cluster) regardless of cluster
    size, via in-group sort+slice — no window, no skew exposure."""
    cc = dedup_connected_components(spark, sf_dir)
    return (
        cc.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            F.slice(
                F.sort_array(F.collect_list("doc_id")),
                1,
                EXAMPLES_PER_CLUSTER,
            ).alias("example_ids"),
        )
        .filter(F.col("n_members") >= 2)
        .select(
            "cluster_id",
            "n_members",
            F.concat_ws(
                ",", F.transform("example_ids", lambda x: x.cast("string"))
            ).alias("examples"),
        )
    )


def chunk_copy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document copy detection at CHUNK granularity: pairs of
    documents sharing identical CHUNK_WORDS-word chunks, with the
    shared-chunk count — the copy-paste/plagiarism report (dedup
    REMOVES spans; this names which documents copied from which).

    Chunks hash to md5 before the pair join, so the shuffle carries
    fingerprints; per-fingerprint doc lists are capped by the same
    in-bucket combination expansion as LSH (no self-join)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    chunks = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(split(text, ' ')) "
                f"/ {CHUNK_WORDS}.0) AS INT) - 1), "
                f"i -> md5(array_join(slice(split(text, ' '), "
                f"i * {CHUNK_WORDS} + 1, {CHUNK_WORDS}), ' ')))"
            )
        ).alias("chunk_fp"),
    ).dropDuplicates()
    buckets = (
        chunks.groupBy("chunk_fp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .filter((F.size("docs") >= 2) & (F.size("docs") <= MAX_BUCKET))
    )
    return (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(docs, (x, i) -> "
                    "transform(slice(docs, i + 2, size(docs)), "
                    "y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.count("*").alias("shared_chunks"))
    )


def lsh_eval_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-evaluation of the LSH stage against ground truth it must
    not miss: every EXACT-duplicate pair (same canonical fingerprint)
    should surface as an LSH candidate (identical docs share all
    bands). Reports exact-pair count, LSH candidate count, their
    overlap, and recall-of-exact — the monitoring metric that catches a
    broken banding/permutation config before a silent under-dedup ships.

    Both pair sets are in-bucket combination expansions; the comparison
    is one join on the (doc_a, doc_b) key."""
    fp_pairs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.md5(_doc_canon(F.col("text"))).alias("fp"))
        .groupBy("fp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(docs, (x, i) -> "
                    "transform(slice(docs, i + 2, size(docs)), "
                    "y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
    )
    # both pair sets feed two actions each (their count + the overlap
    # join) — persist so the shingle/minhash pipeline runs once, not
    # twice; pair sets are tiny (bucket-capped) so this is memory-safe
    fp_pairs = fp_pairs.persist()
    lsh = minhash_lsh_pairs(spark, sf_dir).persist()
    try:
        n_exact = fp_pairs.count()
        n_lsh = lsh.count()
        n_both = fp_pairs.join(lsh, on=["doc_a", "doc_b"]).count()
    finally:
        fp_pairs.unpersist()
        lsh.unpersist()
    # the ratio rounds IN-ENGINE (F.round, HALF_UP) like every other
    # query — Python's round() is banker's rounding and would diverge
    # from the SQL oracle on an exact .5 boundary
    return local_frame(
        spark,
        [(n_exact, n_lsh, n_both)],
        "n_exact_pairs long, n_lsh_pairs long, n_overlap long",
    ).select(
        "*",
        F.when(
            F.col("n_exact_pairs") > 0,
            F.round(F.col("n_overlap") / F.col("n_exact_pairs"), 6),
        )
        .otherwise(F.lit(1.0))
        .alias("recall_of_exact"),
    )


def incremental_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup detection: LSH candidate pairs where at
    least one side belongs to the NEW batch (the cross_snapshot_dedup
    split, doc_id % SNAP_MOD == 0) — the production posture for
    appending a crawl to an indexed corpus: the standing old×old pair
    set is NEVER regenerated, only new×index and new×new candidates.

    The in-bucket expansion is restricted BEFORE fan-out: each new doc
    pairs against its bucket, so per-bucket work is |new|×|bucket|
    instead of |bucket|² — on a mature corpus (new fraction ε) that is
    the difference between ε·B² and B² pair candidates. Same banded
    signatures, same MAX_BUCKET skew cap as minhash_lsh_pairs;
    pair_type distinguishes new-vs-index from within-batch pairs.
    """
    bands = _band_keys(spark, sf_dir)
    buckets = (
        bands.groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .filter((F.size("docs") >= 2) & (F.size("docs") <= MAX_BUCKET))
    )
    return (
        buckets.select(
            F.explode(
                F.expr(
                    f"flatten(transform("
                    f"filter(docs, y -> y % {SNAP_MOD} = 0), "
                    f"y -> transform(filter(docs, x -> x != y), "
                    f"x -> struct(least(x, y) AS doc_a, "
                    f"greatest(x, y) AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .dropDuplicates()
        .select(
            "doc_a",
            "doc_b",
            F.when(
                (F.col("doc_a") % SNAP_MOD == 0)
                & (F.col("doc_b") % SNAP_MOD == 0),
                "new-new",
            )
            .otherwise("new-old")
            .alias("pair_type"),
        )
    )


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-novelty profile: for each document, the fraction of
    its DISTINCT word-3-grams that first appear in the corpus at this
    document (ingest order = doc_id). Low novelty = mostly-seen
    content; the corpus-level duplication-discovery curve (Lee et al.
    2022 "Deduplicating Training Data" §4 measure, per-doc grain).

    One gram-distinct shuffle + one per-gram min window (the same
    partitioning) + one per-doc aggregate. At 100 TB the gram stream
    dominates; cap it with the MAX_DOCFREQ guard ngram_jaccard_pairs
    uses if the tail is hot — novelty only needs min(doc_id), so hot
    grams cost one combine, not a pair fan-out.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    words = d.select("doc_id", F.split(F.lower("text"), " ").alias("ws"))
    grams = (
        words.filter(F.size("ws") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    # greatest(..., 1): the size(ws) >= 3 filter does
                    # NOT protect this expression — Spark's
                    # InferFiltersFromGenerate merges a size(gs) > 0
                    # predicate into the SAME Filter and codegen
                    # subexpression elimination evaluates the hoisted
                    # transform BEFORE the AND short-circuits, so
                    # sequence(1, size-2) must be total: on a short doc
                    # sequence(1, 0) is DESCENDING [1, 0] and
                    # slice(ws, 0, ..) throws. Clamping to 1 yields one
                    # junk gram on rows the filter discards anyway.
                    "transform(sequence(1, greatest(size(ws) - 2, 1)), "
                    "i -> array_join(slice(ws, i, 3), ' '))"
                )
            ).alias("g"),
        )
        .dropDuplicates(["doc_id", "g"])
    )
    from pyspark.sql.window import Window  # noqa: PLC0415

    flagged = grams.select(
        "doc_id",
        (
            F.min("doc_id").over(Window.partitionBy("g"))
            == F.col("doc_id")
        )
        .cast("long")
        .alias("novel"),
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum("novel").alias("n_novel"),
        F.round(F.sum("novel") / F.count("*"), 4).alias("novelty_ratio"),
    )


SNM_NEIGHBORS = 2    # sorted-neighborhood lookahead (window w = 3)
SNM_THRESHOLD = 0.5  # token-Jaccard cutoff for a near-dup pair


def snm_adjacent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup detection (Hernández & Stolfo 1995,
    the record-linkage classic): canonicalize each document to its
    sorted distinct-token signature, sort the corpus by that signature
    within blocks keyed by the first token, and score only each doc
    against its next SNM_NEIGHBORS neighbors in sort order — similar
    docs sort together, so a w-row window finds them without all-pairs.
    Complements MinHash-LSH: no probabilistic recall loss inside a
    block, at the cost of missing pairs whose signatures diverge on the
    first token.

    Scale posture: one token-distinct shuffle, one per-block window
    sort (blocks = distinct leading tokens — thousands of independent
    tasks, never a global single-partition sort; a production run would
    widen to multi-pass SNM with rotated keys). The lead() carries the
    token signature — bounded by doc vocabulary, the same payload class
    the LSH path shuffles.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = (
        d.select(
            "doc_id",
            F.explode(
                F.array_distinct(F.split(F.lower("text"), r"\s+"))
            ).alias("w"),
        )
        .filter(F.length("w") > 0)
    )
    # empty-signature docs (no tokens) are dropped: they cannot be
    # near-dups of anything and would make the Jaccard denominator 0
    # (an error under ANSI division)
    sigs = toks.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("w")).alias("ts")
    ).filter(F.size("ts") > 0)
    keyed = sigs.select(
        "doc_id",
        "ts",
        F.array_join("ts", " ").alias("key"),
        F.element_at("ts", 1).alias("block"),
    )
    from pyspark.sql.window import Window  # noqa: PLC0415

    win = Window.partitionBy("block").orderBy("key", "doc_id")
    nbr = keyed.select(
        "doc_id",
        "ts",
        *[
            c
            for off in range(1, SNM_NEIGHBORS + 1)
            for c in (
                F.lead("doc_id", off).over(win).alias(f"id{off}"),
                F.lead("ts", off).over(win).alias(f"ts{off}"),
            )
        ],
    )
    pairs = nbr.select(
        "doc_id",
        "ts",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.col(f"id{off}").alias("b"),
                        F.col(f"ts{off}").alias("tsb"),
                    )
                    for off in range(1, SNM_NEIGHBORS + 1)
                ]
            )
        ).alias("n"),
    ).filter(F.col("n.b").isNotNull())
    inter = F.size(F.array_intersect("ts", "n.tsb"))
    jac = inter / (F.size("ts") + F.size("n.tsb") - inter)
    return (
        pairs.select(
            F.least("doc_id", "n.b").alias("doc_a"),
            F.greatest("doc_id", "n.b").alias("doc_b"),
            jac.alias("jac"),
        )
        .filter(F.col("jac") >= SNM_THRESHOLD)
        .select("doc_a", "doc_b", F.round("jac", 4).alias("jac"))
    )


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl forensics: for every pair of sources, how many distinct
    contents (canonical fingerprints) appear in BOTH — the
    which-source-mirrors-which matrix that decides dedup ordering and
    source-level provenance policy in a multi-crawl corpus.

    One fp-grain aggregate collapses the corpus to (fp, distinct
    sources); pair fan-out is per-fp over that doc's source set —
    bounded by sources² per fingerprint, never by corpus size."""
    d = spread(load_table(spark, sf_dir, "documents"))
    fp_sources = (
        d.select(F.md5(_doc_canon(F.col("text"))).alias("fp"), "source")
        .groupBy("fp")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .filter(F.size("srcs") >= 2)
    )
    pairs = fp_sources.select(
        F.explode(
            F.expr(
                "flatten(transform(srcs, (a, i) -> "
                "transform(slice(srcs, i + 2, size(srcs)), "
                "b -> struct(a AS src_a, b AS src_b))))"
            )
        ).alias("p")
    )
    return (
        pairs.groupBy("p.src_a", "p.src_b")
        .agg(F.count("*").alias("n_shared_contents"))
        .select(
            F.col("src_a").alias("source_a"),
            F.col("src_b").alias("source_b"),
            "n_shared_contents",
        )
    )


PR_DAMPING = 0.85
PR_ITERS = 8


def pagerank_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the LSH candidate-pair graph — the graph-analytics
    companion to the connected-components labelers: within a near-dup
    cluster the highest-rank document is its most-connected "hub"
    (a centrality-based canonical pick, vs dedup_keep_best's
    length/quality pick). Standard damped power iteration
    (Brin & Page 1998), PR_ITERS fixed rounds, symmetric edges.

    Plan shape per round: ranks ⋈ weighted edges on the node key, one
    groupBy(dst) sum — a single data shuffle — plus one scalar job for
    the dangling-rank mass (nodes with no edges; their rank
    redistributes uniformly, keeping the total at exactly 1). Edge
    weights (1/out-degree) are computed ONCE before the loop; lineage
    is truncated per round with localCheckpoint like the other
    iterative operators. Rounds are FIXED (not convergence-tested).

    Oracle-checked: per-round contribution and dangling sums snap each
    term to DECIMAL(38,30) and sum EXACTLY, which makes each engine's
    iteration independent of partition/summation order — the property
    a float sum lacks. Cross-engine the snapped terms agree only to
    ~1 ulp (Spark's double→decimal cast goes through the SHORTEST
    decimal repr, DuckDB's through the exact binary value — they
    differ past the 17th significant digit), so the pre-round ranks
    are ulp-close, not bit-equal; the 8-digit snap_round output is
    then identical unless a rank sits within ~1e-17 of a .5e-8
    boundary (~1e-9 per row — the same accepted-risk class as
    cosine_topk_pandas' matmul-vs-fold argument). Replayed by a
    DuckDB recursive CTE at (iteration, node) grain whose aggregating
    subqueries read the previous iteration's working table. Scalar
    double constants are interpolated as repr literals on both sides
    (EWMA recipe), since DuckDB would otherwise evaluate 1.0-0.85 in
    exact decimal while Python gets 0.15000000000000002. The
    pure-Python power-iteration equivalence test (tests/test_llm.py)
    stays as the third implementation."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # checkpointed once for its two consumers (degree aggregate +
    # weight join)
    edges = _symmetric_lsh_edges(spark, sf_dir)
    deg = edges.groupBy("s").agg(F.count("*").alias("deg"))
    edges_w = (
        edges.join(deg, "s")
        .select("s", "d", (F.lit(1.0) / F.col("deg")).alias("w"))
        .localCheckpoint()
    )
    n = docs.count()
    if n == 0:
        # no corpus, no ranks — mirror the oracle's empty result
        # instead of dividing by zero at plan-build time
        return local_frame(spark, [], "doc_id long, rank double")
    nodes = docs.select(F.col("doc_id").alias("node")).localCheckpoint()
    # the dangling (edge-less) node set is LOOP-INVARIANT: compute it
    # once instead of paying a distinct + anti-join of the full ranks
    # every round
    dangling_nodes = nodes.join(
        edges_w.select(F.col("s").alias("node")).distinct(),
        "node",
        "left_anti",
    ).localCheckpoint()
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(PR_ITERS):
        # lazy checkpoint: materializes inside the dangling-sum job
        # below (one job per round, not two) while still truncating
        # the lineage before the next round's join
        ranks = ranks.localCheckpoint(eager=False)
        # rank mass parked on dangling (edge-less) nodes redistributes
        # uniformly — one scalar to the driver per round; EXACT decimal
        # sum so the scalar is independent of partition order
        drow = (
            ranks.join(dangling_nodes, "node", "left_semi")
            .agg(F.sum(F.col("rank").cast("decimal(38,30)")))
            .first()[0]
        )
        dangling = float(drow) if drow is not None else 0.0
        contrib = (
            edges_w.join(ranks, edges_w.s == ranks.node)
            .groupBy("d")
            .agg(
                F.sum(
                    (F.col("rank") * F.col("w")).cast("decimal(38,30)")
                )
                .cast("double")
                .alias("c")
            )
        )
        base = (1.0 - PR_DAMPING) / n + PR_DAMPING * dangling / n
        ranks = (
            nodes.join(contrib, nodes.node == contrib.d, "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(PR_DAMPING) * F.coalesce("c", F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks.select(
        F.col("node").alias("doc_id"),
        snap_round(F.col("rank"), 8).alias("rank"),
    )


KCORE_K = 2         # minimum within-core degree, shared with the test
MAX_KCORE_ITERS = 30  # peel-rounds safety cap (rounds ≤ peel depth)


def kcore_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (Seidman 1983) of the LSH candidate-pair
    graph: iteratively peel nodes with degree < KCORE_K until the
    residual graph is stable; survivors form the maximal subgraph where
    EVERY doc has ≥ k near-dup partners. The densest-cluster gate the
    graph suite was missing between triangles (local density) and
    connected components (reachability): a doc in the 2-core sits in a
    genuinely redundant cluster, a degree-1 pendant is a borderline
    pair an aggressive dedup policy should re-verify, not collapse.

    Each peel round is one degree aggregate + one semi-join per edge
    endpoint — edge-grain shuffles only; the loop's driver action is a
    scalar count (strictly decreasing until fixpoint, so rounds are
    bounded by peel depth, not graph size). ``localCheckpoint``
    truncates lineage per round (``checkpoint`` to HDFS on a real
    cluster). Oracle-checked: the k-core is the UNIQUE maximal
    subgraph with min degree ≥ k, reachable from any peel schedule, so
    a DuckDB recursive CTE carrying the surviving node set as a LIST
    column replays the loop (see ORACLES below); a pure-Python peel in
    tests/test_llm.py is the third independent implementation. Fails
    loudly on cap exhaustion — a silently partial peel would overstate
    core sizes."""
    edges = _symmetric_lsh_edges(spark, sf_dir)
    # Driver fast path (same bounded-probe recipe as
    # star_contraction / the BPE trainer): one bounded fetch off the
    # checkpointed symmetric edge list either returns the whole graph
    # (≤ CC_DRIVER_EDGE_MAX rows → in-process simultaneous peel,
    # zero further jobs) or proves it big and the distributed loop
    # below runs. The k-core is the UNIQUE maximal subgraph
    # with min degree ≥ k — any peel schedule reaches it — and the
    # simultaneous-removal rounds below mirror the distributed
    # keep/semi-join rounds exactly; the forced-both-paths test pins
    # equality on the fixture. Pairs are unique, so adjacency-set
    # sizes equal the distributed count(*) degrees.
    probe = edges.limit(CC_DRIVER_EDGE_MAX + 1).toPandas()
    if len(probe) <= CC_DRIVER_EDGE_MAX:
        adj: dict[int, set[int]] = {}
        for s_v, d_v in zip(probe["s"], probe["d"]):
            adj.setdefault(int(s_v), set()).add(int(d_v))
        while True:
            low = {n for n, nb in adj.items() if len(nb) < KCORE_K}
            if not low:
                break
            adj = {
                n: nb - low
                for n, nb in adj.items()
                if n not in low
            }
        rows = [(n, len(nb)) for n, nb in adj.items()]
        return local_frame(spark, rows, "doc_id long, core_degree long")
    prev = edges.count()
    converged = prev == 0
    for _ in range(MAX_KCORE_ITERS):
        if converged:
            break
        keep = (
            edges.groupBy("s")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= KCORE_K)
            .select("s")
        )
        edges = (
            edges.join(keep, "s", "left_semi")
            .join(keep.selectExpr("s AS d"), "d", "left_semi")
            .localCheckpoint()
        )
        cur = edges.count()
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"kcore_near_dup: no fixpoint after {MAX_KCORE_ITERS} "
            "peel rounds — raise MAX_KCORE_ITERS"
        )
    return (
        edges.groupBy("s")
        .agg(F.count("*").cast("long").alias("core_degree"))
        .selectExpr("s AS doc_id", "core_degree")
    )


def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + local clustering coefficient over the LSH
    candidate-pair graph: how CLIQUE-LIKE each near-dup neighborhood is.
    High clustering = a tight mutual-duplicate cluster (safe to collapse
    to one canonical doc); low clustering around a high-degree node =
    a hub/template stitching unrelated docs (split before dedup). The
    graph-quality gate between pair generation and cluster collapse.

    Standard oriented triangle enumeration (node ids give the total
    order; every edge already has doc_a < doc_b): two equi-joins find
    wedges a<b<c and close them against the edge list — each triangle
    counted exactly once, no direction blow-up. Joins are edge-grain
    (near-dup graphs are sparse by construction — MAX_BUCKET caps the
    per-bucket pair fan-out upstream); per-node counts and degrees are
    two small aggregates. Output: linked nodes with degree >= 2."""
    # persist(): the pair graph feeds both wedge sides, the closing
    # join and both degree projections — 5 consumers of an unaliased
    # multi-shuffle pipeline (the cache-deduped audit showed the LSH
    # subtree instantiating 5x -> 22 static exchanges without this)
    pairs = minhash_lsh_pairs(spark, sf_dir).select(
        "doc_a", "doc_b"
    ).persist()
    wedges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .join(
            pairs.select(
                F.col("doc_a").alias("b"), F.col("doc_b").alias("c")
            ),
            on="b",
        )
    )
    tri = wedges.join(
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c")),
        on=["a", "c"],
    )
    tcounts = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("t"))
    )
    deg = (
        pairs.select(F.col("doc_a").alias("node"))
        .unionByName(pairs.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tcounts, on="node", how="left")
        .select(
            F.col("node").alias("doc_id"),
            "degree",
            F.coalesce("t", F.lit(0)).alias("triangles"),
            F.round(
                F.lit(2.0)
                * F.coalesce("t", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                4,
            ).alias("clustering"),
        )
    )


# Fellegi-Sunter (JASA 1969) probabilistic record linkage: per
# comparison field, m = P(agree | same entity), u = P(agree | different
# entities). Literature-style documented constants (a production
# deployment EM-fits them from the pair population); the derived log2
# agreement/disagreement weights are Python-precomputed doubles shared
# VERBATIM (repr) with the oracle so the score arithmetic is identical.
FS_FIELDS: dict[str, tuple[float, float]] = {
    "lang": (0.95, 0.30),
    "source": (0.60, 0.05),
    "length": (0.90, 0.20),
}
FS_LEN_TOL = 0.10   # lengths agree when |Δ| ≤ 10 % of the longer doc
FS_T_MATCH = 4.0    # total weight ≥ → link
FS_T_POSSIBLE = 0.0  # in [possible, match) → clerical-review band

_FS_W = {
    f: (_math.log2(m / u), _math.log2((1 - m) / (1 - u)))
    for f, (m, u) in FS_FIELDS.items()
}


def fellegi_sunter_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record-linkage scoring (Fellegi-Sunter) over the
    LSH candidate pairs — the decision layer the blocking stages feed:
    each pair gets a field-agreement vector (language, source, length
    band), the vector maps to a sum of log-likelihood-ratio weights,
    and the score classifies into match / possible / non_match between
    the two thresholds. Complements ``dedup_editdist_rerank`` (exact
    verify) with the classic probabilistic verdict when fields, not
    edit distance, carry the evidence.

    Scale posture: scoring runs ONLY on blocking survivors (bucket-
    capped LSH pairs, never all-pairs); the two attribute joins shuffle
    on doc ids, and the weight arithmetic is a fixed three-term double
    sum in whole-stage codegen — constants broadcast in the plan
    closure, no Python rows."""
    # persist(): the pair graph feeds both wedge sides, the closing
    # join and both degree projections — 5 consumers of an unaliased
    # multi-shuffle pipeline (the cache-deduped audit showed the LSH
    # subtree instantiating 5x -> 22 static exchanges without this)
    pairs = minhash_lsh_pairs(spark, sf_dir).select(
        "doc_a", "doc_b"
    ).persist()
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("source").alias("src_a"),
        F.col("n_chars").alias("len_a"),
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("src_b"),
        F.col("n_chars").alias("len_b"),
    )
    j = pairs.join(a, "doc_a").join(b, "doc_b")
    agree_lang = F.col("lang_a") == F.col("lang_b")
    agree_src = F.col("src_a") == F.col("src_b")
    agree_len = (
        F.abs(F.col("len_a") - F.col("len_b")).cast("double")
        <= F.lit(FS_LEN_TOL)
        * F.greatest("len_a", "len_b").cast("double")
    )
    score = (
        F.when(agree_lang, F.lit(_FS_W["lang"][0])).otherwise(
            F.lit(_FS_W["lang"][1])
        )
        + F.when(agree_src, F.lit(_FS_W["source"][0])).otherwise(
            F.lit(_FS_W["source"][1])
        )
        + F.when(agree_len, F.lit(_FS_W["length"][0])).otherwise(
            F.lit(_FS_W["length"][1])
        )
    )
    return j.select(
        "doc_a",
        "doc_b",
        agree_lang.alias("agree_lang"),
        agree_src.alias("agree_source"),
        agree_len.alias("agree_length"),
        F.round(score, 4).alias("fs_score"),
        F.when(score >= FS_T_MATCH, F.lit("match"))
        .when(score >= FS_T_POSSIBLE, F.lit("possible"))
        .otherwise(F.lit("non_match"))
        .alias("decision"),
    )


FS_EM_ROUND = 6  # rounding for the re-estimated probabilities/weights


def fellegi_sunter_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EM re-estimation step for the Fellegi-Sunter m/u
    probabilities — the production fitting path the documented
    constants stand in for: classify every candidate pair with the
    CURRENT weights (``fellegi_sunter_links``), then re-estimate each
    field's m̂ = P(agree | match) and û = P(agree | non-match) from the
    classified populations (add-one smoothed so a unanimous field never
    yields a ±inf weight), and emit the updated log2 weights. Iterate
    to convergence by feeding the new constants back in — each step is
    this same plan.

    Scale posture: ONE global conditional-count aggregate over the
    (bucket-capped) scored pair frame — the exchange carries one
    partial-agg row per task; the 3-field unpivot runs on the 1-row
    result."""
    scored = fellegi_sunter_links(spark, sf_dir).withColumn(
        "is_m", (F.col("decision") == "match").cast("int")
    )
    aggs = []
    for fld in ("lang", "source", "length"):
        c = F.col(f"agree_{fld}").cast("int")
        aggs.append(
            F.sum(F.col("is_m") * c).alias(f"ma_{fld}")
        )
        aggs.append(
            F.sum((1 - F.col("is_m")) * c).alias(f"ua_{fld}")
        )
    stats = scored.agg(
        F.sum("is_m").alias("n_match"),
        (F.count("*") - F.sum("is_m")).alias("n_non"),
        *aggs,
    # 1-ROW materialization: the unpivot below reads stats three times,
    # and Spark shares no unaliased subplans — without this the whole
    # LSH scoring pipeline would execute once per field
    ).localCheckpoint()
    parts = []
    for fld in ("lang", "source", "length"):
        m_hat = (F.col(f"ma_{fld}") + 1.0) / (F.col("n_match") + 2.0)
        u_hat = (F.col(f"ua_{fld}") + 1.0) / (F.col("n_non") + 2.0)
        parts.append(
            stats.select(
                F.lit(fld).alias("field"),
                F.col("n_match").cast("long").alias("n_match"),
                F.col("n_non").cast("long").alias("n_non"),
                F.round(m_hat, FS_EM_ROUND).alias("m_hat"),
                F.round(u_hat, FS_EM_ROUND).alias("u_hat"),
                F.round(F.log2(m_hat / u_hat), FS_EM_ROUND).alias(
                    "w_agree"
                ),
                F.round(
                    F.log2((1.0 - m_hat) / (1.0 - u_hat)), FS_EM_ROUND
                ).alias("w_disagree"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


QUERIES = {
    "dedup_exact": dedup_exact,
    "fellegi_sunter_links": fellegi_sunter_links,
    "fellegi_sunter_em": fellegi_sunter_em,
    "pagerank_near_dup": pagerank_near_dup,
    "kcore_near_dup": kcore_near_dup,
    "dedup_graph_triangles": dedup_graph_triangles,
    "snm_adjacent_pairs": snm_adjacent_pairs,
    "source_overlap_matrix": source_overlap_matrix,
    "dedup_connected_components": dedup_connected_components,
    "dedup_cc_star": dedup_connected_components,
    "dedup_decision_matrix": dedup_decision_matrix,
    "cluster_examples": cluster_examples,
    "chunk_copy_pairs": chunk_copy_pairs,
    "lsh_eval_vs_exact": lsh_eval_vs_exact,
    "chunk_dedup_reassemble": chunk_dedup_reassemble,
    "dedup_keep_best": dedup_keep_best,
    "minhash_signatures": minhash_signatures,
    "minhash_lsh_pairs": minhash_lsh_pairs,
    "lsh_bucket_stats": lsh_bucket_stats,
    "dedup_cluster_labels": dedup_cluster_labels,
    "simhash_docs": simhash_docs,
    "simhash_pairs": simhash_pairs,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "ngram_containment_pairs": ngram_containment_pairs,
    "tfidf_cosine_pairs": tfidf_cosine_pairs,
    "exact_substring_matches": exact_substring_matches,
    "duplicate_spans": duplicate_spans,
    "cut_duplicate_spans": cut_duplicate_spans,
    "cross_snapshot_dedup": cross_snapshot_dedup,
    "dedup_editdist_rerank": dedup_editdist_rerank,
    "ngram_novelty": ngram_novelty,
    "incremental_lsh_pairs": incremental_lsh_pairs,
}

_CANON = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_SHINGLES = f"""
    SELECT DISTINCT doc_id,
           substr({_CANON}, i, {SHINGLE_LEN}) AS shingle
    FROM documents,
         LATERAL (SELECT unnest(generate_series(
             1, greatest(length({_CANON}) - {SHINGLE_LEN - 1}, 1))) AS i)
"""
_PERM_VALUES = ", ".join(
    f"({i}, {PERM_A[i]}, {PERM_B[i]})" for i in range(N_PERM)
)
_SIGNATURES = f"""
    SELECT doc_id, perm,
           min((a * h + b) % {PRIME}) AS minhash
    FROM (SELECT doc_id,
                 ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {PRIME} AS h
          FROM ({_SHINGLES})) s,
         (VALUES {_PERM_VALUES}) AS p(perm, a, b)
    GROUP BY doc_id, perm
"""
_BANDS = f"""
    SELECT doc_id, perm // {BAND_ROWS} AS band,
           md5(string_agg(minhash::VARCHAR, '|' ORDER BY perm)) AS band_key
    FROM ({_SIGNATURES})
    GROUP BY doc_id, perm // {BAND_ROWS}
"""
_SIMHASH_DOCS = f"""
    WITH tokens AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        FROM documents
    ), th AS (
        SELECT doc_id,
               ('0x' || substr(md5(w), 1, 8))::BIGINT AS h
        FROM tokens WHERE w <> ''
    ), votes AS (
        SELECT doc_id, b,
               sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        FROM th, (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS b)
        GROUP BY doc_id, b
    )
    SELECT doc_id,
           sum(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT
               AS simhash
    FROM votes GROUP BY doc_id
"""

ORACLES = {
    "source_overlap_matrix": f"""
        WITH fps AS (
            SELECT md5({_CANON}) AS fp, source
            FROM documents GROUP BY 1, 2
        ), pairs AS (
            SELECT a.source AS source_a, b.source AS source_b, a.fp
            FROM fps a JOIN fps b
              ON a.fp = b.fp AND a.source < b.source
        )
        SELECT source_a, source_b,
               count(*)::BIGINT AS n_shared_contents
        FROM pairs GROUP BY source_a, source_b
    """,
    "snm_adjacent_pairs": f"""
        WITH toks AS (
            SELECT DISTINCT doc_id, w
            FROM (SELECT doc_id,
                         unnest(string_split_regex(lower(text), '\\s+'))
                             AS w
                  FROM documents)
            WHERE length(w) > 0
        ), sigs AS (
            SELECT doc_id, list(w ORDER BY w) AS ts
            FROM toks GROUP BY doc_id
        ), keyed AS (
            SELECT doc_id, ts, array_to_string(ts, ' ') AS key,
                   ts[1] AS block
            FROM sigs
        ), nbr AS (
            SELECT doc_id, ts,
                   lead(doc_id, 1) OVER win AS id1,
                   lead(ts, 1) OVER win AS ts1,
                   lead(doc_id, 2) OVER win AS id2,
                   lead(ts, 2) OVER win AS ts2
            FROM keyed
            WINDOW win AS (PARTITION BY block ORDER BY key, doc_id)
        ), pairs AS (
            SELECT doc_id AS a, id1 AS b, ts, ts1 AS tsb
            FROM nbr WHERE id1 IS NOT NULL
            UNION ALL
            SELECT doc_id, id2, ts, ts2
            FROM nbr WHERE id2 IS NOT NULL
        ), scored AS (
            SELECT least(a, b) AS doc_a, greatest(a, b) AS doc_b,
                   len(list_intersect(ts, tsb))
                       / (len(ts) + len(tsb)
                          - len(list_intersect(ts, tsb))) AS jac
            FROM pairs
        )
        SELECT doc_a, doc_b, round(jac, 4) AS jac
        FROM scored WHERE jac >= {SNM_THRESHOLD}
    """,
    "ngram_novelty": """
        WITH grams AS (
            SELECT DISTINCT doc_id,
                   array_to_string(w[i:i+2], ' ') AS g
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
                  FROM documents),
                 LATERAL (SELECT unnest(generate_series(1, len(w) - 2))
                          AS i)
            WHERE len(w) >= 3
        ), firsts AS (
            SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g
        )
        SELECT doc_id,
               count(*)::BIGINT AS n_grams,
               sum((first_doc = doc_id)::BIGINT)::BIGINT AS n_novel,
               round(sum((first_doc = doc_id)::BIGINT) / count(*), 4)
                   AS novelty_ratio
        FROM grams JOIN firsts USING (g)
        GROUP BY doc_id
    """,
    "dedup_exact": f"""
        SELECT md5({_CANON}) AS fp,
               min(doc_id) AS canonical_id, count(*) AS n_copies
        FROM documents GROUP BY 1
    """,
    "dedup_keep_best": f"""
        SELECT fp, doc_id AS keep_id, n_chars FROM (
            SELECT md5({_CANON}) AS fp, doc_id, n_chars,
                   row_number() OVER (
                       PARTITION BY md5({_CANON})
                       ORDER BY n_chars DESC, doc_id
                   ) AS rk
            FROM documents
        ) WHERE rk = 1
    """,
    "minhash_signatures": _SIGNATURES,
    "incremental_lsh_pairs": f"""
        WITH bands AS ({_BANDS}),
        sized AS (
            SELECT *, count(*) OVER (PARTITION BY band, band_key) AS bn
            FROM bands
        ), kept AS (SELECT * FROM sized WHERE bn <= {MAX_BUCKET})
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CASE WHEN a.doc_id % {SNAP_MOD} = 0
                     AND b.doc_id % {SNAP_MOD} = 0
                    THEN 'new-new' ELSE 'new-old' END AS pair_type
        FROM kept a JOIN kept b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
        WHERE a.doc_id % {SNAP_MOD} = 0 OR b.doc_id % {SNAP_MOD} = 0
    """,
    "minhash_lsh_pairs": f"""
        WITH bands AS ({_BANDS}),
        sized AS (
            SELECT *, count(*) OVER (PARTITION BY band, band_key) AS bn
            FROM bands
        ), kept AS (SELECT * FROM sized WHERE bn <= {MAX_BUCKET})
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM kept a JOIN kept b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    """,
    "simhash_docs": _SIMHASH_DOCS,
    "simhash_pairs": f"""
        WITH sims AS ({_SIMHASH_DOCS}),
        keyed AS (
            SELECT doc_id, simhash, j, (simhash >> (8 * j)) & 255 AS k
            FROM sims, (SELECT unnest(generate_series(0, 3)) AS j)
        ), pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.simhash AS sim_a, b.simhash AS sim_b
            FROM keyed a JOIN keyed b
              ON a.j = b.j AND a.k = b.k AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               bit_count(xor(sim_a, sim_b))::BIGINT AS hamming
        FROM pairs WHERE bit_count(xor(sim_a, sim_b)) <= {HAMMING_MAX}
    """,
    "ngram_jaccard_pairs": f"""
        WITH grams AS (
            SELECT DISTINCT doc_id,
                   array_to_string(list_slice(string_split(lower(text), ' '),
                                              i, i + 2), ' ') AS g
            FROM documents,
                 LATERAL (SELECT unnest(generate_series(
                     1, len(string_split(lower(text), ' ')) - 2)) AS i)
            WHERE len(string_split(lower(text), ' ')) >= 3
        ), rare AS (
            SELECT * FROM (
                SELECT *, count(*) OVER (PARTITION BY g) AS df FROM grams
            ) WHERE df <= {MAX_DOCFREQ}
        ), sizes AS (
            SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(inter / (na.n + nb.n - inter), 4) AS jaccard
        FROM inter
        JOIN sizes na ON inter.doc_a = na.doc_id
        JOIN sizes nb ON inter.doc_b = nb.doc_id
        WHERE round(inter / (na.n + nb.n - inter), 4) >= 0.2
    """,
    "ngram_containment_pairs": f"""
        WITH grams AS (
            SELECT DISTINCT doc_id,
                   array_to_string(list_slice(string_split(lower(text), ' '),
                                              i, i + 2), ' ') AS g
            FROM documents,
                 LATERAL (SELECT unnest(generate_series(
                     1, len(string_split(lower(text), ' ')) - 2)) AS i)
            WHERE len(string_split(lower(text), ' ')) >= 3
        ), rare AS (
            SELECT * FROM (
                SELECT *, count(*) OVER (PARTITION BY g) AS df FROM grams
            ) WHERE df <= {MAX_DOCFREQ}
        ), sizes AS (
            SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(inter / na.n, 4) AS cont_a_in_b,
               round(inter / nb.n, 4) AS cont_b_in_a
        FROM inter
        JOIN sizes na ON inter.doc_a = na.doc_id
        JOIN sizes nb ON inter.doc_b = nb.doc_id
        WHERE greatest(round(inter / na.n, 4),
                       round(inter / nb.n, 4)) >= {CONTAIN_MIN}
    """,
    "tfidf_cosine_pairs": f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\\s+'))
                       AS tok
            FROM documents
        ), toks_ne AS (
            SELECT doc_id, tok FROM toks WHERE length(tok) > 0
        ), tf AS (
            SELECT doc_id, tok, count(*) AS tf
            FROM toks_ne GROUP BY doc_id, tok
        ), nd AS (
            SELECT count(DISTINCT doc_id) AS n FROM documents
        ), idf AS (
            SELECT tok,
                   round(ln(n / df), 6)::DECIMAL(14,6) AS idf
            FROM (
                SELECT tok, count(DISTINCT doc_id) AS df
                FROM tf GROUP BY tok
            ), nd
            WHERE df <= {MAX_DOCFREQ}
        ), w AS (
            SELECT tf.doc_id, tf.tok,
                   tf.tf::DECIMAL(14,6) * idf.idf AS w
            FROM tf JOIN idf USING (tok)
        ), norms AS (
            SELECT doc_id, sum(w * w) AS sq FROM w GROUP BY doc_id
        ), wn AS (
            SELECT w.doc_id, w.tok, w.w, norms.sq
            FROM w JOIN norms USING (doc_id)
        ), pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.sq AS sqa, b.sq AS sqb,
                   sum(a.w * b.w) AS dot
            FROM wn a JOIN wn b
              ON a.tok = b.tok AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4
        )
        SELECT doc_a, doc_b,
               round(dot::DOUBLE
                     / (sqrt(sqa::DOUBLE) * sqrt(sqb::DOUBLE)), 4)
                   AS cos
        FROM pairs
        WHERE round(dot::DOUBLE
                    / (sqrt(sqa::DOUBLE) * sqrt(sqb::DOUBLE)), 4)
              >= {TFIDF_COS_MIN}
    """,
}

ORACLES["cross_snapshot_dedup"] = f"""
    WITH hashed AS (
        SELECT doc_id, md5({_CANON}) AS fp FROM documents
    )
    SELECT fp, doc_id
    FROM hashed n
    WHERE doc_id % {SNAP_MOD} = 0
      AND NOT EXISTS (
        SELECT 1 FROM hashed o
        WHERE o.doc_id % {SNAP_MOD} <> 0 AND o.fp = n.fp)
"""

_EDIT_SIM = (
    "round(1 - levenshtein(a.canon, b.canon)::DOUBLE"
    " / greatest(length(a.canon), length(b.canon)), 4)"
)

ORACLES["dedup_graph_triangles"] = f"""
    WITH lsh AS MATERIALIZED ({ORACLES["minhash_lsh_pairs"]}),
    pairs AS (SELECT doc_a, doc_b FROM lsh),
    tri AS (
        SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
        FROM pairs e1
        JOIN pairs e2 ON e1.doc_b = e2.doc_a
        JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ), tcounts AS (
        SELECT node, count(*)::BIGINT AS t FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY node
    ), deg AS (
        SELECT node, count(*)::BIGINT AS degree FROM (
            SELECT doc_a AS node FROM pairs
            UNION ALL SELECT doc_b FROM pairs
        ) GROUP BY node
    )
    SELECT node AS doc_id, degree,
           COALESCE(t, 0)::BIGINT AS triangles,
           round(2.0 * COALESCE(t, 0) / (degree * (degree - 1)), 4)
               AS clustering
    FROM deg LEFT JOIN tcounts USING (node)
    WHERE degree >= 2
"""

ORACLES["dedup_editdist_rerank"] = f"""
    WITH pairs AS ({ORACLES["minhash_lsh_pairs"]}),
    canon AS (SELECT doc_id, {_CANON} AS canon FROM documents)
    SELECT doc_a, doc_b,
           levenshtein(a.canon, b.canon)::BIGINT AS editdist,
           {_EDIT_SIM} AS edit_sim
    FROM pairs
    JOIN canon a ON pairs.doc_a = a.doc_id
    JOIN canon b ON pairs.doc_b = b.doc_id
    WHERE {_EDIT_SIM} >= {EDIT_SIM_MIN}
"""

ORACLES["fellegi_sunter_links"] = f"""
    WITH pairs AS ({ORACLES["minhash_lsh_pairs"]}),
    scored AS (
        SELECT pairs.doc_a, pairs.doc_b,
               a.lang = b.lang AS agree_lang,
               a.source = b.source AS agree_source,
               CAST(abs(a.n_chars - b.n_chars) AS DOUBLE)
                   <= {FS_LEN_TOL}
                      * CAST(greatest(a.n_chars, b.n_chars) AS DOUBLE)
                   AS agree_length,
               (CASE WHEN a.lang = b.lang
                     THEN {_FS_W["lang"][0]!r}
                     ELSE {_FS_W["lang"][1]!r} END
                + CASE WHEN a.source = b.source
                       THEN {_FS_W["source"][0]!r}
                       ELSE {_FS_W["source"][1]!r} END
                + CASE WHEN CAST(abs(a.n_chars - b.n_chars) AS DOUBLE)
                            <= {FS_LEN_TOL}
                               * CAST(greatest(a.n_chars, b.n_chars)
                                      AS DOUBLE)
                       THEN {_FS_W["length"][0]!r}
                       ELSE {_FS_W["length"][1]!r} END) AS score
        FROM pairs
        JOIN documents a ON pairs.doc_a = a.doc_id
        JOIN documents b ON pairs.doc_b = b.doc_id
    )
    SELECT doc_a, doc_b, agree_lang, agree_source, agree_length,
           round(score, 4) AS fs_score,
           CASE WHEN score >= {FS_T_MATCH} THEN 'match'
                WHEN score >= {FS_T_POSSIBLE} THEN 'possible'
                ELSE 'non_match' END AS decision
    FROM scored
"""

ORACLES["fellegi_sunter_em"] = f"""
    WITH links AS ({{FS_LINKS}}),
    flagged AS (
        SELECT *, CASE WHEN decision = 'match' THEN 1 ELSE 0 END
                      AS is_m
        FROM links
    ),
    stats AS (
        SELECT sum(is_m) AS n_match,
               count(*) - sum(is_m) AS n_non,
               sum(is_m * (CASE WHEN agree_lang THEN 1 ELSE 0 END))
                   AS ma_lang,
               sum((1 - is_m)
                   * (CASE WHEN agree_lang THEN 1 ELSE 0 END))
                   AS ua_lang,
               sum(is_m * (CASE WHEN agree_source THEN 1 ELSE 0 END))
                   AS ma_source,
               sum((1 - is_m)
                   * (CASE WHEN agree_source THEN 1 ELSE 0 END))
                   AS ua_source,
               sum(is_m * (CASE WHEN agree_length THEN 1 ELSE 0 END))
                   AS ma_length,
               sum((1 - is_m)
                   * (CASE WHEN agree_length THEN 1 ELSE 0 END))
                   AS ua_length
        FROM flagged
    ),
    unp AS (
        SELECT 'lang' AS field, n_match, n_non,
               (ma_lang + 1.0) / (n_match + 2.0) AS m_hat,
               (ua_lang + 1.0) / (n_non + 2.0) AS u_hat
        FROM stats
        UNION ALL
        SELECT 'source', n_match, n_non,
               (ma_source + 1.0) / (n_match + 2.0),
               (ua_source + 1.0) / (n_non + 2.0)
        FROM stats
        UNION ALL
        SELECT 'length', n_match, n_non,
               (ma_length + 1.0) / (n_match + 2.0),
               (ua_length + 1.0) / (n_non + 2.0)
        FROM stats
    )
    SELECT field, n_match::BIGINT AS n_match, n_non::BIGINT AS n_non,
           round(m_hat, {FS_EM_ROUND}) AS m_hat,
           round(u_hat, {FS_EM_ROUND}) AS u_hat,
           round(log2(m_hat / u_hat), {FS_EM_ROUND}) AS w_agree,
           round(log2((1.0 - m_hat) / (1.0 - u_hat)), {FS_EM_ROUND})
               AS w_disagree
    FROM unp
"""
ORACLES["fellegi_sunter_em"] = ORACLES["fellegi_sunter_em"].replace(
    "{FS_LINKS}", ORACLES["fellegi_sunter_links"]
)

NO_ORACLE: dict[str, str] = {}

# PageRank as a recursive CTE: the engine's per-round sums are EXACT
# (DECIMAL(38,30)-snapped terms), so each engine's 8-round iteration is
# partition-order-independent, and the engines agree to ~1 ulp (see
# the operator docstring for why not bit-exact: shortest-repr vs
# binary-exact double→decimal casts); the 8dp snap_round makes the
# graded output identical outside a ~1e-9-per-row boundary risk. The
# recursion replays the rounds at (iter, node) grain — the dangling-
# mass and per-node contribution subqueries read the previous
# iteration's working table. Double constants are repr-interpolated on
# both sides (DuckDB literal 1.0-0.85 would evaluate in exact decimal,
# Python gets 0.15000000000000002).
_PR_BASE1 = repr((1.0 - PR_DAMPING))
_PR_D = repr(PR_DAMPING)
ORACLES["pagerank_near_dup"] = f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({ORACLES["minhash_lsh_pairs"]}),
    edges AS MATERIALIZED (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION
        SELECT doc_b AS s, doc_a AS d FROM pairs
    ),
    dg AS (SELECT s, count(*) AS deg FROM edges GROUP BY s),
    ew AS MATERIALIZED (
        SELECT e.s, e.d, CAST(1.0 AS DOUBLE) / dg.deg AS w
        FROM edges e JOIN dg USING (s)
    ),
    lk AS MATERIALIZED (SELECT DISTINCT s FROM ew),
    nnn AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM documents),
    pr AS (
        SELECT 0 AS it, doc_id AS node,
               CAST(1.0 AS DOUBLE) / n AS rank
        FROM documents, nnn
        UNION ALL
        SELECT s.it2, d0.doc_id AS node,
               CAST('{_PR_BASE1}' AS DOUBLE) / nnn.n
               + CAST('{_PR_D}' AS DOUBLE) * s.dang / nnn.n
               + CAST('{_PR_D}' AS DOUBLE) * coalesce(c.c, 0.0)
                   AS rank
        FROM documents d0
        CROSS JOIN nnn
        CROSS JOIN (
            SELECT max(it) + 1 AS it2,
                   coalesce(CAST(sum(CASE WHEN node NOT IN
                                (SELECT s FROM lk)
                                THEN CAST(rank AS DECIMAL(38,30)) END)
                        AS DOUBLE), 0.0) AS dang
            FROM pr
        ) s
        LEFT JOIN (
            SELECT w2.d,
                   CAST(sum(CAST(r2.rank * w2.w AS DECIMAL(38,30)))
                        AS DOUBLE) AS c
            FROM pr r2 JOIN ew w2 ON w2.s = r2.node
            GROUP BY w2.d
        ) c ON c.d = d0.doc_id
        WHERE s.it2 <= {PR_ITERS}
    )
    SELECT node AS doc_id, {snap_round_sql("rank", 8)} AS rank
    FROM pr WHERE it = {PR_ITERS}
"""

# k-core IS oracle-able after all: the k-core is the UNIQUE maximal
# subgraph with min degree >= k, and the parallel peel (drop every
# node below k, recompute, repeat) reaches it from any schedule — so a
# recursive CTE that carries the surviving NODE SET as a LIST column
# and re-filters the edge table against it each iteration replays the
# engine's loop exactly (same trick as the isotonic PAV stack; the
# per-iteration degree re-aggregation lives in a LATERAL subquery
# correlated on the carried list, not in a self-reference). The
# pure-Python peel reference in tests/test_llm.py stays as the third
# independent implementation.
ORACLES["kcore_near_dup"] = f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({ORACLES["minhash_lsh_pairs"]}),
    edges AS MATERIALIZED (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION
        SELECT doc_b AS s, doc_a AS d FROM pairs
    ),
    peel AS (
        SELECT 0 AS it,
               (SELECT coalesce(list(DISTINCT s ORDER BY s),
                                CAST([] AS BIGINT[]))
                FROM edges) AS nodes
        UNION ALL
        SELECT p.it + 1, l.nodes2
        FROM peel p, LATERAL (
            SELECT coalesce(list(s ORDER BY s), CAST([] AS BIGINT[]))
                       AS nodes2
            FROM (
                SELECT e.s FROM edges e
                WHERE list_contains(p.nodes, e.s)
                  AND list_contains(p.nodes, e.d)
                GROUP BY e.s HAVING count(*) >= {KCORE_K}
            )
        ) l
        WHERE l.nodes2 <> p.nodes
    ),
    fin AS (
        SELECT nodes FROM peel ORDER BY it DESC LIMIT 1
    )
    SELECT e.s AS doc_id, count(*)::BIGINT AS core_degree
    FROM edges e, fin
    WHERE list_contains(fin.nodes, e.s)
      AND list_contains(fin.nodes, e.d)
    GROUP BY e.s
"""

ORACLES["dedup_cluster_labels"] = f"""
    WITH pairs AS MATERIALIZED ({ORACLES["minhash_lsh_pairs"]}),
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
        UNION ALL SELECT doc_id, doc_id FROM documents
    ),
    l0 AS (SELECT doc_id, doc_id AS label FROM documents),
    l1 AS (SELECT e.d AS doc_id, min(l0.label) AS label
           FROM edges e JOIN l0 ON e.s = l0.doc_id GROUP BY e.d),
    l2 AS (SELECT e.d AS doc_id, min(l1.label) AS label
           FROM edges e JOIN l1 ON e.s = l1.doc_id GROUP BY e.d),
    l3 AS (SELECT e.d AS doc_id, min(l2.label) AS label
           FROM edges e JOIN l2 ON e.s = l2.doc_id GROUP BY e.d)
    SELECT doc_id, label AS cluster_id FROM l3
"""

ORACLES["dedup_connected_components"] = f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({ORACLES["minhash_lsh_pairs"]}),
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, comp) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, r.comp FROM reach r JOIN edges e ON r.node = e.s
    )
    SELECT node AS doc_id, min(comp)::BIGINT AS cluster_id
    FROM reach GROUP BY node
"""

# the second registry name of the same star-contraction path
ORACLES["dedup_cc_star"] = ORACLES["dedup_connected_components"]

# NOTE on the fingerprint gap (applies to this oracle AND the
# duplicate_spans / cut_duplicate_spans oracles below): the oracles
# group RAW gram strings — the collision-FREE ideal — while the Spark
# side counts/joins xxhash64 fingerprints of the same grams. A 64-bit
# collision would pool two distinct grams' occurrence counts under the
# cap filter (p ≈ n²/2⁶⁵ for n distinct grams; ~3% at n = 10⁹, nil at
# fixture scale), and a false REPORTED run needs ESS_MIN_RUN - ESS_K +
# 1 consecutive colliding diagonal positions (p < 10⁻¹⁰⁰). The
# divergence is structural but unobservable; the collision math lives
# in exact_substring_matches' scan-stage comment.
ORACLES["exact_substring_matches"] = f"""
    WITH t AS (
        SELECT doc_id, lower(text) AS t FROM documents
        WHERE length(lower(text)) >= {ESS_K}
    ), g AS (
        SELECT doc_id, i::BIGINT AS pos, substr(t, i, {ESS_K}) AS g
        FROM t,
             LATERAL (SELECT unnest(generate_series(
                 1, length(t) - {ESS_K - 1})) AS i)
    ), capped AS (
        SELECT * FROM (
            SELECT *, count(*) OVER (PARTITION BY g) AS oc FROM g
        ) WHERE oc <= {ESS_MAX_OCC}
    ), m AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pos_a, b.pos AS pos_b,
               a.pos - b.pos AS diag
        FROM capped a JOIN capped b USING (g)
        WHERE a.doc_id < b.doc_id
    ), isl AS (
        SELECT *, pos_a - row_number() OVER (
            PARTITION BY doc_a, doc_b, diag ORDER BY pos_a
        ) AS island FROM m
    )
    SELECT doc_a, doc_b,
           min(pos_a)::BIGINT AS a_start,
           min(pos_b)::BIGINT AS b_start,
           (max(pos_a) - min(pos_a) + {ESS_K})::BIGINT AS run_len
    FROM isl GROUP BY doc_a, doc_b, diag, island
    HAVING max(pos_a) - min(pos_a) + {ESS_K} >= {ESS_MIN_RUN}
"""

ORACLES["duplicate_spans"] = f"""
    WITH t AS (
        SELECT doc_id, lower(text) AS t FROM documents
        WHERE length(lower(text)) >= {ESS_K}
    ), g AS (
        SELECT doc_id, i::BIGINT AS pos, substr(t, i, {ESS_K}) AS g
        FROM t,
             LATERAL (SELECT unnest(generate_series(
                 1, length(t) - {ESS_K - 1})) AS i)
    ), dup AS (
        SELECT g FROM g GROUP BY g HAVING count(*) >= 2
    ), hit AS (
        SELECT doc_id, pos FROM g JOIN dup USING (g)
    ), isl AS (
        SELECT doc_id, pos, pos - row_number() OVER (
            PARTITION BY doc_id ORDER BY pos
        ) AS island FROM hit
    )
    SELECT doc_id,
           min(pos)::BIGINT AS span_start,
           (max(pos) - min(pos) + {ESS_K})::BIGINT AS span_len
    FROM isl GROUP BY doc_id, island
    HAVING max(pos) - min(pos) + {ESS_K} >= {ESS_MIN_RUN}
"""

ORACLES["cut_duplicate_spans"] = f"""
    WITH d AS (
        SELECT doc_id, lower(text) AS t FROM documents
    ), tk AS (
        SELECT doc_id, t FROM d WHERE length(t) >= {ESS_K}
    ), g AS (
        SELECT doc_id, i::BIGINT AS pos, substr(t, i, {ESS_K}) AS g
        FROM tk,
             LATERAL (SELECT unnest(generate_series(
                 1, length(t) - {ESS_K - 1})) AS i)
    ), dup AS (
        SELECT g FROM g GROUP BY g HAVING count(*) >= 2
    ), hit AS (
        SELECT doc_id, pos FROM g JOIN dup USING (g)
    ), isl AS (
        SELECT doc_id, pos, pos - row_number() OVER (
            PARTITION BY doc_id ORDER BY pos
        ) AS island FROM hit
    ), spans AS (
        SELECT doc_id, min(pos) AS ms0, max(pos) + {ESS_K - 1} AS me0
        FROM isl GROUP BY doc_id, island
        HAVING max(pos) - min(pos) + {ESS_K} >= {ESS_MIN_RUN}
    ), flag AS (
        SELECT doc_id, ms0, me0,
               CASE WHEN ms0 > coalesce(max(me0) OVER (
                   PARTITION BY doc_id ORDER BY ms0
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) THEN 1 ELSE 0 END AS ng
        FROM spans
    ), grp AS (
        SELECT *, sum(ng) OVER (
            PARTITION BY doc_id ORDER BY ms0
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS grp FROM flag
    ), merged AS (
        SELECT doc_id, min(ms0) AS ms, max(me0) AS me
        FROM grp GROUP BY doc_id, grp
    ), stats AS (
        SELECT doc_id, count(*)::BIGINT AS n_spans,
               sum(me - ms + 1)::BIGINT AS chars_cut
        FROM merged GROUP BY doc_id
    ), segs AS (
        SELECT doc_id,
               coalesce(lag(me) OVER (
                   PARTITION BY doc_id ORDER BY ms
               ), 0) + 1 AS ss,
               ms - 1 AS se
        FROM merged
        UNION ALL
        SELECT doc_id, max(me) + 1 AS ss, NULL AS se
        FROM merged GROUP BY doc_id
    ), agg AS (
        SELECT s.doc_id,
               string_agg(
                   substr(d.t, ss::INT,
                          (coalesce(se, length(d.t)) - ss + 1)::INT),
                   '' ORDER BY ss
               ) AS txt
        FROM segs s JOIN d USING (doc_id) GROUP BY s.doc_id
    )
    SELECT d.doc_id,
           coalesce(x.n_spans, 0)::BIGINT AS n_spans,
           coalesce(x.chars_cut, 0)::BIGINT AS chars_cut,
           length(coalesce(a.txt, d.t))::BIGINT AS clean_len,
           md5(coalesce(a.txt, d.t)) AS clean_fp
    FROM d LEFT JOIN stats x USING (doc_id)
           LEFT JOIN agg a USING (doc_id)
"""

ORACLES["chunk_dedup_reassemble"] = f"""
    WITH w AS (
        SELECT doc_id, i, list_extract(ws, i) AS word
        FROM (SELECT doc_id, string_split(text, ' ') AS ws
              FROM documents),
             LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ),
    c AS (
        SELECT doc_id, (i - 1) // {CHUNK_WORDS} AS idx,
               string_agg(word, ' ' ORDER BY i) AS chunk
        FROM w GROUP BY 1, 2
    ),
    f AS (SELECT chunk, count(*) AS n FROM c GROUP BY 1)
    SELECT c.doc_id,
           string_agg(c.chunk, ' ' ORDER BY c.idx) AS cleaned_text,
           count(*)::BIGINT AS kept_chunks
    FROM c JOIN f USING (chunk)
    WHERE f.n <= {CHUNK_MAX_FREQ}
    GROUP BY c.doc_id
"""

ORACLES["lsh_bucket_stats"] = f"""
    WITH sizes AS (
        SELECT band, band_key, count(*) AS sz
        FROM ({_BANDS}) GROUP BY band, band_key
    )
    SELECT band,
           count(*) AS n_buckets,
           max(sz) AS max_bucket,
           sum((sz >= 2)::INT)::BIGINT AS n_candidate_buckets,
           sum((sz > {MAX_BUCKET})::INT)::BIGINT AS n_capped_buckets,
           sum(CASE WHEN sz > {MAX_BUCKET} THEN sz ELSE 0 END)::BIGINT
               AS doc_slots_excluded
    FROM sizes GROUP BY band
"""

ORACLES["dedup_decision_matrix"] = f"""
    WITH exact AS ({ORACLES["dedup_exact"]}),
    fp AS (SELECT doc_id, md5({_CANON}) AS fp FROM documents),
    cc AS ({ORACLES["dedup_connected_components"]})
    SELECT fp.doc_id,
           fp.doc_id = exact.canonical_id AS is_exact_canonical,
           exact.n_copies AS exact_copies,
           cc.cluster_id AS near_cluster_id,
           fp.doc_id = cc.cluster_id AS is_near_canonical
    FROM fp
    JOIN exact USING (fp)
    JOIN cc ON cc.doc_id = fp.doc_id
"""

ORACLES["cluster_examples"] = f"""
    WITH cc AS ({ORACLES["dedup_connected_components"]})
    SELECT cluster_id, count(*) AS n_members,
           array_to_string(
               list_sort(list(doc_id))[1:{EXAMPLES_PER_CLUSTER}], ',')
               AS examples
    FROM cc GROUP BY cluster_id HAVING count(*) >= 2
"""

ORACLES["chunk_copy_pairs"] = f"""
    WITH w AS (
        SELECT doc_id, i, list_extract(ws, i) AS word
        FROM (SELECT doc_id, string_split(text, ' ') AS ws
              FROM documents),
             LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ),
    c AS (
        SELECT DISTINCT doc_id,
               md5(string_agg(word, ' ' ORDER BY i)) AS chunk_fp
        FROM w GROUP BY doc_id, (i - 1) // {CHUNK_WORDS}
    ),
    sized AS (
        SELECT *, count(*) OVER (PARTITION BY chunk_fp) AS bn FROM c
    ),
    kept AS (SELECT * FROM sized WHERE bn BETWEEN 2 AND {MAX_BUCKET})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*) AS shared_chunks
    FROM kept a JOIN kept b
      ON a.chunk_fp = b.chunk_fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
"""

ORACLES["lsh_eval_vs_exact"] = f"""
    WITH fp AS (SELECT doc_id, md5({_CANON}) AS fp FROM documents),
    exact_pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ),
    lsh AS MATERIALIZED ({ORACLES["minhash_lsh_pairs"]}),
    stats AS (
        SELECT (SELECT count(*) FROM exact_pairs)::BIGINT AS n_exact_pairs,
               (SELECT count(*) FROM lsh)::BIGINT AS n_lsh_pairs,
               (SELECT count(*) FROM exact_pairs e
                JOIN lsh l ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b
               )::BIGINT AS n_overlap
    )
    SELECT n_exact_pairs, n_lsh_pairs, n_overlap,
           CASE WHEN n_exact_pairs = 0 THEN 1.0
                ELSE round(n_overlap / n_exact_pairs, 6) END
               AS recall_of_exact
    FROM stats
"""
