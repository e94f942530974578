"""Text-analysis operators for training-data pipelines (engine-added
capability beyond reference parity — SURVEY §7.7).

All operators are pure built-in-function DataFrame plans (JVM-side,
whole-stage-codegen) — no Python UDFs in any hot path. Each is
oracle-checked against DuckDB with bit-identical logic.

Scale posture: every query here is scan → narrow per-row compute →
(optionally) one partial-aggregated groupBy. Language-ID joins the
token stream against a ~40-row broadcast stopword table; nothing
shuffles more than group cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table, spread
from ..functions.numeric import nz, snap_round

# Tiny per-language stopword lists (public knowledge). Single source of
# truth for BOTH the Spark plan and the generated oracle SQL.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "of", "and", "to", "in", "is", "was", "that"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "se"),
    "fr": ("le", "les", "des", "et", "une", "un", "du", "dans"),
    "de": ("der", "die", "und", "das", "nicht", "von", "mit", "ist"),
}

# BPE-ish tokenizer: letter runs, single digits, or single punctuation
# marks — portable between Java regex (Spark) and RE2 (DuckDB).
BPE_ISH = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

_COMMON_EN = "|".join(STOPWORDS["en"])


def _stopword_values_sql() -> str:
    rows = ", ".join(
        f"('{lang}', '{w}')" for lang, ws in STOPWORDS.items() for w in ws
    )
    return f"(VALUES {rows}) AS sw(lang, word)"


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counts per document."""
    d = spread(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_ISH), F.lit(0)))
        .cast("long")
        .alias("bpe_tokens"),
    )


def token_count_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token budget per source — the "how many tokens do I
    have" pipeline question, partial-aggregated map-side."""
    d = spread(load_table(spark, sf_dir, "documents"))
    return (
        d.select(
            "source",
            F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("t"),
        )
        .groupBy("source")
        .agg(
            F.sum("t").alias("total_tokens"),
            F.avg("t").alias("avg_tokens"),
            F.count("*").alias("n_docs"),
        )
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: token count, mean token length,
    punctuation ratio, common-stopword ratio — the standard cheap
    quality-filter features for pretraining corpora."""
    d = spread(load_table(spark, sf_dir, "documents"))
    n_tokens = F.size(F.split(F.trim("text"), r"\s+")).cast("double")
    n_chars = F.length("text").cast("double")
    n_nospace = F.length(F.regexp_replace("text", r"\s", "")).cast("double")
    n_alnum_sp = F.length(
        F.regexp_replace("text", r"[^A-Za-z0-9\s]", "")
    ).cast("double")
    n_stop = F.size(
        F.regexp_extract_all(
            F.lower("text"), F.lit(rf"\b({_COMMON_EN})\b"), F.lit(0)
        )
    ).cast("double")
    return d.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.round(n_nospace / nz(n_tokens), 4).alias("avg_token_len"),
        F.round((n_chars - n_alnum_sp) / nz(n_chars), 4)
        .alias("punct_ratio"),
        F.round(n_stop / nz(n_tokens), 4).alias("stopword_ratio"),
    )


# Gopher-style repetition/quality rule thresholds (Rae et al. 2021,
# "Scaling Language Models: ... Gopher", Table A1 — public knowledge).
# Bounds are tuned down to the synthetic fixture's short docs so both
# outcomes of every rule occur in the data (a rule that always passes
# tests nothing).
GOPHER_MIN_WORDS = 40
GOPHER_MAX_WORDS = 100_000
GOPHER_WORD_LEN_LO = 4.2        # fixture mean-word-len spans 3.7-5.3
GOPHER_WORD_LEN_HI = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1   # '#' or '...' per word
GOPHER_MIN_ALPHA_FRAC = 0.8     # words containing a letter
GOPHER_MIN_STOPHITS = 2         # distinct required stopwords present
GOPHER_REQUIRED = ("the", "a", "and", "of", "to", "that", "have", "with")


def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules as one narrow projection:
    word-count bounds, mean-word-length band, symbol-to-word ratio,
    alphabetic-word fraction, and required-stopword presence — each as
    its own boolean flag plus the conjunctive ``keep``. This is the
    standard pretraining-corpus quality gate (the rule set Gopher /
    MassiveText published; cite above), run BEFORE dedup so junk never
    costs a shuffle.

    Scale posture: scan → per-row regex/array expressions only
    (whole-stage codegen, no UDFs, no shuffle, no join) — the filter
    is embarrassingly parallel and pushes the keep predicate to the
    scan when used as a WHERE."""
    d = spread(load_table(spark, sf_dir, "documents"))
    words = F.split(F.trim(F.lower("text")), r"\s+")
    n_words = F.size(words).cast("double")
    mean_len = F.length(F.regexp_replace("text", r"\s", "")) / n_words
    n_sym = F.size(
        F.regexp_extract_all("text", F.lit(r"#|\.\.\."), F.lit(0))
    ).cast("double")
    n_alpha = F.size(
        F.filter(words, lambda w: w.rlike("[a-z]"))
    ).cast("double")
    stop_hits = sum(
        F.array_contains(words, w).cast("int") for w in GOPHER_REQUIRED
    )
    flags = d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.round(mean_len, 4).alias("mean_word_len"),
        F.round(n_sym / n_words, 4).alias("symbol_ratio"),
        F.round(n_alpha / n_words, 4).alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
    )
    return flags.select(
        "*",
        F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS).alias(
            "pass_word_count"
        ),
        F.col("mean_word_len")
        .between(GOPHER_WORD_LEN_LO, GOPHER_WORD_LEN_HI)
        .alias("pass_word_len"),
        (F.col("symbol_ratio") <= GOPHER_MAX_SYMBOL_RATIO).alias(
            "pass_symbols"
        ),
        (F.col("alpha_frac") >= GOPHER_MIN_ALPHA_FRAC).alias("pass_alpha"),
        (F.col("stop_hits") >= GOPHER_MIN_STOPHITS).alias("pass_stopwords"),
    ).select(
        "*",
        (
            F.col("pass_word_count")
            & F.col("pass_word_len")
            & F.col("pass_symbols")
            & F.col("pass_alpha")
            & F.col("pass_stopwords")
        ).alias("keep"),
    )


def langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID: per-language hit counts as parallel
    conditional sums of ONE groupBy(doc_id) (the stopword lists are
    literals, so no join is needed), argmax via greatest + a when-chain
    in ascending language order (deterministic tie-break); 'unknown'
    when nothing hits.

    Single shuffle, no window, no join-back: split() always yields at
    least one token, so the explode covers every document."""
    d = spread(load_table(spark, sf_dir, "documents"))
    tokens = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word")
    )
    langs = sorted(STOPWORDS)
    counts = [
        F.sum(
            F.when(F.col("word").isin(*STOPWORDS[lang]), 1).otherwise(0)
        ).alias(f"n_{lang}")
        for lang in langs
    ]
    wide = tokens.groupBy("doc_id").agg(*counts)
    best = F.greatest(*[F.col(f"n_{lang}") for lang in langs])
    pred = F.lit("unknown")
    for lang in reversed(langs):  # ascending order wins ties
        pred = F.when(
            (best > 0) & (F.col(f"n_{lang}") == best), F.lit(lang)
        ).otherwise(pred)
    return wide.select(
        "doc_id",
        pred.alias("pred_lang"),
        best.cast("long").alias("hits"),
    )


def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation surface: the confusion matrix of
    ``langid_heuristic`` against the labeled ``lang`` column, with each
    cell's share of its true-language row — the per-class recall
    diagonal and the specific confusions (es→unknown? fr→es?) that an
    aggregate accuracy number hides. The eval pattern any model-backed
    filter (quality_classifier, langid) plugs into before gating a
    corpus on its predictions.

    One doc-grain join of predictions onto labels (both sides already
    keyed by doc_id), one cell-grain aggregate, one window over the
    bounded |langs|² cell frame."""
    pred = langid_heuristic(spark, sf_dir).select("doc_id", "pred_lang")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("true_lang")
    )
    cm = (
        d.join(pred, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n"))
    )
    wt = Window.partitionBy("true_lang")
    return cm.select(
        "true_lang",
        "pred_lang",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(wt), 6
        ).alias("share_of_true"),
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form fingerprint: lowercase, collapse whitespace, md5 —
    the exact-dedup key that survives formatting noise."""
    d = spread(load_table(spark, sf_dir, "documents"))
    canon = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    return d.select("doc_id", F.md5(canon).alias("fingerprint"))


MIN_TOKENS = 20
MAX_PUNCT = 0.2


def clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data filter — the composition a real corpus
    pipeline runs: keep only the CANONICAL copy of each document
    (exact-dedup winner), with enough tokens, low punctuation noise,
    and a confident language id. Built by composing the other declared
    operators on doc_id (each stage stays one shuffle; the joins all
    key on doc_id so AQE can coalesce them)."""
    from . import dedup  # noqa: PLC0415

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    canon = dedup.dedup_exact(spark, sf_dir).select(
        F.col("canonical_id").alias("doc_id")
    )
    q = text_quality(spark, sf_dir).select(
        "doc_id", "n_tokens", "punct_ratio"
    )
    lid = langid_heuristic(spark, sf_dir).select("doc_id", "pred_lang")
    return (
        d.join(canon, on="doc_id")
        .join(q, on="doc_id")
        .join(lid, on="doc_id")
        .filter(
            (F.col("n_tokens") >= MIN_TOKENS)
            & (F.col("punct_ratio") <= MAX_PUNCT)
            & (F.col("pred_lang") != "unknown")
        )
        .select("doc_id", "source", "pred_lang", "n_tokens")
    )


SEQ_LEN = 2048      # packing target context length (tokens)
CHUNK_WORDS = 50    # chunk width (words)
CHUNK_STRIDE = 40   # chunk stride (words) -> 10-word overlap


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed-size training
    contexts by cumulative token count per source (greedy in a
    deterministic doc_id order). pack_id = which SEQ_LEN-token bin the
    document STARTS in — the shuffle-once (window by source) version of
    the packing stage every pretraining pipeline runs before writing
    examples."""
    from pyspark.sql.window import Window

    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return toks.select(
        "doc_id",
        "source",
        "n_tok",
        ((F.sum("n_tok").over(w) - F.col("n_tok")) / SEQ_LEN)
        .cast("long")
        .alias("pack_id"),
    )


def pack_sequences_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the packed training sequences: for every
    (source, pack_id) bin from ``pack_sequences``, the member count,
    token total, and an md5 fingerprint of the concatenated text in
    doc_id order — what actually gets written as a training example
    (fingerprint instead of the raw concat keeps the declared result
    compact; the writer variant emits the text itself).

    One join back to the documents on doc_id (both sides already hash-
    partitioned on it) and one groupBy per bin; in-bin order is restored
    with array_sort over (doc_id, text) structs, no global sort."""
    packs = pack_sequences(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        packs.join(d, on="doc_id")
        .groupBy("source", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("doc_id", "text"))
                        ),
                        lambda s: s.text,
                    ),
                    " ",
                )
            ).alias("text_fp"),
        )
    )


def quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source score calibration: a raw quality proxy (n_chars)
    means different things in different sources, so mixing decisions
    use each document's PERCENTILE WITHIN ITS SOURCE next to its global
    percentile; the gap quantifies how mis-calibrated a global
    threshold would be per source (quantile normalization, the step
    before any cross-source quality cutoff).

    Two window passes — one per-source, one global. The global
    percent_rank is the only total-order stage; at 100 TB replace it
    with approx-quantile bucketing (the per-source windows keep their
    hash partitioning either way)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    w_src = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    w_all = Window.orderBy("n_chars", "doc_id")
    return d.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(F.percent_rank().over(w_src), 6).alias("pct_in_source"),
        F.round(F.percent_rank().over(w_all), 6).alias("pct_global"),
    ).select(
        "*",
        F.round(F.col("pct_in_source") - F.col("pct_global"), 6).alias(
            "calibration_gap"
        ),
    )


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-width chunking (the RAG / long-doc
    pretraining splitter): CHUNK_WORDS-word windows every CHUNK_STRIDE
    words, md5 per chunk. Map-side explode — no shuffle; the word array
    is materialized once per doc before the chunk lambda slices it."""
    d = spread(load_table(spark, sf_dir, "documents"))
    words = d.select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("ws")
    )
    n_chunks = (
        f"greatest(cast(ceil((size(ws) - {CHUNK_WORDS}) / "
        f"{CHUNK_STRIDE} + 1) AS int), 1)"
    )
    return words.selectExpr(
        "doc_id",
        f"posexplode(transform(sequence(1, {n_chunks}), "
        f"i -> md5(array_join(slice(ws, (i - 1) * {CHUNK_STRIDE} + 1, "
        f"{CHUNK_WORDS}), ' ')))) AS (chunk_idx, chunk_md5)",
    ).selectExpr("doc_id", "cast(chunk_idx AS long) AS chunk_idx", "chunk_md5")


def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the character distribution per document — the
    cheap perplexity proxy corpus filters use to drop binary junk
    (entropy ~ 0 or ~ log2(256)) and boilerplate. chars explode →
    one groupBy(doc_id, ch) count → entropy aggregate; both shuffles
    carry at most |alphabet| rows per doc."""
    d = spread(load_table(spark, sf_dir, "documents"))
    chars = d.selectExpr(
        "doc_id",
        "explode(transform(sequence(1, length(text)), "
        "i -> substring(text, i, 1))) AS ch",
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("n"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("n").alias("total"),
            F.sum(F.expr("n * log2(n)")).alias("nlogn"),
        )
        .select(
            "doc_id",
            F.round(
                F.expr("log2(total) - nlogn / total"), 4
            ).alias("entropy_bits"),
        )
    )


TOPK_TOKENS = 20


def heavy_hitters_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide heavy hitters: the TOPK_TOKENS most frequent
    lowercase tokens with occurrence and document frequencies — the
    word-count that seeds stopword lists and boilerplate detectors.

    Scale posture: explode is narrow; the groupBy(token) is map-side
    partial-aggregated so the shuffle carries one row per (task, token
    in vocabulary), not per occurrence; top-k is TakeOrdered over
    vocabulary-sized agg output with a deterministic tie-break."""
    d = spread(load_table(spark, sf_dir, "documents"))
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("t")
    ).filter(F.length("t") > 0)
    return (
        tok.groupBy(F.col("t").alias("token"))
        .agg(
            F.count("*").alias("n_occur"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occur"), "token")
        .limit(TOPK_TOKENS)
    )


TFIDF_TOPK = 5


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top terms per source: term frequency per document,
    corpus document frequency, score = Σ_docs tf · ln(N/df), top-5
    tokens per source with a deterministic (score desc, token asc)
    tie-break — the characteristic-vocabulary probe that separates a
    web-crawl source from a books source.

    Scale posture: two partial-agg shuffles at (doc, token) and
    (token) grain — both carry vocabulary-bounded rows, never
    occurrences; N is a scalar; the final top-k window partitions by
    source (source cardinality ≈ a handful), after an agg that has
    already collapsed to |sources|×|vocab| rows.

    CACHING: the (doc, source, token) tf frame is ``persist()``-ed
    with session lifetime (same posture as tfidf_cosine_pairs' tf
    cache): its two consumers — document frequency and the scoring
    join — each re-ran the corpus tokenize + aggregate before round
    10. Loop callers release it with ``spark.catalog.clearCache()``,
    bench.py's cold-per-run protocol."""
    d = spread(load_table(spark, sf_dir, "documents"))
    n_docs = d.count()
    tf = (
        d.select(
            "doc_id",
            "source",
            F.explode(F.split(F.lower("text"), r"\s+")).alias("token"),
        )
        .filter(F.length("token") > 0)
        .groupBy("doc_id", "source", "token")
        .agg(F.count("*").alias("tf"))
        .persist()
    )
    df_ = tf.groupBy("token").agg(
        F.countDistinct("doc_id").alias("docfreq")
    )
    scored = (
        # vocab ≪ corpus (the same trade unigram_surprisal documents):
        # broadcasting df avoids re-shuffling the (doc, token) frame
        tf.join(F.broadcast(df_), "token")
        .groupBy("source", "token")
        .agg(
            F.round(
                F.sum(
                    F.col("tf")
                    * F.log(F.lit(float(n_docs)) / nz(F.col("docfreq")))
                ),
                4,
            ).alias("score")
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("score"), "token")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_TOPK)
        .select("source", "token", "score", "rk")
    )


MIN_BIGRAM = 5  # collocation support floor (drops one-off noise pairs)


def pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram collocations by pointwise mutual information:
    PMI(w1,w2) = ln(c(w1,w2)·U / (c(w1)·c(w2))) over adjacent lowercase
    token pairs, U = total token count — the association score that
    finds multi-word expressions ("new york") for tokenizer vocab and
    boilerplate phrase detection.

    Scale posture: bigram extraction is doc-local (one pass over the
    cached token array — no self-join on position); both groupBys are
    map-side partial-aggregated so the shuffles carry
    vocabulary-bounded rows, not occurrences; the unigram side joins
    back broadcast (a vocabulary fits in memory at any corpus scale);
    the corpus total is a 1-row broadcast.

    CACHING: the vocab-grain unigram counts are ``persist()``-ed with
    session lifetime (three consumers below — the corpus total and
    both broadcast legs — each re-ran the corpus tokenize + aggregate
    before round 10); vocab-grain is bounded at any corpus scale, and
    loop callers release it with ``spark.catalog.clearCache()``
    exactly as bench.py's cold-per-run protocol does."""
    d = spread(load_table(spark, sf_dir, "documents"))
    ws = d.select(F.split(F.lower("text"), r"\s+").alias("ws"))
    uni = (
        ws.select(F.explode("ws").alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("uc"))
        .persist()
    )
    tot = uni.agg(F.sum("uc").cast("double").alias("total_u"))
    bi = (
        ws.filter(F.size("ws") >= 2)
        .select(
            F.explode(
                F.expr(
                    # total expression: greatest() keeps sequence()
                    # ascending and try_element_at keeps the i + 1
                    # probe from an ANSI INVALID_ARRAY_INDEX on the
                    # 1-word rows the size filter discards — both
                    # no-ops on surviving rows (see the
                    # ngram_jaccard_pairs hoisting note)
                    "transform(sequence(1, greatest(size(ws) - 1, 1)), "
                    "i -> struct(try_element_at(ws, i) AS w1, "
                    "try_element_at(ws, i + 1) AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .filter((F.length("w1") > 0) & (F.length("w2") > 0))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("bc"))
    )
    u1 = uni.selectExpr("w AS w1", "uc AS uc1")
    u2 = uni.selectExpr("w AS w2", "uc AS uc2")
    return (
        bi.filter(F.col("bc") >= MIN_BIGRAM)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "bc",
            # + 0.0 collapses IEEE -0.0 to +0.0 — near-independent pairs
            # round to zero with an engine-dependent sign otherwise
            (
                F.round(
                    F.log(
                        F.col("bc") * F.col("total_u")
                        / (F.col("uc1") * F.col("uc2"))
                    ),
                    4,
                )
                + F.lit(0.0)
            ).alias("pmi"),
        )
    )


BM25_TERMS = ("spark", "vector", "merge")
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked keyword retrieval: BM25 score per document for a fixed
    query term set (Lucene idf variant, always positive:
    ln(1 + (N-df+0.5)/(df+0.5))) — the lexical-search baseline every
    corpus tooling stack needs next to embedding ANN.

    Scale posture: term frequencies are computed only for query terms
    (the isin filter prunes the explode before the shuffle); document
    length is computed MAP-SIDE (size of the token array, riding each
    row — no per-doc length aggregate and no length join in the plan);
    corpus stats reduce to one broadcast row; per-term df is a
    |terms|-row broadcast. One vocabulary-free shuffle at (doc, term)
    grain, one final per-doc sum.

    CACHING: the query-term tf frame is ``persist()``-ed with session
    lifetime (it is filtered to the |query| terms BEFORE the shuffle,
    so it is shortlist-sized at any corpus scale): its two consumers —
    per-term df and the scoring join — each re-ran the corpus scan +
    explode before round 10. Loop callers release it with
    ``spark.catalog.clearCache()``, bench.py's cold-per-run protocol."""
    d = spread(load_table(spark, sf_dir, "documents"))
    base = d.select(
        "doc_id",
        F.expr(
            "filter(split(lower(text), '\\\\s+'), x -> length(x) > 0)"
        ).alias("ws"),
    ).select("doc_id", "ws", F.size("ws").cast("long").alias("dl"))
    # Corpus stats run over docs with >=1 token only: a zero-token doc
    # (empty/whitespace text) can never score, and the DuckDB oracle's
    # dl CTE — a groupBy over the exploded token stream — naturally
    # drops it, so including dl=0 rows here would skew avgdl/n_docs on
    # corpora with empty documents.
    stats = base.filter(F.col("dl") > 0).agg(
        F.avg("dl").alias("avgdl"),
        F.count("*").cast("double").alias("n_docs"),
    )
    tf = (
        base.select("doc_id", "dl", F.explode("ws").alias("w"))
        .filter(F.col("w").isin(*BM25_TERMS))
        .groupBy("doc_id", "dl", "w")
        .agg(F.count("*").alias("tf"))
        .persist()
    )
    df_ = tf.groupBy("w").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_norm = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(df_), "w")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", (idf * tf_norm).alias("s"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("s"), 4).alias("bm25"))
    )


def unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram language-model scoring: every word's
    probability is its corpus frequency; each document scores its mean
    surprisal -ln p(w) (the exact unigram "perplexity" in nats, the
    classic cheap fluency/quality signal; an n-gram LM swaps the count
    key, same dataflow).

    Two aggregates: global word counts (vocabulary-cardinality result,
    broadcast back) and the per-doc mean over the rejoined token
    stream. The token stream is shuffled once on the word key; the
    probability join is a broadcast (vocab ≪ corpus). Fully built-in —
    log/avg in codegen — and oracle-checked.

    CACHING: the vocab-grain counts are ``persist()``-ed with session
    lifetime (two consumers — the corpus total and the probability
    table — each re-ran the corpus tokenize + aggregate before round
    10); vocab-grain is bounded at any corpus scale. Loop callers
    release it with ``spark.catalog.clearCache()``, bench.py's
    cold-per-run protocol.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    words = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w"),
    )
    counts = words.groupBy("w").agg(F.count("*").alias("c")).persist()
    total = counts.agg(F.sum("c").alias("tot"))
    probs = counts.crossJoin(F.broadcast(total)).select(
        "w", (F.col("c") / F.col("tot")).alias("p")
    )
    return (
        words.join(F.broadcast(probs), on="w")
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(-F.log("p")), 4).alias("mean_surprisal"),
            F.count("*").cast("long").alias("n_tokens"),
        )
    )


BIGRAM_K = 0.5  # add-k smoothing mass per context


def bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring, one model order up from
    ``unigram_surprisal``: a corpus-trained BIGRAM language model with
    add-k smoothing scores every document's mean negative log-prob and
    perplexity — the filter CCNet/RedPajama apply (there with a KenLM
    5-gram; the dataflow is identical, only the count key widens).
    P(w2|w1) = (C(w1,w2) + k) / (C(w1) + k·V), trained on the corpus
    being scored; documents with a single word have no bigrams and
    drop out (documented).

    Plan shape: bigrams are built IN-ARRAY per document (transform +
    element_at over the split array — no position explode, no window,
    no shuffle), then counted with one groupBy each for C(w1,w2) and
    C(w1); scoring re-joins the bigram stream against the BROADCAST
    count tables (vocab² candidates ≪ corpus at any scale — only
    observed bigrams materialize). Two token-key shuffles total, the
    same budget as unigram_surprisal.

    CACHING: the bigram stream is ``persist()``-ed with session
    lifetime (same posture and rationale as tfidf_cosine_pairs' tf
    cache): its three consumers — C(w1,w2), C(w1) and the scoring
    re-join — each re-ran the scan + tokenize + in-array bigram build
    before round 10. Loop callers release it with
    ``spark.catalog.clearCache()``, bench.py's cold-per-run protocol."""
    d = spread(load_table(spark, sf_dir, "documents"))
    wd = d.select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("ws")
    )
    bi = wd.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(ws, 1, size(ws) - 1), "
                "(w, i) -> struct(w AS w1, element_at(ws, i + 2) AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2").persist()
    c2 = bi.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = bi.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = (
        wd.select(F.explode("ws").alias("w"))
        .agg(F.count_distinct("w").alias("v"))
    )
    probs = (
        c2.join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            (
                (F.col("c2") + F.lit(BIGRAM_K))
                / (F.col("c1") + F.lit(BIGRAM_K) * F.col("v"))
            ).alias("p"),
        )
    )
    return (
        bi.join(F.broadcast(probs), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(F.avg(-F.log("p")), 4).alias("mean_nll"),
            F.round(F.exp(F.avg(-F.log("p"))), 2).alias("ppl"),
        )
    )


def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard ESTIMATED from the minhash signatures for every LSH
    candidate pair: fraction of agreeing permutations (the estimator
    LSH is built on, E[match] = J). Completes the sketch pipeline —
    candidate pairs get a similarity WITHOUT touching the raw text, so
    the verify stage after LSH reads 2×N_PERM longs per pair instead
    of two documents.

    One broadcast-join of the (tiny) pair list against the signature
    matrix, twice — shuffle-free beyond what the signatures already
    paid.

    CACHING: the WIDE signature frame (one 17-column row per doc —
    the smallest shared form, N_PERM longs per doc at any corpus
    scale) is ``persist()``-ed with session lifetime and every
    derivation (the LSH pair list and both join legs) composes off it
    via the ``*_from_wide`` helpers, so one cold run pays exactly one
    shingle + minhash build (the round-10 producer-level persist paid
    a cache materialization in every single-consumer minhash query;
    this is the consumer-level placement that keeps the sharing
    without that tax). Loop callers release it with
    ``spark.catalog.clearCache()``, bench.py's cold-per-run protocol."""
    from . import dedup as _d  # noqa: PLC0415

    wide = _d._signature_wide(spark, sf_dir).persist()
    pairs = _d._lsh_pairs_from_bands(_d._band_keys_from_wide(wide))
    sig = _d._signatures_from_wide(wide)
    a = sig.select(
        F.col("doc_id").alias("doc_a"), "perm", F.col("minhash").alias("ma")
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"), "perm", F.col("minhash").alias("mb")
    )
    return (
        F.broadcast(pairs)
        .join(a, on="doc_a")
        .join(b, on=["doc_b", "perm"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.round(
                F.avg((F.col("ma") == F.col("mb")).cast("double")), 4
            ).alias("jaccard_est")
        )
    )


APPROX_TOPK_K = 10


def approx_topk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based heavy hitters (Spark 4 ``approx_top_k``, a
    frequent-items sketch): the top-K corpus tokens WITHOUT a full
    groupBy — sketch state is O(K·log) per partition and merges
    map-side, so token frequency never shuffles the token stream (the
    exact twin ``heavy_hitters_tokens`` does; at web-corpus scale the
    sketch is the only affordable first pass).

    Determinism contract (what makes the DuckDB oracle possible): the
    sketch's ORDER among equal counts and its CHOICE at the K-th-slot
    tie are engine-defined, so the query emits only items STRICTLY
    above the K-th-largest count (the min count across the returned
    items — well-defined whatever tie the sketch picked) and re-ranks
    by (count DESC, token). Wherever the sketch is exact (pinned vs
    exact counts in tests/test_llm.py; true at the graded SFs) this
    set and order are unique; at web scale, where estimates carry
    error, the contract degrades gracefully to "heavy hitters with
    margin" — exactly how a sketch should be consumed."""
    d = spread(load_table(spark, sf_dir, "documents"))
    words = d.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w")
    )
    sk = words.agg(F.expr(f"approx_top_k(w, {APPROX_TOPK_K})").alias("tk"))
    items = sk.select(F.explode("tk").alias("t")).select(
        F.col("t.item").alias("token"),
        F.col("t.count").cast("long").alias("est_count"),
    )
    w_all = Window.partitionBy()
    w_rk = Window.orderBy(F.desc("est_count"), "token")
    return (
        items.withColumn("mn", F.min("est_count").over(w_all))
        .withColumn("n_items", F.count(F.lit(1)).over(w_all))
        # the min-count group is ambiguous ONLY when the sketch had to
        # cut at the K-th slot; a degenerate corpus with < K distinct
        # tokens returned everything, so nothing is dropped
        .filter(
            (F.col("n_items") < APPROX_TOPK_K)
            | (F.col("est_count") > F.col("mn"))
        )
        .select(
            F.row_number().over(w_rk).cast("long").alias("rk"),
            "token",
            "est_count",
        )
    )


HEAPS_STEPS = 8  # ingest-order ladder resolution


def vocab_growth_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth curve + Heaps'-law exponent: cumulative
    distinct-token count against cumulative token count at
    HEAPS_STEPS ingest-order checkpoints, with the fitted
    V = K·T^beta exponent (endpoint log-ratio — deterministic, no
    float regression). This is the corpus-planning query behind
    tokenizer vocab sizing and dedup forecasting: beta well under the
    0.4-0.6 natural-text band signals heavy duplication, beta near 1
    signals id-like token soup.

    Scale shape: each token occurrence maps to its ladder step with
    integer-exact arithmetic (one 1-row max broadcast); vocabulary
    increments come from ONE groupBy(tok) min-step aggregate (token
    cardinality, not corpus size); the cumulative window runs over
    exactly HEAPS_STEPS rows. No data-sized sort anywhere."""
    d = spread(load_table(spark, sf_dir, "documents"))
    mx = d.agg((F.max("doc_id") + F.lit(1)).alias("npos"))
    step = F.expr(
        f"cast(((doc_id + 1) * {HEAPS_STEPS} + npos - 1) div npos as int)"
    )
    docs = d.crossJoin(F.broadcast(mx)).select(step.alias("step"))
    toks = (
        d.crossJoin(F.broadcast(mx))
        .select(
            step.alias("step"),
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias(
                "tok"
            ),
        )
        .filter(F.length("tok") > 0)
    # persist(): toks feeds the per-step token counts AND the
    # first-appearance vocab aggregate — without it the corpus
    # explode executes twice (cache-deduped audit evidence)
    ).persist()
    docs_per = docs.groupBy("step").agg(F.count("*").alias("nd"))
    toks_per = toks.groupBy("step").agg(F.count("*").alias("nt"))
    vocab_per = (
        toks.groupBy("tok")
        .agg(F.min("step").alias("step"))
        .groupBy("step")
        .agg(F.count("*").alias("nv"))
    )
    grid = spark.range(1, HEAPS_STEPS + 1).select(
        F.col("id").cast("int").alias("step")
    )
    from pyspark.sql.window import Window  # noqa: PLC0415

    w = Window.orderBy("step").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        grid.join(docs_per, "step", "left")
        .join(toks_per, "step", "left")
        .join(vocab_per, "step", "left")
        .select(
            "step",
            F.sum(F.coalesce("nd", F.lit(0))).over(w).alias("docs_cum"),
            F.sum(F.coalesce("nt", F.lit(0))).over(w).alias("tokens_cum"),
            F.sum(F.coalesce("nv", F.lit(0))).over(w).alias("vocab_cum"),
        )
    # 8-row ladder consumed by the endpoint aggregate AND the final
    # select — persist so the three upstream aggregates run once
    ).persist()
    ends = cum.agg(
        F.max(F.when(F.col("step") == 1, F.col("vocab_cum"))).alias("v1"),
        F.max(F.when(F.col("step") == HEAPS_STEPS, F.col("vocab_cum"))).alias("v8"),
        F.max(F.when(F.col("step") == 1, F.col("tokens_cum"))).alias("t1"),
        F.max(F.when(F.col("step") == HEAPS_STEPS, F.col("tokens_cum"))).alias("t8"),
    )
    return (
        cum.crossJoin(F.broadcast(ends))
        .select(
            "step",
            "docs_cum",
            "tokens_cum",
            "vocab_cum",
            F.round(
                (F.log("v8") - F.log("v1")) / (F.log("t8") - F.log("t1")),
                6,
            ).alias("heaps_beta"),
        )
    )


VOCAB_OOV_N = 200  # closed-vocabulary size for the coverage report


def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per source against a closed top-N
    vocabulary — the tokenizer-coverage report run before committing a
    vocab: what share of token OCCURRENCES in each slice a top-
    VOCAB_OOV_N unigram vocabulary fails to cover (plus the distinct
    OOV type count, the "how many new words" view).

    Plan: one explode feeding TWO bounded aggregates — (a) the global
    token count whose top-N (deterministic count-desc/token tiebreak,
    TakeOrdered — no global sort) becomes the broadcast vocabulary,
    (b) a (source, token)-grain count (map-side combined, so the
    shuffle carries type grain not occurrence grain) that is
    broadcast-hash-joined against the vocabulary and rolled up to
    source grain. At 100 TB both shuffles carry vocabulary-sized
    frames; nothing is occurrence-grain past the map side."""
    d = spread(load_table(spark, sf_dir, "documents"))
    tok = d.select(
        "source",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("t"),
    ).filter(F.length("t") > 0)
    # round-10 rewrite: ONE corpus pass — the (source, token) counts
    # are persisted (type-grain, bounded) and the global vocabulary
    # derives from them (Σ_sources n IS the global count exactly,
    # integer sums over a partition of the stream); before, the vocab
    # leg re-ran the corpus explode as a second scan
    per_type = (
        tok.groupBy("source", "t")
        .agg(F.count("*").alias("n"))
        .persist()
    )
    vocab = (
        per_type.groupBy("t")
        .agg(F.sum("n").alias("cnt"))
        .orderBy(F.desc("cnt"), "t")
        .limit(VOCAB_OOV_N)
        .select(F.col("t").alias("vt"))
    )
    flagged = per_type.join(
        F.broadcast(vocab), per_type.t == F.col("vt"), "left"
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.sum(F.when(F.col("vt").isNull(), F.col("n")).otherwise(0)).alias(
                "n_oov"
            ),
            F.sum(F.when(F.col("vt").isNull(), 1).otherwise(0)).alias(
                "n_oov_types"
            ),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            "n_oov_types",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
    )


def chi2_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence on the source × language
    contingency table — the corpus-composition drift screen ("is the
    language mix the same across sources, or does some crawl skew?").
    Per cell: observed count, expected count under independence
    (row_total · col_total / N) and the chi-square term; summing the
    terms gives the statistic against (|src|−1)(|lang|−1) dof.

    Plan: ONE data-sized aggregate (groupBy source, lang — map-side
    combined, shuffle carries cell grain), then marginals as window
    sums OVER THE CELL FRAME (|sources|·|languages| rows — bounded by
    vocabulary of the two keys, independent of corpus size). The
    grand-total window is a single-partition exchange over that same
    tiny cell frame (lint-allowlisted for exactly that reason)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    cells = d.groupBy("source", "lang").agg(F.count("*").alias("n"))
    row_t = F.sum("n").over(Window.partitionBy("source"))
    col_t = F.sum("n").over(Window.partitionBy("lang"))
    grand = F.sum("n").over(
        Window.partitionBy()
    )
    expected = (
        row_t.cast("double") * col_t.cast("double") / grand.cast("double")
    )
    obs = F.col("n").cast("double")
    return cells.select(
        "source",
        "lang",
        "n",
        F.round(expected, 4).alias("expected"),
        F.round((obs - expected) * (obs - expected) / expected, 4).alias(
            "chi2_term"
        ),
    )


AUC_POS_LANG = "en"  # positive class for the ranking-score audit


def roc_auc_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC per source of a ranking score against a binary label —
    here "does document length separate AUC_POS_LANG documents from
    the rest", the same Mann-Whitney machinery that grades any quality
    classifier or dedup-score without picking a threshold.

    Exact tie-corrected rank-sum AUC, computed at DISTINCT-SCORE grain
    so nothing row-sized ever sorts globally: one groupBy(source,
    score) counts positives/negatives per tied score; a per-source
    cumulative window (score ascending over the distinct-score frame)
    assigns each tie group its average rank cum + (n+1)/2; then
    AUC = (Σ_pos avg_rank − P(P+1)/2) / (P·N). All quantities are
    integers entering double formulas — bit-identical on any engine.
    Windows and aggregates are all partitioned by source; no global
    stage at any grain."""
    d = spread(load_table(spark, sf_dir, "documents"))
    g = d.groupBy("source", "n_chars").agg(
        F.sum(F.when(F.col("lang") == AUC_POS_LANG, 1).otherwise(0)).alias(
            "np"
        ),
        F.sum(F.when(F.col("lang") == AUC_POS_LANG, 0).otherwise(1)).alias(
            "nn"
        ),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = g.select(
        "source",
        "np",
        "nn",
        (
            F.coalesce(F.sum(F.col("np") + F.col("nn")).over(w), F.lit(0))
            .cast("double")
            + (F.col("np") + F.col("nn") + 1).cast("double") / 2.0
        ).alias("avg_rank"),
    )
    agg = ranked.groupBy("source").agg(
        F.sum("np").alias("n_pos"),
        F.sum("nn").alias("n_neg"),
        F.sum(F.col("np").cast("double") * F.col("avg_rank")).alias(
            "pos_rank_sum"
        ),
    )
    p = F.col("n_pos").cast("double")
    nneg = F.col("n_neg").cast("double")
    # AUC is undefined for a single-class source (P·N = 0) — drop such
    # sources rather than emitting NaN (engines disagree on NaN text)
    agg = agg.filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
    return agg.select(
        "source",
        "n_pos",
        "n_neg",
        F.round(
            (F.col("pos_rank_sum") - p * (p + 1.0) / 2.0) / (p * nneg), 6
        ).alias("auc"),
    )


WILSON_Z = 1.96  # 95 % normal quantile, shared verbatim with the oracle


def wilson_lang_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition report with uncertainty: per source, the
    share of AUC_POS_LANG documents with its Wilson 95 % score interval
    — the right screen for "is src7 really more English than src4, or
    is that 120-doc noise?". The Wilson interval (unlike the naive
    normal one) stays inside [0, 1] and behaves at small n / extreme
    p̂, which is exactly the small-source regime where the decision
    matters.

    center = (p̂ + z²/2n) / (1 + z²/n),
    half   = z/(1 + z²/n) · √(p̂(1−p̂)/n + z²/4n²).

    One source-grain conditional-count aggregate (map-side combined)
    does all the data-sized work; the interval arithmetic is a scalar
    double tree written as the IDENTICAL expression shape on both
    engines, fed only by integer counts — deterministic at any scale."""
    d = load_table(spark, sf_dir, "documents")
    agg = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("lang") == AUC_POS_LANG, 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
    )
    n = F.col("n_docs").cast("double")
    p = F.col("n_pos").cast("double") / n
    z = F.lit(WILSON_Z)
    z2 = z * z
    denom = F.lit(1.0) + z2 / n
    center = (p + z2 / (F.lit(2.0) * n)) / denom
    half = (z / denom) * F.sqrt(
        p * (F.lit(1.0) - p) / n + z2 / (F.lit(4.0) * n * n)
    )
    return agg.select(
        "source",
        "n_docs",
        "n_pos",
        F.round(p, 4).alias("share"),
        F.round(center - half, 4).alias("ci_lo"),
        F.round(center + half, 4).alias("ci_hi"),
    )


def zipf_rank_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: OLS slope of ln(frequency) on ln(rank) over the
    corpus vocabulary with its R² — the rank-frequency twin of
    ``vocab_growth_heaps`` (natural text sits near slope −1; a corpus
    of templates or ID strings bends away, making this a cheap
    synthetic-content smell test).

    Rank is a deterministic (count desc, token) row_number over the
    VOCAB-grain frame (corpus-size-independent, the same
    single-partition posture as vocab_growth_heaps' ladder); the OLS
    sufficient statistics then reduce that frame to one row. ln() of
    exact integers is deterministic per engine; sums of ~vocab doubles
    round at 4 dp."""
    d = spread(load_table(spark, sf_dir, "documents"))
    words = d.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w")
    )
    counts = words.groupBy("w").agg(F.count("*").alias("c"))
    ranked = counts.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), F.col("w")))
        .alias("rk"),
    )
    pts = ranked.select(
        F.log(F.col("rk").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    st = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    slope = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        nd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    r2 = (
        (nd * F.col("sxy") - F.col("sx") * F.col("sy"))
        * (nd * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (
            (nd * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (nd * F.col("syy") - F.col("sy") * F.col("sy"))
        )
    )
    return st.select(
        F.col("n").alias("vocab_size"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round(r2, 4).alias("r2"),
    )


def pav_blocks(
    points: "list[tuple[int, int, int]]",
) -> "list[list[int]]":
    """Pool Adjacent Violators over (x, weight, positives) points
    already sorted by x — returns [x_lo, x_hi, weight, positives]
    blocks with STRICTLY increasing means (equal-mean neighbors merge
    too). All-INTEGER state: the merge decision pos_l/w_l >= pos_r/w_r
    is the exact cross-multiply pos_l*w_r >= pos_r*w_l, so the block
    structure is bit-independent of any float arithmetic — which is
    what lets the DuckDB oracle replay the identical merge chain.
    Module-level so the Arrow task and the property tests share one
    implementation; property-tested against the independent
    max-min characterization in tests/test_properties.py."""
    blocks: list[list[int]] = []
    for x, w, pos in points:
        blocks.append([int(x), int(x), int(w), int(pos)])
        while (
            len(blocks) > 1
            and blocks[-2][3] * blocks[-1][2]
            >= blocks[-1][3] * blocks[-2][2]
        ):
            b2 = blocks.pop()
            b1 = blocks.pop()
            blocks.append([b1[0], b2[1], b1[2] + b2[2], b1[3] + b2[3]])
    return blocks


def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone) calibration of a ranking score via Pool
    Adjacent Violators — the nonparametric way to turn any quality /
    dedup / classifier score into a PROBABILITY without assuming a
    sigmoid (the calibration layer quality_calibration's percentile map
    and roc_auc's threshold-free audit both stop short of). Here:
    per source, calibrate "document length predicts AUC_POS_LANG"
    into stepwise P(en | length) blocks.

    Points pool to DISTINCT-score grain first (one groupBy computes
    each length's weight and empirical rate — the same grain the
    ROC/KS screens use), so PAV's sequential pooling runs per source on
    a bounded-cardinality frame inside one Arrow task; parallelism
    scales with group count like ``holt_forecast_by_nation``. Blocks
    merge while the left mean ≥ the right, so emitted block means are
    STRICTLY increasing — pinned, with exact equivalence to a
    pure-Python PAV, in tests/test_llm.py.

    Oracle-checked despite the data-dependent merge chain: the merge
    state is all-INTEGER (weights and positive counts; comparisons by
    exact cross-multiply), so a DuckDB recursive CTE that replays one
    merge-or-advance per iteration (stack carried as LIST columns —
    the Holt-Winters LIST-CTE technique) reproduces the identical
    blocks, and the single final division pos/w is the same IEEE op on
    both engines (decimal-snap before the 6dp round)."""
    import pandas as pd  # noqa: PLC0415

    d = spread(load_table(spark, sf_dir, "documents"))
    pooled = d.groupBy("source", "n_chars").agg(
        F.count("*").alias("w"),
        F.sum(
            F.when(F.col("lang") == AUC_POS_LANG, 1).otherwise(0)
        ).alias("pos"),
    )

    def pav(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("n_chars").reset_index(drop=True)
        blocks = pav_blocks(
            list(zip(pdf["n_chars"], pdf["w"], pdf["pos"]))
        )
        return pd.DataFrame(
            [
                (key[0], b[0], b[1], float(b[2]), b[3] / b[2])
                for b in blocks
            ],
            columns=["source", "x_lo", "x_hi", "weight", "p_raw"],
        )

    raw = pooled.groupBy("source").applyInPandas(
        pav,
        schema="source string, x_lo bigint, x_hi bigint, "
        "weight double, p_raw double",
    )
    # round OUTSIDE the Arrow task (Python round is banker's, F.round
    # is half-up) with snap_round (round(DOUBLE, n) boundary class)
    return raw.select(
        "source",
        "x_lo",
        "x_hi",
        "weight",
        snap_round(F.col("p_raw"), 6).alias("p_calibrated"),
    )


def js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (bits, ∈ [0,1]) between every
    two sources' unigram token distributions — the corpus-similarity
    matrix behind data-mixing decisions ("is src3 just src9 again?"
    before weighting them separately) and the symmetric, always-finite
    alternative to KL.

    Decomposition that never materializes the union vocabulary per
    pair: shared-token terms come from ONE token-grain self-join of the
    per-source probability table (each join key holds ≤ |sources| rows,
    so per-key fan-out is ≤ |sources|², bounded regardless of corpus
    size), and each side's disjoint-token mass needs no scan at all —
    a token absent from the other source contributes p·log2(2p/p) =
    p·1 bit, so the whole one-sided tail is (1 − Σ_shared p)/2, closed
    form from the same aggregate. Data-sized work is exactly one
    explode + one (source, token) groupBy, executed once (the
    probability table is persisted — see inline note); totals
    broadcast at |sources| rows."""
    d = spread(load_table(spark, sf_dir, "documents"))
    words = d.select(
        "source",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w"),
    )
    # persist(): counts feeds totals AND probs, and probs feeds BOTH
    # sides of the self-join — Spark shares no unaliased subplans, so
    # without the cache the explode + token groupBy (the only
    # data-sized work) would EXECUTE once per consumer. The static
    # plan still prints the cached subtree per consumer (SHUFFLES.md
    # upper-bound caveat); at runtime the exchange runs once. persist
    # over localCheckpoint: vocab-grain is data-sized, lineage must
    # survive executor loss (house rule).
    counts = (
        words.groupBy("source", "w").agg(F.count("*").alias("c")).persist()
    )
    totals = counts.groupBy("source").agg(F.sum("c").alias("tot"))
    probs = counts.join(F.broadcast(totals), "source").select(
        "source",
        "w",
        (F.col("c").cast("double") / F.col("tot")).alias("p"),
    ).persist()
    log2 = F.log(F.lit(2.0))
    pairs = (
        probs.alias("a")
        .join(probs.alias("b"), on="w")
        .filter(F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("s1"),
            F.col("b.source").alias("s2"),
            F.col("a.p").alias("p"),
            F.col("b.p").alias("q"),
        )
    )
    return (
        pairs.groupBy("s1", "s2")
        .agg(
            F.count("*").alias("shared_tokens"),
            F.sum(
                F.col("p")
                * F.log(2.0 * F.col("p") / (F.col("p") + F.col("q")))
                / log2
            ).alias("t1"),
            F.sum(
                F.col("q")
                * F.log(2.0 * F.col("q") / (F.col("p") + F.col("q")))
                / log2
            ).alias("t2"),
            F.sum("p").alias("p1s"),
            F.sum("q").alias("p2s"),
        )
        .select(
            "s1",
            "s2",
            "shared_tokens",
            F.round(
                0.5 * (F.col("t1") + 1.0 - F.col("p1s"))
                + 0.5 * (F.col("t2") + 1.0 - F.col("p2s")),
                4,
            ).alias("jsd"),
        )
    )


def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance per source between the
    AUC_POS_LANG and non-AUC_POS_LANG document-length distributions —
    the threshold-free distribution-shift screen (did this source's
    English docs get systematically longer than the rest?) that any
    corpus-drift monitor runs beside the ROC audit.

    Exact D = max_x |F_pos(x) - F_neg(x)|, computed at DISTINCT-VALUE
    grain like ``roc_auc_by_source``: one groupBy(source, n_chars)
    counts the two classes per tied length, per-source cumulative
    windows build both ECDFs in one pass, and the final per-source max
    reduces the distinct-length frame. Every window and aggregate is
    partitioned by source — no global stage at any grain; the only
    data-sized work is the first partial-aggregated groupBy. Sources
    with a single class are dropped (D is undefined)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    g = d.groupBy("source", "n_chars").agg(
        F.sum(F.when(F.col("lang") == AUC_POS_LANG, 1).otherwise(0)).alias(
            "np"
        ),
        F.sum(F.when(F.col("lang") == AUC_POS_LANG, 0).otherwise(1)).alias(
            "nn"
        ),
    )
    wcum = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("source")
    counted = g.select(
        "source",
        F.sum("np").over(wcum).alias("cp"),
        F.sum("nn").over(wcum).alias("cn"),
        F.sum("np").over(wall).alias("n_pos"),
        F.sum("nn").over(wall).alias("n_neg"),
    # single-class filter BEFORE the ECDF divisions: under the ANSI
    # driver session a 0 denominator throws, it doesn't NULL out
    # (roc_auc_by_source order; review finding)
    ).filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
    scored = counted.select(
        "source",
        "n_pos",
        "n_neg",
        (F.col("cp").cast("double") / F.col("n_pos")).alias("fpos"),
        (F.col("cn").cast("double") / F.col("n_neg")).alias("fneg"),
    )
    return (
        scored.groupBy("source", "n_pos", "n_neg")
        .agg(
            F.round(F.max(F.abs(F.col("fpos") - F.col("fneg"))), 6).alias(
                "ks"
            )
        )
        .select("source", "n_pos", "n_neg", "ks")
    )


HTML_CHUNK = 200  # chars per synthesized <p> chunk


def html_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-stripping HTML main-text extraction — the
    canonical first step of a web-scrape → training-text pipeline,
    exercised end to end against a REAL parser: each document's
    (whitespace-normalized) text is wrapped executor-side into a full
    page — head/title/style/script, a nav menu, the text escaped and
    split into HTML_CHUNK-char ``<p>`` chunks, a footer — and the
    main text is then RECOVERED with the stdlib ``html.parser``
    state machine (tag stack, script/style/nav/header/footer
    suppression, entity unescaping via convert_charrefs). Because
    escape → parse → unescape is the identity and the chunks
    concatenate back losslessly, the extraction contract is exact:
    recovered text == normalized source — so the DuckDB oracle is
    pure arithmetic on the documents table (normalize, length,
    ceil-div chunk count, md5), and any parser-state bug (boilerplate
    leaking in, entity mishandling, chunk loss) breaks the hash.

    Scale posture: one mapInPandas stage, no shuffle; pages live only
    inside executor Arrow batches. On real crawl data the build step
    disappears and the same parser runs over fetched payloads."""
    import hashlib  # noqa: PLC0415
    import html as _html  # noqa: PLC0415
    import re as _re  # noqa: PLC0415
    from html.parser import HTMLParser  # noqa: PLC0415

    _ws = _re.compile(r"[ \t\n\r\f\v]+")
    _skip = {"script", "style", "nav", "header", "footer", "head"}

    class _Main(HTMLParser):
        def __init__(self) -> None:
            super().__init__()  # convert_charrefs=True: entities
            self.depth = 0      # arrive unescaped inside handle_data
            self.parts: list[str] = []

        def handle_starttag(self, tag, attrs):
            if tag in _skip:
                self.depth += 1

        def handle_endtag(self, tag):
            if tag in _skip and self.depth:
                self.depth -= 1

        def handle_data(self, data):
            if self.depth == 0:
                self.parts.append(data)

    def build_page(doc_id: int, norm: str) -> str:
        chunks = [
            norm[i:i + HTML_CHUNK]
            for i in range(0, len(norm), HTML_CHUNK)
        ]
        body = "".join(
            f"<p>{_html.escape(c)}</p>" for c in chunks
        )
        return (
            f"<html><head><title>doc {doc_id}</title>"
            "<style>p{margin:0}</style>"
            "<script>track(&quot;x&quot;);</script></head><body>"
            "<nav><a href=\"/\">home</a> | <a href=\"/a\">about</a>"
            "</nav>" + body
            + "<footer>&copy; boilerplate footer</footer>"
            "</body></html>"
        )

    out_schema = (
        "doc_id long, extracted_len long, n_chunks long, "
        "extracted_md5 string"
    )

    def run(batches):
        import pandas as pd  # noqa: PLC0415 - executor-side import

        for pdf in batches:
            ids, lens, chunks, sums = [], [], [], []
            for mid, text in zip(pdf["doc_id"], pdf["text"]):
                norm = _ws.sub(" ", text or "").strip()
                page = build_page(int(mid), norm)
                p = _Main()
                p.feed(page)
                p.close()
                # <p> chunks are exact substrings and every
                # boilerplate container (nav/footer/script/style/
                # head) is depth-suppressed — concatenating the data
                # events restores the normalized text byte-for-byte
                got = "".join(p.parts)
                ids.append(int(mid))
                lens.append(len(got))
                chunks.append((len(norm) + HTML_CHUNK - 1) // HTML_CHUNK)
                sums.append(
                    hashlib.md5(got.encode("utf-8")).hexdigest()
                )
            yield pd.DataFrame(
                {"doc_id": ids, "extracted_len": lens,
                 "n_chunks": chunks, "extracted_md5": sums}
            )

    d = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    return d.mapInPandas(run, schema=out_schema)


QUERIES = {
    "zipf_rank_slope": zipf_rank_slope,
    "html_extract_text": html_extract_text,
    "isotonic_calibration": isotonic_calibration,
    "js_divergence_sources": js_divergence_sources,
    "ks_two_sample": ks_two_sample,
    "token_count": token_count,
    "wilson_lang_share": wilson_lang_share,
    "vocab_oov_rate": vocab_oov_rate,
    "chi2_source_lang": chi2_source_lang,
    "roc_auc_by_source": roc_auc_by_source,
    "vocab_growth_heaps": vocab_growth_heaps,
    "unigram_surprisal": unigram_surprisal,
    "bigram_perplexity": bigram_perplexity,
    "minhash_jaccard_estimate": minhash_jaccard_estimate,
    "pmi_bigrams": pmi_bigrams,
    "bm25_search": bm25_search,
    "tfidf_top_terms": tfidf_top_terms,
    "heavy_hitters_tokens": heavy_hitters_tokens,
    "approx_topk_tokens": approx_topk_tokens,
    "pack_sequences": pack_sequences,
    "pack_sequences_text": pack_sequences_text,
    "quality_calibration": quality_calibration,
    "chunk_documents": chunk_documents,
    "char_entropy": char_entropy,
    "token_count_by_source": token_count_by_source,
    "clean_corpus": clean_corpus,
    "text_quality": text_quality,
    "gopher_quality_flags": gopher_quality_flags,
    "langid_heuristic": langid_heuristic,
    "langid_confusion": langid_confusion,
    "doc_fingerprint": doc_fingerprint,
}

_SQL_WS = "string_split_regex(lower(trim(text)), '\\s+')"
_SQL_N_CHUNKS = (
    f"greatest(ceil((len({_SQL_WS}) - {CHUNK_WORDS}) / {CHUNK_STRIDE} + 1)"
    f"::INT, 1)"
)

ORACLES = {
    # the extraction contract is exact (escape→parse→unescape is the
    # identity, boilerplate containers depth-suppressed), so the
    # oracle is pure arithmetic on the normalized source text
    "html_extract_text": f"""
        WITH n AS (
            SELECT doc_id,
                   trim(regexp_replace(coalesce(text, ''),
                        '[ \t\n\r\f\v]+', ' ', 'g')) AS norm
            FROM documents
        )
        SELECT doc_id,
               length(norm)::BIGINT AS extracted_len,
               ((length(norm) + {HTML_CHUNK - 1}) // {HTML_CHUNK})
                   ::BIGINT AS n_chunks,
               md5(norm) AS extracted_md5
        FROM n
    """,
    "zipf_rank_slope": """
        WITH words AS (
            SELECT unnest(string_split_regex(lower(trim(text)), '\\s+'))
                AS w
            FROM documents
        ), counts AS (
            SELECT w, count(*) AS c FROM words GROUP BY w
        ), ranked AS (
            SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rk
            FROM counts
        ), pts AS (
            SELECT ln(CAST(rk AS DOUBLE)) AS x,
                   ln(CAST(c AS DOUBLE)) AS y
            FROM ranked
        ), st AS (
            SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                   sum(x * y) AS sxy, sum(x * x) AS sxx,
                   sum(y * y) AS syy
            FROM pts
        )
        SELECT n AS vocab_size,
               round((CAST(n AS DOUBLE) * sxy - sx * sy)
                     / (CAST(n AS DOUBLE) * sxx - sx * sx), 4)
                   AS zipf_slope,
               round((CAST(n AS DOUBLE) * sxy - sx * sy)
                     * (CAST(n AS DOUBLE) * sxy - sx * sy)
                     / ((CAST(n AS DOUBLE) * sxx - sx * sx)
                        * (CAST(n AS DOUBLE) * syy - sy * sy)), 4)
                   AS r2
        FROM st
    """,
    "js_divergence_sources": """
        WITH words AS (
            SELECT source,
                   unnest(string_split_regex(lower(trim(text)), '\\s+'))
                       AS w
            FROM documents
        ), counts AS (
            SELECT source, w, count(*) AS c FROM words GROUP BY source, w
        ), totals AS (
            SELECT source, sum(c) AS tot FROM counts GROUP BY source
        ), probs AS (
            SELECT counts.source, w, CAST(c AS DOUBLE) / tot AS p
            FROM counts JOIN totals ON counts.source = totals.source
        )
        SELECT a.source AS s1, b.source AS s2,
               count(*) AS shared_tokens,
               round(0.5 * (sum(a.p * log2(2 * a.p / (a.p + b.p))) + 1
                            - sum(a.p))
                     + 0.5 * (sum(b.p * log2(2 * b.p / (a.p + b.p))) + 1
                              - sum(b.p)),
                     4) AS jsd
        FROM probs a JOIN probs b ON a.w = b.w AND a.source < b.source
        GROUP BY a.source, b.source
    """,
    "ks_two_sample": f"""
        WITH g AS (
            SELECT source, n_chars,
                   sum(CASE WHEN lang = '{AUC_POS_LANG}' THEN 1 ELSE 0
                       END) AS np,
                   sum(CASE WHEN lang = '{AUC_POS_LANG}' THEN 0 ELSE 1
                       END) AS nn
            FROM documents GROUP BY source, n_chars
        ), counted AS (
            SELECT source,
                   sum(np) OVER (PARTITION BY source ORDER BY n_chars
                        ROWS UNBOUNDED PRECEDING) AS cp,
                   sum(nn) OVER (PARTITION BY source ORDER BY n_chars
                        ROWS UNBOUNDED PRECEDING) AS cn,
                   CAST(sum(np) OVER (PARTITION BY source) AS BIGINT)
                       AS n_pos,
                   CAST(sum(nn) OVER (PARTITION BY source) AS BIGINT)
                       AS n_neg
            FROM g
        ), s AS (
            SELECT source, n_pos, n_neg,
                   CAST(cp AS DOUBLE) / n_pos AS fpos,
                   CAST(cn AS DOUBLE) / n_neg AS fneg
            FROM counted
            WHERE n_pos > 0 AND n_neg > 0
        )
        SELECT source, n_pos, n_neg, round(max(abs(fpos - fneg)), 6) AS ks
        FROM s
        GROUP BY source, n_pos, n_neg
    """,
    "chi2_source_lang": """
        WITH cells AS (
            SELECT source, lang, count(*)::BIGINT AS n
            FROM documents GROUP BY source, lang
        ), m AS (
            SELECT source, lang, n,
                   sum(n) OVER (PARTITION BY source) AS row_t,
                   sum(n) OVER (PARTITION BY lang) AS col_t,
                   sum(n) OVER () AS grand
            FROM cells
        )
        SELECT source, lang, n,
               round(CAST(row_t AS DOUBLE) * CAST(col_t AS DOUBLE)
                     / CAST(grand AS DOUBLE), 4) AS expected,
               round((CAST(n AS DOUBLE)
                      - CAST(row_t AS DOUBLE) * CAST(col_t AS DOUBLE)
                        / CAST(grand AS DOUBLE))
                     * (CAST(n AS DOUBLE)
                        - CAST(row_t AS DOUBLE) * CAST(col_t AS DOUBLE)
                          / CAST(grand AS DOUBLE))
                     / (CAST(row_t AS DOUBLE) * CAST(col_t AS DOUBLE)
                        / CAST(grand AS DOUBLE)), 4) AS chi2_term
        FROM m
    """,
    "roc_auc_by_source": f"""
        WITH g AS (
            SELECT source, n_chars,
                   sum(CASE WHEN lang = '{AUC_POS_LANG}' THEN 1 ELSE 0
                       END)::BIGINT AS np,
                   sum(CASE WHEN lang = '{AUC_POS_LANG}' THEN 0 ELSE 1
                       END)::BIGINT AS nn
            FROM documents GROUP BY source, n_chars
        ), ranked AS (
            SELECT source, np, nn,
                   CAST(coalesce(sum(np + nn) OVER (
                            PARTITION BY source ORDER BY n_chars
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS DOUBLE)
                   + CAST(np + nn + 1 AS DOUBLE) / 2.0 AS avg_rank
            FROM g
        ), agg AS (
            SELECT source,
                   sum(np)::BIGINT AS n_pos,
                   sum(nn)::BIGINT AS n_neg,
                   sum(CAST(np AS DOUBLE) * avg_rank) AS pos_rank_sum
            FROM ranked GROUP BY source
        )
        SELECT source, n_pos, n_neg,
               round((pos_rank_sum
                      - CAST(n_pos AS DOUBLE)
                        * (CAST(n_pos AS DOUBLE) + 1.0) / 2.0)
                     / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)),
                     6) AS auc
        FROM agg WHERE n_pos > 0 AND n_neg > 0
    """,
    "vocab_oov_rate": f"""
        WITH tok AS (
            SELECT source, t FROM (
                SELECT source, unnest({_SQL_WS}) AS t FROM documents
            ) WHERE length(t) > 0
        ), vocab AS (
            SELECT t AS vt FROM (
                SELECT t, count(*) AS cnt FROM tok GROUP BY t
                ORDER BY cnt DESC, t LIMIT {VOCAB_OOV_N}
            )
        ), per_type AS (
            SELECT source, t, count(*)::BIGINT AS n FROM tok
            GROUP BY source, t
        )
        SELECT source,
               sum(n)::BIGINT AS n_tokens,
               sum(CASE WHEN vt IS NULL THEN n ELSE 0 END)::BIGINT
                   AS n_oov,
               sum(CASE WHEN vt IS NULL THEN 1 ELSE 0 END)::BIGINT
                   AS n_oov_types,
               round(CAST(sum(CASE WHEN vt IS NULL THEN n ELSE 0 END)
                          AS DOUBLE) / sum(n), 6) AS oov_rate
        FROM per_type LEFT JOIN vocab ON t = vt
        GROUP BY source
    """,
    "tfidf_top_terms": f"""
        WITH tok AS (
            SELECT doc_id, source,
                   unnest(string_split_regex(lower(text), '\\s+')) AS token
            FROM documents
        ), tf AS (
            SELECT doc_id, source, token, count(*) AS tf
            FROM tok WHERE length(token) > 0
            GROUP BY doc_id, source, token
        ), df AS (
            SELECT token, count(DISTINCT doc_id) AS docfreq
            FROM tf GROUP BY token
        ), scored AS (
            SELECT source, token,
                   round(sum(tf * ln(
                       (SELECT count(*) FROM documents)::DOUBLE / docfreq
                   )), 4) AS score
            FROM tf JOIN df USING (token)
            GROUP BY source, token
        ), ranked AS (
            SELECT source, token, score,
                   CAST(row_number() OVER (
                       PARTITION BY source ORDER BY score DESC, token
                   ) AS INT) AS rk
            FROM scored
        )
        SELECT source, token, score, rk
        FROM ranked WHERE rk <= {TFIDF_TOPK}
    """,
    "heavy_hitters_tokens": f"""
        SELECT t AS token, count(*)::BIGINT AS n_occur,
               count(DISTINCT doc_id)::BIGINT AS n_docs
        FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(text), '\\s+')) AS t
            FROM documents
        )
        WHERE length(t) > 0
        GROUP BY t
        ORDER BY n_occur DESC, token
        LIMIT {TOPK_TOKENS}
    """,
    "char_entropy": """
        SELECT doc_id,
               round(log2(total) - nlogn / total, 4) AS entropy_bits
        FROM (
            SELECT doc_id, sum(n) AS total, sum(n * log2(n)) AS nlogn
            FROM (
                SELECT doc_id, substr(text, i, 1) AS ch, count(*) AS n
                FROM documents,
                     LATERAL (SELECT unnest(generate_series(
                         1, length(text))) AS i)
                GROUP BY doc_id, ch
            )
            GROUP BY doc_id
        )
    """,
    "pack_sequences": f"""
        SELECT doc_id, source, n_tok,
               floor((sum(n_tok) OVER w - n_tok) / {SEQ_LEN})::BIGINT
                   AS pack_id
        FROM (
            SELECT doc_id, source,
                   len(string_split_regex(trim(text), '\\s+'))::BIGINT
                       AS n_tok
            FROM documents
        )
        WINDOW w AS (
            PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        )
    """,
    "chunk_documents": f"""
        SELECT doc_id, (i - 1)::BIGINT AS chunk_idx,
               md5(array_to_string(list_slice({_SQL_WS},
                   (i - 1) * {CHUNK_STRIDE} + 1,
                   (i - 1) * {CHUNK_STRIDE} + {CHUNK_WORDS}), ' '))
                   AS chunk_md5
        FROM documents,
             LATERAL (SELECT unnest(generate_series(1, {_SQL_N_CHUNKS}))
                      AS i)
    """,
    "token_count": f"""
        SELECT doc_id,
               len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
               len(regexp_extract_all(text, '{BPE_ISH}')) AS bpe_tokens
        FROM documents
    """,
    "token_count_by_source": """
        SELECT source, sum(t)::BIGINT AS total_tokens,
               avg(t) AS avg_tokens, count(*) AS n_docs
        FROM (
            SELECT source,
                   len(string_split_regex(trim(text), '\\s+')) AS t
            FROM documents
        ) GROUP BY source
    """,
    "text_quality": f"""
        SELECT doc_id,
               n_tokens::BIGINT AS n_tokens,
               round(n_nospace / n_tokens, 4) AS avg_token_len,
               round((n_chars - n_alnum_sp) / n_chars, 4) AS punct_ratio,
               round(n_stop / n_tokens, 4) AS stopword_ratio
        FROM (
            SELECT doc_id,
                   len(string_split_regex(trim(text), '\\s+'))::DOUBLE
                       AS n_tokens,
                   length(text)::DOUBLE AS n_chars,
                   length(regexp_replace(text, '\\s', '', 'g'))::DOUBLE
                       AS n_nospace,
                   length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))
                       ::DOUBLE AS n_alnum_sp,
                   len(regexp_extract_all(lower(text),
                       '\\b({_COMMON_EN})\\b'))::DOUBLE AS n_stop
            FROM documents
        )
    """,
    "langid_heuristic": f"""
        WITH tokens AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
            FROM documents
        ), hits AS (
            SELECT doc_id, lang, count(*) AS hits
            FROM tokens JOIN {_stopword_values_sql()} USING (word)
            GROUP BY doc_id, lang
        ), best AS (
            SELECT doc_id, lang AS pred, hits,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY hits DESC, lang) AS rk
            FROM hits
        )
        SELECT d.doc_id,
               coalesce(b.pred, 'unknown') AS pred_lang,
               coalesce(b.hits, 0)::BIGINT AS hits
        FROM documents d
        LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON d.doc_id = b.doc_id
    """,
    "doc_fingerprint": """
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                   AS fingerprint
        FROM documents
    """,
    "pmi_bigrams": f"""
        WITH ws AS (
            SELECT string_split_regex(lower(text), '\\s+') AS ws
            FROM documents
        ), uni AS (
            SELECT w, count(*)::BIGINT AS uc
            FROM (SELECT unnest(ws) AS w FROM ws)
            WHERE length(w) > 0 GROUP BY w
        ), tot AS (SELECT sum(uc)::DOUBLE AS total_u FROM uni),
        bi AS (
            SELECT ws[i] AS w1, ws[i + 1] AS w2, count(*)::BIGINT AS bc
            FROM ws,
                 LATERAL (SELECT unnest(generate_series(1, len(ws) - 1))
                          AS i)
            WHERE length(ws[i]) > 0 AND length(ws[i + 1]) > 0
            GROUP BY 1, 2
        )
        SELECT w1, w2, bc,
               round(ln(bc * total_u / (uc1 * uc2)), 4) + 0.0 AS pmi
        FROM bi
        JOIN (SELECT w AS w1, uc AS uc1 FROM uni) USING (w1)
        JOIN (SELECT w AS w2, uc AS uc2 FROM uni) USING (w2), tot
        WHERE bc >= {MIN_BIGRAM}
    """,
    "bm25_search": f"""
        WITH tok AS (
            SELECT doc_id,
                   unnest(string_split_regex(lower(text), '\\s+')) AS w
            FROM documents
        ), tok2 AS (SELECT * FROM tok WHERE length(w) > 0),
        dl AS (
            SELECT doc_id, count(*)::BIGINT AS dl FROM tok2
            GROUP BY doc_id
        ), stats AS (
            SELECT avg(dl)::DOUBLE AS avgdl, count(*)::DOUBLE AS n_docs
            FROM dl
        ), tf AS (
            SELECT doc_id, w, count(*)::BIGINT AS tf FROM tok2
            WHERE w IN {BM25_TERMS!r}
            GROUP BY doc_id, w
        ), df AS (
            SELECT w, count(DISTINCT doc_id)::DOUBLE AS df FROM tf
            GROUP BY w
        )
        SELECT doc_id,
               round(sum(
                   ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * (tf * {BM25_K1 + 1})
                   / (tf + {BM25_K1} * (1 - {BM25_B}
                                        + {BM25_B} * dl / avgdl))
               ), 4) AS bm25
        FROM tf JOIN dl USING (doc_id) JOIN df USING (w), stats
        GROUP BY doc_id
    """,
}

NO_ORACLE: dict[str, str] = {}


from . import dedup as _dedup  # noqa: E402 (oracle composition only)

ORACLES["langid_confusion"] = f"""
    WITH lid AS ({{LANGID}}),
    cm AS (
        SELECT d.lang AS true_lang, lid.pred_lang, count(*)::BIGINT AS n
        FROM documents d JOIN lid ON d.doc_id = lid.doc_id
        GROUP BY 1, 2
    )
    SELECT true_lang, pred_lang, n,
           round(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY true_lang), 6)
               AS share_of_true
    FROM cm
""".replace("{LANGID}", ORACLES["langid_heuristic"])

ORACLES["clean_corpus"] = f"""
    WITH canon AS ({_dedup.ORACLES["dedup_exact"]}),
    q AS ({ORACLES["text_quality"]}),
    lid AS ({ORACLES["langid_heuristic"]})
    SELECT d.doc_id, d.source, lid.pred_lang, q.n_tokens
    FROM documents d
    JOIN canon ON d.doc_id = canon.canonical_id
    JOIN q ON d.doc_id = q.doc_id
    JOIN lid ON d.doc_id = lid.doc_id
    WHERE q.n_tokens >= {MIN_TOKENS}
      AND q.punct_ratio <= {MAX_PUNCT}
      AND lid.pred_lang <> 'unknown'
"""

ORACLES["unigram_surprisal"] = f"""
    WITH words AS (
        SELECT doc_id, unnest({_SQL_WS}) AS w FROM documents
    ),
    counts AS (SELECT w, count(*) AS c FROM words GROUP BY w),
    probs AS (
        SELECT w, c / (SELECT sum(c) FROM counts) AS p FROM counts
    )
    SELECT doc_id,
           round(avg(-ln(p)), 4) AS mean_surprisal,
           count(*)::BIGINT AS n_tokens
    FROM words JOIN probs USING (w)
    GROUP BY doc_id
"""

ORACLES["minhash_jaccard_estimate"] = f"""
    WITH pairs AS ({_dedup.ORACLES["minhash_lsh_pairs"]}),
    sig AS ({_dedup.ORACLES["minhash_signatures"]})
    SELECT p.doc_a, p.doc_b,
           round(avg((a.minhash = b.minhash)::INT), 4) AS jaccard_est
    FROM pairs p
    JOIN sig a ON a.doc_id = p.doc_a
    JOIN sig b ON b.doc_id = p.doc_b AND b.perm = a.perm
    GROUP BY p.doc_a, p.doc_b
"""

ORACLES["pack_sequences_text"] = f"""
    WITH packs AS ({ORACLES["pack_sequences"]})
    SELECT p.source, p.pack_id,
           count(*) AS n_docs,
           sum(p.n_tok)::BIGINT AS n_tokens,
           md5(string_agg(d.text, ' ' ORDER BY d.doc_id)) AS text_fp
    FROM packs p JOIN documents d USING (doc_id)
    GROUP BY 1, 2
"""

ORACLES["quality_calibration"] = """
    WITH ranked AS (
        SELECT doc_id, source, n_chars,
               round(percent_rank() OVER (
                   PARTITION BY source ORDER BY n_chars, doc_id), 6)
                   AS pct_in_source,
               round(percent_rank() OVER (
                   ORDER BY n_chars, doc_id), 6) AS pct_global
        FROM documents
    )
    SELECT *, round(pct_in_source - pct_global, 6) AS calibration_gap
    FROM ranked
"""

ORACLES["bigram_perplexity"] = f"""
    WITH toks AS (
        SELECT doc_id,
               unnest({_SQL_WS}) AS w1,
               generate_subscripts({_SQL_WS}, 1) AS pos
        FROM documents
    ),
    bi AS (
        SELECT doc_id, w1,
               lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM toks
        QUALIFY w2 IS NOT NULL
    ),
    c2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY 1, 2),
    c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
    v AS (SELECT count(DISTINCT w1) AS v FROM toks),
    probs AS (
        SELECT w1, w2,
               (c2 + {BIGRAM_K}) / (c1 + {BIGRAM_K} * v) AS p
        FROM c2 JOIN c1 USING (w1) CROSS JOIN v
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_bigrams,
           round(avg(-ln(p)), 4) AS mean_nll,
           round(exp(avg(-ln(p))), 2) AS ppl
    FROM bi JOIN probs USING (w1, w2)
    GROUP BY doc_id
"""

_GOPHER_STOP_SQL = " + ".join(
    f"list_contains(words, '{w}')::INT" for w in GOPHER_REQUIRED
)

ORACLES["gopher_quality_flags"] = f"""
    WITH w AS (
        SELECT doc_id, text,
               string_split_regex(trim(lower(text)), '\\s+') AS words
        FROM documents
    ),
    base AS (
        SELECT doc_id,
               len(words)::BIGINT AS n_words,
               round(length(regexp_replace(text, '\\s', '', 'g'))
                     / len(words), 4) AS mean_word_len,
               round(len(regexp_extract_all(text, '#|\\.\\.\\.'))
                     / len(words), 4) AS symbol_ratio,
               round(len(list_filter(words,
                         x -> regexp_matches(x, '[a-z]')))
                     / len(words), 4) AS alpha_frac,
               ({_GOPHER_STOP_SQL}) AS stop_hits
        FROM w
    )
    SELECT *,
           n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
               AS pass_word_count,
           mean_word_len BETWEEN {GOPHER_WORD_LEN_LO}
               AND {GOPHER_WORD_LEN_HI} AS pass_word_len,
           symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO} AS pass_symbols,
           alpha_frac >= {GOPHER_MIN_ALPHA_FRAC} AS pass_alpha,
           stop_hits >= {GOPHER_MIN_STOPHITS} AS pass_stopwords,
           (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
           AND (mean_word_len BETWEEN {GOPHER_WORD_LEN_LO}
                AND {GOPHER_WORD_LEN_HI})
           AND symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
           AND alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
           AND stop_hits >= {GOPHER_MIN_STOPHITS} AS keep
    FROM base
"""

ORACLES["vocab_growth_heaps"] = f"""
    WITH mx AS (SELECT max(doc_id) + 1 AS npos FROM documents),
    stepped AS (
        SELECT doc_id,
               ((doc_id + 1) * {HEAPS_STEPS} + npos - 1) // npos AS step
        FROM documents, mx
    ), toks AS (
        SELECT s.step, t.tok
        FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\\s+'))
                       AS tok
            FROM documents
        ) t JOIN stepped s USING (doc_id)
        WHERE length(tok) > 0
    ), docs_per AS (
        SELECT step, count(*) AS nd FROM stepped GROUP BY step
    ), toks_per AS (
        SELECT step, count(*) AS nt FROM toks GROUP BY step
    ), vocab_per AS (
        SELECT step, count(*) AS nv FROM (
            SELECT tok, min(step) AS step FROM toks GROUP BY tok
        ) GROUP BY step
    ), cum AS (
        SELECT g.step::INT AS step,
               sum(COALESCE(nd, 0)) OVER (ORDER BY g.step)::BIGINT
                   AS docs_cum,
               sum(COALESCE(nt, 0)) OVER (ORDER BY g.step)::BIGINT
                   AS tokens_cum,
               sum(COALESCE(nv, 0)) OVER (ORDER BY g.step)::BIGINT
                   AS vocab_cum
        FROM generate_series(1, {HEAPS_STEPS}) AS g(step)
        LEFT JOIN docs_per d ON g.step = d.step
        LEFT JOIN toks_per t ON g.step = t.step
        LEFT JOIN vocab_per v ON g.step = v.step
    ), ends AS (
        SELECT max(CASE WHEN step = 1 THEN vocab_cum END) AS v1,
               max(CASE WHEN step = {HEAPS_STEPS} THEN vocab_cum END) AS v8,
               max(CASE WHEN step = 1 THEN tokens_cum END) AS t1,
               max(CASE WHEN step = {HEAPS_STEPS} THEN tokens_cum END) AS t8
        FROM cum
    )
    SELECT step, docs_cum, tokens_cum, vocab_cum,
           round((ln(v8) - ln(v1)) / (ln(t8) - ln(t1)), 6) AS heaps_beta
    FROM cum, ends
"""

ORACLES["wilson_lang_share"] = f"""
    WITH agg AS (
        SELECT source, count(*)::BIGINT AS n_docs,
               sum(CASE WHEN lang = '{AUC_POS_LANG}' THEN 1 ELSE 0
                   END)::BIGINT AS n_pos
        FROM documents GROUP BY source
    ), t AS (
        SELECT source, n_docs, n_pos,
               CAST(n_docs AS DOUBLE) AS n,
               CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE) AS p,
               CAST({WILSON_Z} AS DOUBLE) AS z,
               CAST({WILSON_Z} AS DOUBLE) * CAST({WILSON_Z} AS DOUBLE)
                   AS z2
        FROM agg
    )
    SELECT source, n_docs, n_pos,
           round(p, 4) AS share,
           round((p + z2 / (2.0 * n)) / (1.0 + z2 / n)
                 - (z / (1.0 + z2 / n))
                   * sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n)),
                 4) AS ci_lo,
           round((p + z2 / (2.0 * n)) / (1.0 + z2 / n)
                 + (z / (1.0 + z2 / n))
                   * sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n)),
                 4) AS ci_hi
    FROM t
"""

# PAV as a recursive CTE: the merge chain is data-dependent but each
# iteration performs exactly ONE action (merge the pending block with
# the stack top on an exact integer cross-multiply violation, else
# advance to the next point), so the recursion replays the engine's
# pav_blocks() bit-for-bit. The stack rides along as LIST columns
# (Holt-Winters LIST-CTE technique); the only float op is the final
# pos/w division, decimal-snapped before the 6dp round on both sides.
ORACLES["isotonic_calibration"] = f"""
    WITH RECURSIVE pooled AS (
        SELECT source, n_chars,
               count(*)::BIGINT AS w,
               sum(CASE WHEN lang = '{AUC_POS_LANG}' THEN 1 ELSE 0
                   END)::BIGINT AS pos
        FROM documents GROUP BY source, n_chars
    ), pts AS (
        SELECT source, n_chars, w, pos,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars) AS rn,
               count(*) OVER (PARTITION BY source) AS n
        FROM pooled
    ), pav AS (
        SELECT source, CAST(1 AS BIGINT) AS rn, n,
               CAST([] AS BIGINT[]) AS slo, CAST([] AS BIGINT[]) AS shi,
               CAST([] AS BIGINT[]) AS sw,  CAST([] AS BIGINT[]) AS spos,
               n_chars AS plo, n_chars AS phi, w AS pw, pos AS ppos
        FROM pts WHERE rn = 1
        UNION ALL
        SELECT s.source,
               CASE WHEN s.viol THEN s.rn ELSE s.rn + 1 END,
               s.n,
               CASE WHEN s.viol THEN s.slo[1:len(s.slo)-1]
                    ELSE list_append(s.slo, s.plo) END,
               CASE WHEN s.viol THEN s.shi[1:len(s.shi)-1]
                    ELSE list_append(s.shi, s.phi) END,
               CASE WHEN s.viol THEN s.sw[1:len(s.sw)-1]
                    ELSE list_append(s.sw, s.pw) END,
               CASE WHEN s.viol THEN s.spos[1:len(s.spos)-1]
                    ELSE list_append(s.spos, s.ppos) END,
               CASE WHEN s.viol THEN s.slo[len(s.slo)]
                    ELSE p.n_chars END,
               CASE WHEN s.viol THEN s.phi ELSE p.n_chars END,
               CASE WHEN s.viol THEN s.sw[len(s.sw)] + s.pw
                    ELSE p.w END,
               CASE WHEN s.viol THEN s.spos[len(s.spos)] + s.ppos
                    ELSE p.pos END
        FROM (SELECT pav.*,
                     len(slo) > 0
                     AND spos[len(spos)] * pw >= ppos * sw[len(sw)]
                         AS viol
              FROM pav) s
        LEFT JOIN pts p ON p.source = s.source AND p.rn = s.rn + 1
        WHERE s.viol OR s.rn < s.n
    ), fin AS (
        SELECT * FROM pav
        WHERE rn = n
          AND NOT (len(slo) > 0
                   AND spos[len(spos)] * pw >= ppos * sw[len(sw)])
    ), blocks AS (
        SELECT source,
               unnest(list_append(slo, plo)) AS x_lo,
               unnest(list_append(shi, phi)) AS x_hi,
               unnest(list_append(sw, pw)) AS w,
               unnest(list_append(spos, ppos)) AS pos
        FROM fin
    )
    SELECT source, x_lo, x_hi, CAST(w AS DOUBLE) AS weight,
           CAST(round(CAST(CAST(pos AS DOUBLE) / w AS DECIMAL(18,8)),
                      6) AS DOUBLE) AS p_calibrated
    FROM blocks
"""

# approx_topk_tokens: oracle-able because the query's determinism
# contract (strictly-above-the-Kth-count items, (count, token) order)
# makes the sketch result unique wherever the sketch is exact — which
# the twin test pins at the graded SFs. The oracle derives the same
# threshold from exact counts: the K-th largest count value is
# well-defined regardless of tie order.
ORACLES["approx_topk_tokens"] = f"""
    WITH words AS (
        SELECT unnest(string_split_regex(lower(trim(text)), '\\s+'))
            AS w
        FROM documents
    ), c AS (
        SELECT w, count(*)::BIGINT AS n FROM words GROUP BY w
    ), ranked AS (
        SELECT w, n, row_number() OVER (ORDER BY n DESC, w) AS r
        FROM c
    ), thr AS (
        SELECT n AS nmin FROM ranked WHERE r = {APPROX_TOPK_K}
    )
    SELECT CAST(row_number() OVER (ORDER BY n DESC, w) AS BIGINT)
               AS rk,
           w AS token, n AS est_count
    FROM c LEFT JOIN thr ON TRUE
    WHERE nmin IS NULL OR n > nmin
"""

NO_ORACLE: dict[str, str] = {}
