"""Corpus-filter operators for training-data pipelines (engine-added
capability beyond reference parity, alongside llm/text.py).

Four production filters every large-scale pretraining pipeline runs:
repetition scoring (Gopher-style dup-ngram ratios), benchmark
contamination checks (n-gram overlap vs an eval set), PII redaction
(regex scrub + counts), and corpus-shape histograms. All pure built-in
DataFrame plans — JVM-side, whole-stage-codegen, no Python UDFs.

Scale posture: repetition / redaction / histogram are scan → narrow
per-row compute → (at most) a low-cardinality groupBy. Contamination
joins the corpus gram stream against the EVAL SET's gram table — eval
suites are small by construction (thousands of docs, not billions), so
that side broadcasts even when the corpus is 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, spread
from ..functions.numeric import nz

# Shared Spark/DuckDB regexes — RE2-compatible (no backrefs/lookahead).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"
PHONE_RE = r"\d{3}-\d{3}-\d{4}"

# Every doc_id ≡ PII_REM (mod PII_MOD) gets a deterministic PII suffix
# before redaction — the synthetic corpus contains no organic PII, so
# the fixture is enriched in-plan to exercise the scrubber (both the
# Spark plan and the oracle apply the same enrichment).
PII_MOD, PII_REM = 7, 0

# Benchmark ("eval set") proxy: doc_id ≡ EVAL_REM (mod EVAL_MOD).
EVAL_MOD, EVAL_REM = 10, 7

HIST_BUCKET_WORDS = 32  # token-histogram bucket width


def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics per document: the fraction of
    duplicated words and duplicated word-bigrams. High ratios flag
    boilerplate/spam for corpus filtering (Rae et al. 2021 §A1.1)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    ws = F.split(F.lower("text"), " ")
    base = d.select("doc_id", ws.alias("ws")).filter(F.size("ws") >= 2)
    bigrams = F.expr(
        # greatest(..., 1): keep the expression total — Spark's
        # sequence() runs DESCENDING past the stop (sequence(1, 0) =
        # [1, 0]) and optimizer-inferred filters can evaluate hoisted
        # subexpressions before the size guard short-circuits (see
        # ngram_jaccard_pairs); the clamp's junk bigram only exists on
        # rows the size filter discards
        "transform(sequence(1, greatest(size(ws) - 1, 1)), "
        "i -> array_join(slice(ws, i, 2), ' '))"
    )
    return base.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_words"),
        F.round(
            1 - F.size(F.array_distinct("ws")) / F.size("ws"), 4
        ).alias("dup_word_ratio"),
        F.round(
            1 - F.size(F.array_distinct(bigrams)) / (F.size("ws") - 1), 4
        ).alias("dup_bigram_ratio"),
    )


def contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: for every training document, the
    fraction of its distinct word-3-grams that appear anywhere in the
    eval set (docs with doc_id % EVAL_MOD == EVAL_REM). Standard
    pre-training hygiene (GPT-3 appendix C / PaLM §7); docs above a
    threshold are quarantined before training."""
    d = spread(load_table(spark, sf_dir, "documents"))
    words = d.select("doc_id", F.split(F.lower("text"), " ").alias("ws"))
    grams = (
        words.filter(F.size("ws") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    # total expression (see repetition_ratio note)
                    "transform(sequence(1, greatest(size(ws) - 2, 1)), "
                    "i -> array_join(slice(ws, i, 3), ' '))"
                )
            ).alias("g"),
        )
        .dropDuplicates(["doc_id", "g"])
        # persisted: the eval-side gram set and the training side each
        # re-ran the explode + dedup shuffle before round 10
        .persist()
    )
    is_eval = (F.col("doc_id") % EVAL_MOD) == EVAL_REM
    eval_grams = (
        grams.filter(is_eval).select("g").distinct().withColumn("hit", F.lit(1))
    )
    return (
        grams.filter(~is_eval)
        .join(F.broadcast(eval_grams), on="g", how="left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("hit").alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_grams"), 4).alias(
                "contamination"
            ),
        )
    )


def stream_url_frontier_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING crawl-frontier dedup — the incremental twin of
    ``url_canonical_dedup``: discovered URLs arrive in micro-batches,
    are canonicalized IN-STREAM with the exact map-side transform the
    batch query uses (``_canonicalized`` — stateless string algebra,
    legal on a streaming frame), and
    ``dropDuplicatesWithinWatermark(["canonical"])`` admits each
    RESOURCE once across batches — the "have we already scheduled this
    URL" gate every crawler runs, with state bounded by the watermark
    horizon instead of growing with the crawl.

    Fixture layout (what makes the state path non-trivial): the staged
    stream is range-partitioned on the spelling VARIANT, so successive
    micro-batches carry DIFFERENT spellings of the same resources —
    re-emission is prevented only by canonical-key state held across
    batches, never by in-batch uniqueness. Determinism under racy
    in-batch winners uses the stream_dedup_drain trick: the emitted
    projection (canonical, host) is identical whichever raw spelling
    wins the state race, so the drained append output is EXACTLY the
    distinct resource universe — the oracle. Every crawl_ts shares one
    frontier epoch (doc_id microseconds apart), so nothing is ever
    late; watermark-DISCARD itself is graded by
    stream_late_drop_drain."""
    from ..operators.temporal import (  # noqa: PLC0415
        DRAIN_FILES_PER_TRIGGER,
        _drain_bounded,
        _drain_session,
    )
    from ..streaming.docs import staged_stream  # noqa: PLC0415

    spark = _drain_session(spark)

    def frames() -> list[DataFrame]:
        docs = load_table(spark, sf_dir, "documents").select("doc_id")
        feed = _planted_urls(docs).withColumn(
            "crawl_ts",
            F.timestamp_micros(
                F.lit(1_600_000_000_000_000) + F.col("doc_id")
            ),
        )
        return [feed.repartitionByRange(4, F.col("v"), F.col("doc_id"))]

    # 2 variant-range files per trigger (round-11 trigger coarsening —
    # rationale at DRAIN_FILES_PER_TRIGGER): the emitted universe is
    # batching-independent, and re-arrivals still cross the remaining
    # batch boundary (every canonical resource appears in BOTH
    # batches' spelling ranges)
    raw = staged_stream(
        spark,
        "url_frontier4",
        sf_dir,
        "documents",
        frames,
        DRAIN_FILES_PER_TRIGGER,
    )
    res = (
        _canonicalized(raw, keep=["crawl_ts"])
        .withWatermark("crawl_ts", "48 hours")
        .dropDuplicatesWithinWatermark(["canonical"])
        .select("canonical", "host")
    )
    return _drain_bounded(
        spark, res, "stream_url_frontier_sink", "append", sf_dir=sf_dir
    )


TOPK_K = 5  # podium size held per source in the ranked state


def stream_topk_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING per-source best-K — the TENTH streaming state shape:
    BOUNDED RANKED state. Every shape graded so far holds either a
    scalar accumulator (totals), a set (dedup / frontier), an interval
    (session), or a match buffer (joins); this one holds an ORDERED
    top-K podium per key that each micro-batch must merge into and
    truncate — the "keep only the best K documents per domain" gate a
    quality-curated pretraining mix runs at ingest, where K is the
    per-domain budget and score is the quality signal.

    Execution: the documents table is staged as four files
    HASH-partitioned on doc_id, two files per trigger, so each source's
    contenders are scattered across micro-batches and the final podium
    exists only in cross-batch state (pinned in tests: every source's
    final top-K draws from ≥2 staged files at sf0.01). State per key is
    exactly K (score, doc_id) pairs plus a seen-counter — O(K), never
    O(stream); merging is associative (top-K of a union = top-K of
    merged top-Ks), so the final podium is independent of how the
    hash split the stream, which is what makes it reconcilable.

    Determinism of the drained sink: update-mode emits one snapshot per
    (source, batch-with-rows), and ``n_seen`` strictly increases across
    a key's snapshots (a key's update fires only when the batch carries
    its rows), so the FINAL podium per source is the snapshot at
    max(n_seen) — selected by window below. Ties in score are broken
    by doc_id ascending in both the state merge and the oracle's
    row_number ordering (the sf0.01 fixture has 15 in-source tie
    classes, so the tie path is genuinely exercised).

    At 100 TB: state is keys × K rows; the only shuffle is the
    groupBy(source) exchange every stateful operator pays. The
    update-mode snapshot stream is podium-grain, not input-grain."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql import Window  # noqa: PLC0415
    from pyspark.sql.streaming.state import GroupState  # noqa: PLC0415

    from ..operators.temporal import (  # noqa: PLC0415
        DRAIN_FILES_PER_TRIGGER,
        _drain_bounded,
        _drain_session,
    )
    from ..streaming.docs import staged_stream  # noqa: PLC0415

    spark = _drain_session(spark)

    out_schema = "source string, rnk int, doc_id long, score long, n_seen long"
    state_schema = "doc_ids array<long>, scores array<long>, n_seen long"

    def update(key, pdfs, state: GroupState):
        if state.exists:
            doc_ids, scores, n_seen = state.get
            pairs = [
                (int(s), int(d)) for s, d in zip(scores, doc_ids)
            ]
        else:
            pairs, n_seen = [], 0
        for pdf in pdfs:
            n_seen += len(pdf)
            pairs.extend(
                zip(
                    pdf["n_chars"].astype("int64").tolist(),
                    pdf["doc_id"].astype("int64").tolist(),
                )
            )
        # highest score first, doc_id ascending inside a tie class —
        # the oracle's ORDER BY n_chars DESC, doc_id
        pairs.sort(key=lambda p: (-p[0], p[1]))
        pairs = pairs[:TOPK_K]
        state.update(
            (
                [d for _, d in pairs],
                [s for s, _ in pairs],
                int(n_seen),
            )
        )
        yield pd.DataFrame(
            {
                "source": [key[0]] * len(pairs),
                "rnk": list(range(1, len(pairs) + 1)),
                "doc_id": [d for _, d in pairs],
                "score": [s for s, _ in pairs],
                "n_seen": [int(n_seen)] * len(pairs),
            }
        )

    # 2 doc_id-hash files per trigger (round-11 trigger coarsening —
    # rationale at DRAIN_FILES_PER_TRIGGER): top-K merge is associative
    # so the final podium is batching-independent, and the hash split
    # still scatters every source's contenders across both batches
    raw = staged_stream(
        spark,
        "topk_docs4",
        sf_dir,
        "documents",
        lambda: [
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "source", "n_chars")
            .repartition(4, F.col("doc_id"))
        ],
        DRAIN_FILES_PER_TRIGGER,
    )
    res = raw.groupBy("source").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    snap = _drain_bounded(
        spark, res, "stream_topk_sink", "update",
        sf_dir=sf_dir, python_stateful=True,
    )
    final_seen = F.max("n_seen").over(Window.partitionBy("source"))
    return (
        snap.withColumn("mx", final_seen)
        .where(F.col("n_seen") == F.col("mx"))
        .select("source", "rnk", "doc_id", "score")
    )


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: count and redact emails, URLs and phone numbers with
    shared RE2-safe regexes (email → URL → phone, in that order). The
    fixture corpus has no organic PII, so a deterministic PII suffix is
    appended to every PII_MOD-th doc in-plan (same enrichment in the
    oracle) to exercise the scrubber end-to-end. Output carries the
    redacted text's md5 so the comparison stays compact."""
    d = spread(load_table(spark, sf_dir, "documents"))
    did = F.col("doc_id").cast("string")
    enriched = F.when(
        (F.col("doc_id") % PII_MOD) == PII_REM,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            did,
            F.lit("@example.com via https://ex.org/p/"),
            did,
            F.lit(" call 555-123-4567"),
        ),
    ).otherwise(F.col("text"))
    base = d.select("doc_id", enriched.alias("t"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("t", EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"
        ),
        PHONE_RE,
        "<PHONE>",
    )
    return base.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(EMAIL_RE), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(URL_RE), F.lit(0)))
        .cast("long")
        .alias("n_urls"),
        F.size(F.regexp_extract_all("t", F.lit(PHONE_RE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.md5(redacted).alias("redacted_fp"),
    )


QUOTA_PER_SOURCE = 10  # max docs kept per source
QUOTA_SALTS = 4  # stage-1 fan-out bounding per-source window size


def quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (the per-domain quota every crawl
    pipeline applies so no single domain dominates the corpus): keep
    the QUOTA_PER_SOURCE best docs per source, best = longest
    (n_chars DESC, doc_id tiebreak — a total order, so results are
    deterministic and oracle-checkable).

    Scale posture: a naive ``row_number() OVER (PARTITION BY source)``
    sends EVERY row of a hot domain to one reducer. Stage 1 instead
    ranks within (source, salt) — salt = hash(doc_id) % QUOTA_SALTS —
    which caps any reducer's input at ~1/QUOTA_SALTS of the hottest
    domain and keeps at most QUOTA_SALTS x quota rows per source;
    stage 2 ranks those survivors per source, a window over provably
    tiny groups. Each salt group's local top-N is a superset of its
    members in the global top-N, so the two-stage plan is exact."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window  # noqa: PLC0415

    order = [F.col("n_chars").desc(), F.col("doc_id")]
    w1 = Window.partitionBy("source", "salt").orderBy(*order)
    w2 = Window.partitionBy("source").orderBy(*order)
    pruned = (
        d.select(
            "doc_id",
            "source",
            "n_chars",
            F.pmod(F.hash("doc_id"), F.lit(QUOTA_SALTS)).alias("salt"),
        )
        .withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= QUOTA_PER_SOURCE)
        .drop("r1", "salt")
    )
    return (
        pruned.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= QUOTA_PER_SOURCE)
    )


def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-shape histogram: documents bucketed by whitespace token
    count (bucket width HIST_BUCKET_WORDS). The monitoring query every
    ingestion pipeline runs per batch; one low-cardinality groupBy."""
    d = spread(load_table(spark, sf_dir, "documents"))
    n = F.size(F.split(F.trim("text"), r"\s+")).cast("long")
    return (
        d.select(n.alias("n_tokens"), F.col("n_chars"))
        .select(
            F.expr(f"n_tokens div {HIST_BUCKET_WORDS}").alias("bucket"),
            "n_tokens",
            "n_chars",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
    )


# Data-mixing spec: sources src0-src4 get 3× the weight of the rest;
# keep KEEP_FRAC of the corpus overall. Rates are derived IN-PLAN from
# the corpus' own per-source counts — no hand-tuned per-source knobs.
MIX_KEEP_FRAC = 0.5
MIX_HOT_WEIGHT, MIX_COLD_WEIGHT = 3, 1
MIX_HOT_SOURCES = ("src0", "src1", "src2", "src3", "src4")
MIX_RES = 1_000_000  # hash-sampling resolution


def mix_sources_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mixing (data curation): re-balance the corpus so
    hot sources get weight 3 and the rest weight 1, keeping
    MIX_KEEP_FRAC of all documents, via DETERMINISTIC md5-hash
    sampling. The per-source rate is min(1, target_s / n_s) with
    target_s = KEEP_FRAC · N · w_s / Σw — computed by the plan itself
    from per-source counts.

    Scale posture: one groupBy(source) for the stats (tiny output), a
    1-row scalar broadcast for the totals, a broadcast rate-table join
    back onto the corpus, then a narrow hash filter. The 100 TB corpus
    is scanned once and never shuffled."""
    d = spread(load_table(spark, sf_dir, "documents"))
    w = F.when(
        F.col("source").isin(*MIX_HOT_SOURCES), F.lit(MIX_HOT_WEIGHT)
    ).otherwise(F.lit(MIX_COLD_WEIGHT))
    # source-grain (tiny) — persisted: its two consumers (totals, the
    # rate table) each re-ran the corpus count before round 10
    stats = (
        d.groupBy("source")
        .agg(F.count("*").alias("n_s"))
        .withColumn("w", w)
        .persist()
    )
    totals = stats.agg(
        F.sum("n_s").alias("n_total"), F.sum("w").alias("w_total")
    )
    rates = stats.join(F.broadcast(totals)).select(
        "source",
        F.least(
            F.lit(1.0),
            F.lit(MIX_KEEP_FRAC)
            * F.col("n_total")
            * F.col("w")
            / (F.col("w_total") * F.col("n_s")),
        ).alias("rate"),
    )
    h = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % MIX_RES
    )
    return (
        d.select("doc_id", "source")
        .join(F.broadcast(rates), on="source")
        .filter(h < F.floor(F.col("rate") * MIX_RES))
        .select("doc_id", "source")
    )


SPLIT_TRAIN_PCT = 90  # train < 90, val < 95, else test
SPLIT_VAL_PCT = 95


def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment by content-stable
    hash of the document id — reproducible across runs, clusters, and
    re-partitioning (no rand(), which re-rolls under task retries), and
    stable under corpus growth: adding documents never moves an
    existing one between splits. Pure map — no shuffle at any scale."""
    d = load_table(spark, sf_dir, "documents")
    h = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
            16,
            10,
        ).cast("long")
        % 100
    )
    split = (
        F.when(h < SPLIT_TRAIN_PCT, "train")
        .when(h < SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    return d.select("doc_id", "source", split.alias("split"))


LEN_BUCKET_CHARS = 100  # length-histogram bucket width (chars)
LEN_BUCKET_MAX = 5      # open-ended top bucket
LM_TARGET_LANG = "en"   # distribution to match (same target as DSIR)


def length_matched_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-matched sampling: the largest subset of the RAW
    pool (non-target-language docs) whose length histogram is
    proportional to the TARGET corpus's (lang = 'en') — the
    covariate-matching step that removes length as a confounder before
    comparing corpora or mixing them (the non-semantic half of DSIR's
    importance resampling; ``dsir_importance`` scores content, this
    matches shape).

    Exact and engine-independent by construction: bucket counts,
    the achievable sample size  N = min_b floor(n_raw_b·T / n_tgt_b),
    and per-bucket quotas floor(N·n_tgt_b / T) are ALL integer
    arithmetic; within-bucket selection is an md5-ordered rank — no
    floating point anywhere, so Spark and the oracle pick identical
    rows. The stats/quota frames are O(buckets); the only data-sized
    ops are one bucket groupBy and one per-bucket rank window.
    """
    from pyspark.sql.window import Window  # noqa: PLC0415

    d = spread(load_table(spark, sf_dir, "documents"))
    # thin 3-column frame, persisted: its three consumers (target
    # histogram, raw histogram, the raw rank window) each re-scanned
    # the corpus before round 10
    docs = d.select(
        "doc_id",
        "lang",
        F.expr(
            f"least(n_chars div {LEN_BUCKET_CHARS}, {LEN_BUCKET_MAX})"
        ).alias("bucket"),
    ).persist()
    tgt = (
        docs.filter(F.col("lang") == LM_TARGET_LANG)
        .groupBy("bucket")
        .agg(F.count("*").alias("n_tgt"))
    )
    raw = docs.filter(F.col("lang") != LM_TARGET_LANG)
    rawc = raw.groupBy("bucket").agg(F.count("*").alias("n_raw"))
    wall = Window.partitionBy()
    stats = (
        rawc.join(tgt, on="bucket", how="full_outer")
        .na.fill(0, ["n_raw", "n_tgt"])
        .withColumn("tot_tgt", F.sum("n_tgt").over(wall))
        .withColumn(
            "cap",
            F.when(
                F.col("n_tgt") > 0,
                F.expr("n_raw * tot_tgt div n_tgt"),
            ),
        )
        .withColumn("n_keep", F.min("cap").over(wall))
    )
    quota = stats.select(
        "bucket", F.expr("n_keep * n_tgt div tot_tgt").alias("quota")
    )
    wr = Window.partitionBy("bucket").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = raw.select(
        "doc_id", "bucket", F.row_number().over(wr).cast("long").alias("rk")
    )
    return (
        ranked.join(F.broadcast(quota), on="bucket")
        .filter(F.col("rk") <= F.col("quota"))
        .select("doc_id", "bucket", "rk")
    )


TEMP_ALPHA = 0.7   # sampling temperature (multilingual standard)
ABL_SHORT_CHARS = 100  # ablation flag: short-document threshold
ABL_DUP_RATIO = 0.3    # ablation flag: duplicated-word-ratio threshold


def _per_source_multipliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE definition of the temperature scheme's per-source frame
    (n_docs, n_toks, share, temp weight, multiplier) shared by
    ``temperature_sampling_weights`` and ``sampling_ess`` — a drifted
    copy would make the ESS diagnose a scheme production no longer
    samples with. NULL text counts as empty (0-safe: split('') still
    yields one token, matching the oracle's coalesce)."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    d = spread(load_table(spark, sf_dir, "documents"))
    per = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.size(
                F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+")
            ).cast("long")
        ).alias("n_toks"),
    )
    wall = Window.partitionBy()
    share = F.col("n_toks") / F.sum("n_toks").over(wall)
    raw_w = F.pow(share, F.lit(TEMP_ALPHA))
    weight = raw_w / F.sum(raw_w).over(wall)
    return per.select(
        "source",
        "n_docs",
        "n_toks",
        share.alias("share"),
        weight.alias("weight"),
        (weight / share).alias("m"),
    )


def temperature_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source re-weighting: sampling probability
    proportional to share^alpha (alpha = 0.7 — the multilingual-corpus
    standard that up-samples small sources without letting any one
    source dominate; mT5/XLM-R recipe). Emits, per source, the raw
    token share, the temperature weight, and the up/down-sampling
    multiplier a sampler applies to that source's documents.

    One scan -> per-source token counts; everything after operates on
    the |sources|-row aggregate (windows over it are declared in the
    lint allowlist). Consumes like ``mix_sources_weighted`` but with a
    principled curve instead of hand weights. The frame comes from
    ``_per_source_multipliers`` — shared verbatim with sampling_ess.
    """
    return _per_source_multipliers(spark, sf_dir).select(
        "source",
        "n_toks",
        F.round("share", 6).alias("token_share"),
        F.round("weight", 6).alias("temp_weight"),
        F.round("m", 6).alias("sample_multiplier"),
    )


def sampling_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective sample size of the temperature-sampling scheme —
    Kish's ESS = (Σw)²/Σw² over per-document multipliers — the one
    number that says how much statistical power re-weighting costs
    (ESS/N = 1 means uniform; heavy up-weighting of tiny sources
    collapses it). Run this BEFORE committing to an α: it is the
    standard importance-sampling diagnostic.

    Each document carries its source's ``sample_multiplier`` (the ONE
    ``_per_source_multipliers`` frame temperature_sampling_weights also
    renders), so Σw and Σw² reduce per source: Σw = Σₛ n_docsₛ·mₛ,
    Σw² = Σₛ n_docsₛ·mₛ² — everything after the one corpus scan
    operates on the |sources|-row aggregate."""
    per_m = _per_source_multipliers(spark, sf_dir).select("n_docs", "m")
    agg = per_m.agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum(F.col("n_docs") * F.col("m")).alias("sw"),
        F.sum(F.col("n_docs") * F.col("m") * F.col("m")).alias("sw2"),
    )
    ess = F.col("sw") * F.col("sw") / F.col("sw2")
    return agg.select(
        "n_docs",
        F.round(ess, 4).alias("ess"),
        F.round(ess / F.col("n_docs"), 6).alias("ess_ratio"),
    )


def filter_ablation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-attribution telemetry: every corpus filter's hit count
    AND their overlap, as one row per flag combination — the report a
    data team reads before tuning thresholds (does the repetition
    filter only re-remove what the length filter already caught?).

    Three production flags — too-short, repetitive (dup-word ratio),
    contains-PII (same deterministic fixture enrichment as
    ``pii_redaction``) — computed in ONE scan as boolean columns, then
    an 8-row-max groupBy. Adding a flag adds a column, never a scan.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    enriched_text = F.when(
        F.col("doc_id") % PII_MOD == PII_REM,
        F.concat(
            F.col("text"), F.lit(" contact x@y.com 555-123-4567")
        ),
    ).otherwise(F.col("text"))
    ws = F.split(F.lower("text"), " ")
    dup_ratio = 1 - F.size(F.array_distinct(ws)) / F.size(ws)
    flagged = d.select(
        (F.col("n_chars") < ABL_SHORT_CHARS).alias("flag_short"),
        (dup_ratio > ABL_DUP_RATIO).alias("flag_repetitive"),
        enriched_text.rlike(
            f"{EMAIL_RE}|{URL_RE}|{PHONE_RE}"
        ).alias("flag_pii"),
    )
    return (
        flagged.groupBy("flag_short", "flag_repetitive", "flag_pii")
        .agg(F.count("*").alias("n_docs"))
    )


def corpus_mix_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-balance monitor: per-source token counts, token share of
    the corpus, and each source's Shannon-entropy contribution
    (-p·ln p). The sum of entropy_term over sources is the mixture
    entropy — the one number that says whether a data mix collapsed
    toward one source between snapshots (pair with
    ``mix_sources_weighted``, which re-weights; this one measures).

    One scan -> |sources|-cardinality aggregate; the global total is a
    window over the already-aggregated ~|sources| rows (single
    partition over tiny data, declared in the lint allowlist — the
    exchange carries one row per source, never documents).
    """
    from pyspark.sql.window import Window  # noqa: PLC0415

    d = spread(load_table(spark, sf_dir, "documents"))
    per = d.groupBy("source").agg(
        F.sum(
            F.size(F.split(F.trim("text"), r"\s+")).cast("long")
        ).alias("n_toks")
    )
    tot = F.sum("n_toks").over(Window.partitionBy())
    share = F.col("n_toks") / tot
    return per.select(
        "source",
        "n_toks",
        F.round(share, 6).alias("token_share"),
        F.round(-share * F.log(share), 6).alias("entropy_term"),
    )


BOOT_R = 50  # bootstrap replicates
# Poisson(1) inverse-CDF thresholds (cumulative probabilities) — the
# same literals appear in the DuckDB oracle so both engines draw
# identical deterministic weights from identical md5 uniforms
_POIS_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9998167774581284,
    0.9999684972373107,
)


def _poisson_case(u_col: str) -> str:
    branches = " ".join(
        f"WHEN {u_col} < {p!r} THEN {k}"
        for k, p in enumerate(_POIS_CDF)
    )
    return f"CASE {branches} ELSE {len(_POIS_CDF)} END"


def bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source bootstrap confidence interval for mean document
    length: the online-Poisson bootstrap (Oza 2001 / Chamandy et al.
    2012 "Estimating Uncertainty for Massive Data Streams") — every
    document contributes a DETERMINISTIC Poisson(1) weight per
    replicate, drawn from an md5 uniform, so each replicate is a
    resample-with-replacement computed in one streaming pass with no
    data movement per replicate and the whole query is replayable
    (and DuckDB-oracle-checkable, unlike rand()-based bootstraps).

    Scale posture: the ×BOOT_R fan-out is map-side (explode of a
    sequence literal); the first aggregate collapses straight to
    (source, replicate) grain — BOOT_R rows per source cross the wire,
    not BOOT_R copies of the corpus; the percentile pass runs on
    BOOT_R-row groups."""
    d = spread(load_table(spark, sf_dir, "documents"))
    reps = d.select(
        "source",
        "doc_id",
        F.col("n_chars").cast("double").alias("m"),
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_R - 1))).alias("rep"),
    ).select(
        "source",
        "rep",
        "m",
        F.expr(
            _poisson_case(
                "(conv(substring(md5(concat(rep, ':', doc_id)), 1, 8), "
                "16, 10) / 4294967296.0)"
            )
        ).alias("k"),
    )
    rep_means = (
        reps.groupBy("source", "rep")
        .agg(
            F.sum(F.col("k") * F.col("m")).alias("wm"),
            F.sum("k").alias("wt"),
        )
        .filter(F.col("wt") > 0)
        .select("source", "rep", (F.col("wm") / F.col("wt")).alias("rm"))
    )
    point = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("mean_chars"),
    )
    ci = rep_means.groupBy("source").agg(
        F.round(F.expr("percentile(rm, 0.025)"), 4).alias("ci_lo"),
        F.round(F.expr("percentile(rm, 0.5)"), 4).alias("ci_mid"),
        F.round(F.expr("percentile(rm, 0.975)"), 4).alias("ci_hi"),
    )
    # source-grain tiny frames: broadcast the CI side instead of
    # co-shuffling both legs on source (round-10 shave)
    return point.join(F.broadcast(ci), on="source").select(
        "source", "n_docs", "mean_chars", "ci_lo", "ci_mid", "ci_hi"
    )


PSI_BINS = 8        # equal-width n_chars bins for the drift histogram
PSI_SNAP_MOD = 3    # doc_id % 3 == 0 models the new snapshot (llm/dedup)
PSI_SMOOTH = 0.0005  # add-ε on bin shares (avoids ln(0) on empty bins)


def population_stability_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distribution-drift monitor between corpus snapshots: the
    Population Stability Index of the document-length distribution,
    per source — PSI = Σ_bins (p_new − p_old)·ln(p_new/p_old), the
    standard before/after-ingest alarm (rule of thumb: < 0.1 stable,
    > 0.25 investigate). Snapshots follow the cross_snapshot_dedup
    convention (doc_id % PSI_SNAP_MOD == 0 = newly-crawled batch).

    Scale posture: bin boundaries are fixed equal-width literals (no
    quantile pass); the whole query is one (source, bin) aggregate with
    map-side partials plus a per-source reduce — two vocabulary-free
    shuffles carrying O(sources × bins) rows."""
    d = spread(load_table(spark, sf_dir, "documents"))
    width = 1000.0 / PSI_BINS
    binned = d.select(
        "source",
        ((F.col("doc_id") % PSI_SNAP_MOD) == 0).alias("is_new"),
        F.least(
            F.floor(F.col("n_chars") / width), F.lit(PSI_BINS - 1)
        ).cast("long").alias("bin"),
    )
    # (source, bin) grain (tiny) — persisted: the per-source totals
    # and the PSI-term join each re-ran the corpus aggregate before
    # round 10; the totals side is broadcast (source-grain)
    counts = binned.groupBy("source", "bin").agg(
        F.sum(F.col("is_new").cast("long")).alias("n_new"),
        F.sum((~F.col("is_new")).cast("long")).alias("n_old"),
    ).persist()
    totals = counts.groupBy("source").agg(
        F.sum("n_new").alias("t_new"), F.sum("n_old").alias("t_old")
    )
    # nz: a snapshot where one side is entirely absent for a source
    # (first load, a source created after the cutover) gives t = 0 —
    # the PSI for that source becomes NULL instead of an ANSI crash
    p_new = F.col("n_new") / nz(F.col("t_new")) + PSI_SMOOTH
    p_old = F.col("n_old") / nz(F.col("t_old")) + PSI_SMOOTH
    return (
        counts.join(F.broadcast(totals), on="source")
        .select(
            "source",
            ((p_new - p_old) * F.log(p_new / p_old)).alias("term"),
        )
        .groupBy("source")
        .agg(F.round(F.sum("term"), 6).alias("psi"))
    )


URL_HOSTS = 5   # planted-URL host universe: site0..site4.example.com
URL_PATHS = 11  # planted-URL path universe: /path/0../path/10


def _planted_url(idx_off: int, path_mul: int):
    """One deterministic messy URL per doc row: the (host, path)
    resource rotates on doc_id, and the SPELLING rotates through four
    noise shapes on (doc_id + idx_off) mod 4 — together the eight
    standard noise classes (scheme/default port, host case, ``www.``,
    ``utm_`` params, param order, trailing slash, fragment). Shared by
    the batch dedup and the streaming frontier so both plant the
    identical universe the oracle replays."""
    h = ((F.col("doc_id") + idx_off) % URL_HOSTS).cast("string")
    p = (
        (F.col("doc_id") * path_mul + idx_off) % URL_PATHS
    ).cast("string")
    v = (F.col("doc_id") + idx_off) % 4
    url = (
        F.when(
            v == 0,
            F.concat(
                F.lit("https://WWW.Site"), h,
                F.lit(".Example.com:443/path/"), p,
                F.lit("/?utm_source=x&b=2&a=1"),
            ),
        )
        .when(
            v == 1,
            F.concat(
                F.lit("https://www.site"), h,
                F.lit(".example.com/path/"), p,
                F.lit("?a=1&b=2"),
            ),
        )
        .when(
            v == 2,
            F.concat(
                F.lit("https://site"), h,
                F.lit(".example.com/path/"), p,
                F.lit("/?b=2&a=1#section"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://site"), h,
                F.lit(".example.com:80/path/"), p,
                F.lit("?b=2&a=1&utm_campaign=y"),
            ),
        )
    )
    return F.struct(url.alias("url"), v.alias("v"))


def _planted_urls(docs: DataFrame) -> DataFrame:
    """(doc_id, url, v): the two planted URLs per document with each
    spelling's variant index (v drives the streaming fixture's
    micro-batch layout)."""
    return docs.select(
        "doc_id",
        F.explode(
            F.array(_planted_url(0, 1), _planted_url(3, 2))
        ).alias("u"),
    ).select("doc_id", "u.url", "u.v")


def _canonicalized(urls: DataFrame, keep: list[str]) -> DataFrame:
    """Map-side URL canonicalization (pure codegen string algebra —
    works identically on batch and STREAMING frames): lowers the host,
    strips scheme/default port/``www.``/fragment/trailing slash, drops
    ``utm_*`` params and sorts the survivors. Returns
    keep + (host, canonical)."""
    parts = urls.select(
        *keep,
        F.split(F.split(F.col("url"), "#")[0], "://")[1].alias("after"),
    ).select(
        *keep,
        "after",
        F.split(F.col("after"), "/")[0].alias("hostport"),
    ).select(
        *keep,
        "hostport",
        # everything past the authority: '/path...?query'
        F.expr(
            "substring(after, length(hostport) + 1)"
        ).alias("rest"),
    )
    canon = parts.select(
        *keep,
        F.regexp_replace(
            F.lower(F.split(F.col("hostport"), ":")[0]), r"^www\.", ""
        ).alias("host"),
        F.regexp_replace(
            F.split(F.col("rest"), r"\?")[0], "/$", ""
        ).alias("path"),
        F.when(
            F.col("rest").contains("?"),
            F.expr("substring_index(rest, '?', -1)"),
        )
        .otherwise(F.lit(""))
        .alias("rawq"),
    ).select(
        *keep,
        "host",
        "path",
        F.array_join(
            F.array_sort(
                F.expr(
                    "filter(split(rawq, '&'), "
                    "p -> p != '' AND NOT startswith(p, 'utm_'))"
                )
            ),
            "&",
        ).alias("q"),
    )
    return canon.select(
        *keep,
        "host",
        F.concat(
            F.col("host"),
            F.col("path"),
            F.when(
                F.col("q") != "", F.concat(F.lit("?"), F.col("q"))
            ).otherwise(F.lit("")),
        ).alias("canonical"),
    )


def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the crawl-pipeline step that
    collapses the many spellings of one resource before fetch/dedup
    (scheme and default port, host case, ``www.`` prefix, tracking
    params, param order, trailing slash, fragments). The fixture
    corpus has no organic URLs (same situation as pii_redaction), so
    each document plants TWO deterministic messy URLs in-plan — the
    variant rotating on doc_id mod 4 across all eight noise classes —
    and the oracle plants the identical set.

    Canonical key = host (lowered, port and ``www.`` stripped) + path
    (trailing slash stripped; case preserved — paths are
    case-sensitive) + surviving query params (``utm_*`` dropped,
    remainder sorted, '&'-joined). All eight variant shapes of one
    (host, path) collapse to a single canonical row — pinned in
    tests (n_variants ≥ 2 for every canonical on the fixture).

    Scale posture: pure map-side string algebra (split/lower/filter/
    array_sort — all codegen) to the canonical key, then ONE groupBy
    at canonical grain. At 100 TB the same plan runs over URLs pulled
    from text by ``regexp_extract_all(URL_RE)`` (extraction parity
    with DuckDB already proven by pii_redaction's n_urls) or over a
    crawl frontier table; the canonicalization column is unchanged."""
    d = spread(load_table(spark, sf_dir, "documents")).select("doc_id")
    urls = _planted_urls(d)
    canon = _canonicalized(urls, keep=["doc_id", "url"])
    return (
        canon.groupBy("canonical", "host")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.countDistinct("url").alias("n_variants"),
            F.min("doc_id").alias("keeper_doc"),
        )
        .select(
            "canonical", "host", "n_occurrences", "n_docs",
            "n_variants", "keeper_doc",
        )
    )


def _robots_rules(spark: SparkSession) -> DataFrame:
    """The planted per-host robots.txt rule set (deterministic, shared
    verbatim with the oracle's VALUES replay): every host disallows
    ``/path/1`` (a PREFIX — it also matches ``/path/10``), allows the
    longer ``/path/10`` (the longest-match override every real ruleset
    exercises), disallows one host-specific path, and carries an
    equal-length allow/disallow pair on ``/path/2`` (the spec's
    allow-wins tie)."""
    hosts = spark.range(URL_HOSTS).select(
        F.concat(
            F.lit("site"), F.col("id").cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
        F.col("id").alias("h"),
    )

    def rule(prefix, is_allow):
        return F.struct(
            prefix.alias("prefix"),
            F.lit(is_allow).alias("is_allow"),
        )

    return hosts.select(
        "host",
        F.explode(
            F.array(
                rule(F.lit("/path/1"), 0),
                rule(F.lit("/path/10"), 1),
                rule(
                    F.concat(
                        F.lit("/path/"),
                        ((F.lit(3) + F.col("h") * 2) % 11).cast(
                            "string"
                        ),
                    ),
                    0,
                ),
                rule(F.lit("/path/2"), 1),
                rule(F.lit("/path/2"), 0),
            )
        ).alias("r"),
    ).select("host", "r.prefix", "r.is_allow")


def robots_disallow_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-politeness gate — the third crawl-stage operator
    (canonicalize → frontier-dedup → THIS): each canonical resource is
    checked against its host's robots.txt rules under the standard
    precedence (longest matching prefix wins; on an exact length tie,
    Allow beats Disallow — the Google/RFC 9309 rule), emitting one
    verdict row per resource with the winning rule. The planted rule
    set (_robots_rules) exercises all three precedence behaviors:
    plain prefix block (``/path/1`` also blocks nothing it shouldn't),
    longest-match override (``/path/10`` is re-allowed by the longer
    rule through the ``/path/1`` block), and the equal-length
    allow-wins tie on ``/path/2``. Resources matching no rule are
    allowed by default (NULL winning rule).

    At 100 TB the shape is: resource universe (already deduped by
    url_canonical_dedup) LEFT-joined to a BROADCAST rules table (real
    robots rulesets are thousands of rows — driver-tiny), then one
    window at (host, resource) grain over the handful of matched
    rules. No data-sized shuffle beyond the window's resource-grain
    exchange."""
    from pyspark.sql import Window  # noqa: PLC0415

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    resources = (
        _canonicalized(_planted_urls(docs), keep=[])
        .select("host", "canonical")
        .distinct()
    )
    with_path = resources.withColumn(
        "path",
        F.split(
            F.expr("substring(canonical, length(host) + 1)"), r"\?"
        )[0],
    )
    rules = _robots_rules(spark)
    matched = with_path.join(
        F.broadcast(rules),
        (with_path["host"] == rules["host"])
        & F.col("path").startswith(F.col("prefix")),
        "left",
    ).select(with_path["host"], "canonical", "prefix", "is_allow")
    w = Window.partitionBy("host", "canonical").orderBy(
        F.length("prefix").desc(), F.col("is_allow").desc()
    )
    return (
        matched.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "host",
            "canonical",
            F.when(
                F.col("prefix").isNull() | (F.col("is_allow") == 1),
                F.lit("allowed"),
            )
            .otherwise(F.lit("blocked"))
            .alias("verdict"),
            F.col("prefix").alias("rule"),
        )
    )


QUERIES = {
    "url_canonical_dedup": url_canonical_dedup,
    "stream_url_frontier_drain": stream_url_frontier_drain,
    "stream_topk_drain": stream_topk_drain,
    "robots_disallow_filter": robots_disallow_filter,
    "repetition_ratio": repetition_ratio,
    "population_stability_index": population_stability_index,
    "train_val_test_split": train_val_test_split,
    "mix_sources_weighted": mix_sources_weighted,
    "contamination_overlap": contamination_overlap,
    "pii_redaction": pii_redaction,
    "token_length_histogram": token_length_histogram,
    "quota_sample": quota_sample,
    "corpus_mix_entropy": corpus_mix_entropy,
    "length_matched_sample": length_matched_sample,
    "temperature_sampling_weights": temperature_sampling_weights,
    "sampling_ess": sampling_ess,
    "filter_ablation_report": filter_ablation_report,
    "bootstrap_ci": bootstrap_ci,
}

_MIX_HOT_IN = ", ".join(f"'{s}'" for s in MIX_HOT_SOURCES)

# ONE oracle-side definition of the temperature multiplier frame —
# spliced into both sampling oracles below (mirrors
# _per_source_multipliers, incl. the NULL-text coalesce)
_SQL_PER_SOURCE_M = f"""per AS (
            SELECT source, count(*) AS n_docs,
                   sum(len(string_split_regex(
                       trim(coalesce(text, '')), '\\s+')))
                       ::BIGINT AS n_toks
            FROM documents GROUP BY source
        ), sh AS (
            SELECT source, n_docs, n_toks,
                   n_toks / ((sum(n_toks) OVER ())::BIGINT) AS share
            FROM per
        ), tw AS (
            SELECT *, pow(share, {TEMP_ALPHA}) AS raw_w FROM sh
        ), tot AS (
            SELECT *, sum(raw_w) OVER () AS w_tot,
                   (raw_w / sum(raw_w) OVER ()) / share AS m
            FROM tw
        )"""

_SQL_POIS = _poisson_case(
    "(('0x' || substr(md5(rep::VARCHAR || ':' || doc_id::VARCHAR), "
    "1, 8))::BIGINT / 4294967296.0)"
)

# Shared DuckDB replay of the planted-URL universe and its
# canonicalization (CTE chain ending in `keyed`): composed by the
# batch dedup oracle and the streaming frontier oracle.
_SQL_URL_KEYED = f"""

        WITH raw AS (
            SELECT doc_id, 0 AS off, 1 AS mul FROM documents
            UNION ALL
            SELECT doc_id, 3, 2 FROM documents
        ), built AS (
            SELECT doc_id,
              CASE ((doc_id + off) % 4)
                WHEN 0 THEN 'https://WWW.Site'
                    || ((doc_id + off) % {URL_HOSTS})
                    || '.Example.com:443/path/'
                    || ((doc_id * mul + off) % {URL_PATHS})
                    || '/?utm_source=x&b=2&a=1'
                WHEN 1 THEN 'https://www.site'
                    || ((doc_id + off) % {URL_HOSTS})
                    || '.example.com/path/'
                    || ((doc_id * mul + off) % {URL_PATHS})
                    || '?a=1&b=2'
                WHEN 2 THEN 'https://site'
                    || ((doc_id + off) % {URL_HOSTS})
                    || '.example.com/path/'
                    || ((doc_id * mul + off) % {URL_PATHS})
                    || '/?b=2&a=1#section'
                ELSE 'http://site'
                    || ((doc_id + off) % {URL_HOSTS})
                    || '.example.com:80/path/'
                    || ((doc_id * mul + off) % {URL_PATHS})
                    || '?b=2&a=1&utm_campaign=y'
              END AS url
            FROM raw
        ), p1 AS (
            SELECT doc_id, url,
                   split_part(split_part(url, '#', 1), '://', 2)
                       AS after
            FROM built
        ), p2 AS (
            SELECT doc_id, url,
                   split_part(after, '/', 1) AS hostport,
                   substr(after,
                          length(split_part(after, '/', 1)) + 1)
                       AS rest
            FROM p1
        ), p3 AS (
            SELECT doc_id, url,
                   regexp_replace(
                       lower(split_part(hostport, ':', 1)),
                       '^www\\.', '') AS host,
                   regexp_replace(split_part(rest, '?', 1), '/$', '')
                       AS path,
                   CASE WHEN position('?' IN rest) > 0
                        THEN substr(rest, position('?' IN rest) + 1)
                        ELSE '' END AS rawq
            FROM p2
        ), keyed AS (
            SELECT doc_id, url, host,
                   host || path
                   || CASE WHEN q <> '' THEN '?' || q ELSE '' END
                       AS canonical
            FROM (
                SELECT doc_id, url, host, path,
                       array_to_string(list_sort(list_filter(
                           string_split(rawq, '&'),
                           p -> p <> ''
                                AND NOT starts_with(p, 'utm_'))),
                           '&') AS q
                FROM p3)
        )
"""

ORACLES = {
    "url_canonical_dedup": f"""
        {_SQL_URL_KEYED}
        SELECT canonical, host,
               count(*)::BIGINT AS n_occurrences,
               count(DISTINCT doc_id)::BIGINT AS n_docs,
               count(DISTINCT url)::BIGINT AS n_variants,
               min(doc_id)::BIGINT AS keeper_doc
        FROM keyed GROUP BY 1, 2
    """,
    "stream_url_frontier_drain": f"""
        {_SQL_URL_KEYED}
        SELECT DISTINCT canonical, host FROM keyed
    """,
    # Final podium per source = top-K of the WHOLE table: the ranked
    # state's merge is associative, so the cross-batch result equals
    # the batch window exactly. row_number (not rank) mirrors the
    # state's strict doc_id tie-break; ::INT matches the out_schema.
    "stream_topk_drain": f"""
        WITH ranked AS (
            SELECT source, doc_id, n_chars AS score,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY n_chars DESC, doc_id
                   )::INT AS rnk
            FROM documents
        )
        SELECT source, rnk, doc_id, score
        FROM ranked WHERE rnk <= {TOPK_K}
    """,
    # Longest-matching-prefix precedence, allow wins length ties
    # (RFC 9309); rules replayed verbatim from _robots_rules.
    "robots_disallow_filter": f"""
        {_SQL_URL_KEYED}
        , res AS (
            SELECT DISTINCT host, canonical FROM keyed
        ), wp AS (
            SELECT host, canonical,
                   split_part(
                       substr(canonical, length(host) + 1), '?', 1
                   ) AS path
            FROM res
        ), hosts AS (
            SELECT 'site' || h || '.example.com' AS host, h
            FROM range({URL_HOSTS}) t(h)
        ), rules AS (
            SELECT host, '/path/1' AS prefix, 0 AS is_allow FROM hosts
            UNION ALL SELECT host, '/path/10', 1 FROM hosts
            UNION ALL
            SELECT host, '/path/' || ((3 + h * 2) % 11), 0 FROM hosts
            UNION ALL SELECT host, '/path/2', 1 FROM hosts
            UNION ALL SELECT host, '/path/2', 0 FROM hosts
        ), m AS (
            SELECT wp.host, wp.canonical, r.prefix, r.is_allow,
                   row_number() OVER (
                       PARTITION BY wp.host, wp.canonical
                       ORDER BY length(r.prefix) DESC,
                                r.is_allow DESC
                   ) AS rn
            FROM wp LEFT JOIN rules r
              ON r.host = wp.host
             AND starts_with(wp.path, r.prefix)
        )
        SELECT host, canonical,
               CASE WHEN prefix IS NULL OR is_allow = 1
                    THEN 'allowed' ELSE 'blocked' END AS verdict,
               prefix AS rule
        FROM m WHERE rn = 1
    """,
    "population_stability_index": f"""
        WITH binned AS (
            SELECT source,
                   (doc_id % {PSI_SNAP_MOD} = 0) AS is_new,
                   least(floor(n_chars / {1000.0 / PSI_BINS}),
                         {PSI_BINS - 1})::BIGINT AS bin
            FROM documents
        ), counts AS (
            SELECT source, bin,
                   sum(is_new::BIGINT) AS n_new,
                   sum((NOT is_new)::BIGINT) AS n_old
            FROM binned GROUP BY source, bin
        ), totals AS (
            SELECT source, sum(n_new) AS t_new, sum(n_old) AS t_old
            FROM counts GROUP BY source
        ), terms AS (
            SELECT c.source,
                   ((n_new / t_new + {PSI_SMOOTH})
                    - (n_old / t_old + {PSI_SMOOTH}))
                   * ln((n_new / t_new + {PSI_SMOOTH})
                        / (n_old / t_old + {PSI_SMOOTH})) AS term
            FROM counts c JOIN totals t ON c.source = t.source
        )
        SELECT source, round(sum(term), 6) AS psi
        FROM terms GROUP BY source
    """,
    "bootstrap_ci": f"""
        WITH reps AS (
            SELECT source, rep, n_chars::DOUBLE AS m,
                   {_SQL_POIS} AS k
            FROM documents,
                 generate_series(0, {BOOT_R - 1}) AS g(rep)
        ), rep_means AS (
            SELECT source, rep, sum(k * m) / sum(k) AS rm
            FROM reps GROUP BY source, rep
            HAVING sum(k) > 0
        ), ci AS (
            SELECT source,
                   round(quantile_cont(rm, 0.025), 4) AS ci_lo,
                   round(quantile_cont(rm, 0.5), 4) AS ci_mid,
                   round(quantile_cont(rm, 0.975), 4) AS ci_hi
            FROM rep_means GROUP BY source
        ), pt AS (
            SELECT source, count(*)::BIGINT AS n_docs,
                   round(avg(n_chars), 4) AS mean_chars
            FROM documents GROUP BY source
        )
        SELECT source, n_docs, mean_chars, ci_lo, ci_mid, ci_hi
        FROM pt JOIN ci USING (source)
    """,
    "sampling_ess": f"""
        WITH {{PSM}}, agg AS (
            SELECT sum(n_docs)::BIGINT AS n_docs,
                   sum(n_docs * m) AS sw,
                   sum(n_docs * m * m) AS sw2
            FROM tot
        )
        SELECT n_docs,
               round(sw * sw / sw2, 4) AS ess,
               round(sw * sw / sw2 / n_docs, 6) AS ess_ratio
        FROM agg
    """,
    "temperature_sampling_weights": f"""
        WITH {{PSM}}
        SELECT source, n_toks,
               round(share, 6) AS token_share,
               round(raw_w / w_tot, 6) AS temp_weight,
               round(m, 6) AS sample_multiplier
        FROM tot
    """,
    "filter_ablation_report": f"""
        SELECT n_chars < {ABL_SHORT_CHARS} AS flag_short,
               1 - len(list_distinct(string_split(lower(text), ' ')))
                   / len(string_split(lower(text), ' '))
                   > {ABL_DUP_RATIO} AS flag_repetitive,
               regexp_matches(
                   CASE WHEN doc_id % {PII_MOD} = {PII_REM}
                        THEN text || ' contact x@y.com 555-123-4567'
                        ELSE text END,
                   '{EMAIL_RE}|{URL_RE}|{PHONE_RE}')
                   AS flag_pii,
               count(*)::BIGINT AS n_docs
        FROM documents
        GROUP BY 1, 2, 3
    """,
    "length_matched_sample": f"""
        WITH docs AS (
            SELECT doc_id, lang,
                   least(n_chars // {LEN_BUCKET_CHARS},
                         {LEN_BUCKET_MAX}) AS bucket
            FROM documents
        ), tgt AS (
            SELECT bucket, count(*)::BIGINT AS n_tgt
            FROM docs WHERE lang = '{LM_TARGET_LANG}' GROUP BY bucket
        ), rawd AS (
            SELECT doc_id, bucket FROM docs
            WHERE lang <> '{LM_TARGET_LANG}'
        ), rawc AS (
            SELECT bucket, count(*)::BIGINT AS n_raw
            FROM rawd GROUP BY bucket
        ), stats AS (
            SELECT coalesce(r.bucket, t.bucket) AS bucket,
                   coalesce(n_raw, 0) AS n_raw,
                   coalesce(n_tgt, 0) AS n_tgt
            FROM rawc r FULL JOIN tgt t ON r.bucket = t.bucket
        ), stats2 AS (
            SELECT bucket, n_raw, n_tgt,
                   (sum(n_tgt) OVER ())::BIGINT AS tot_tgt
            FROM stats
        ), stats3 AS (
            SELECT bucket, n_tgt, tot_tgt,
                   (min(CASE WHEN n_tgt > 0
                             THEN (n_raw * tot_tgt) // n_tgt END)
                        OVER ())::BIGINT AS n_keep
            FROM stats2
        ), quota AS (
            SELECT bucket, (n_keep * n_tgt) // tot_tgt AS quota
            FROM stats3
        ), ranked AS (
            SELECT doc_id, bucket,
                   row_number() OVER (
                       PARTITION BY bucket
                       ORDER BY md5(doc_id::VARCHAR), doc_id
                   )::BIGINT AS rk
            FROM rawd
        )
        SELECT doc_id, bucket, rk
        FROM ranked JOIN quota USING (bucket)
        WHERE rk <= quota
    """,
    "corpus_mix_entropy": """
        WITH per AS (
            SELECT source,
                   sum(len(string_split_regex(trim(text), '\\s+')))
                       ::BIGINT AS n_toks
            FROM documents GROUP BY source
        )
        SELECT source, n_toks,
               round(n_toks / ((sum(n_toks) OVER ())::BIGINT), 6)
                   AS token_share,
               round(-(n_toks / ((sum(n_toks) OVER ())::BIGINT))
                     * ln(n_toks / ((sum(n_toks) OVER ())::BIGINT)), 6)
                   AS entropy_term
        FROM per
    """,
    "quota_sample": f"""
        SELECT doc_id, source, n_chars, rk FROM (
            SELECT doc_id, source, n_chars,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY n_chars DESC, doc_id
                   ) AS rk
            FROM documents
        ) WHERE rk <= {QUOTA_PER_SOURCE}
    """,
    "train_val_test_split": f"""
        SELECT doc_id, source,
               CASE
                 WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                      % 100 < {SPLIT_TRAIN_PCT} THEN 'train'
                 WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                      % 100 < {SPLIT_VAL_PCT} THEN 'val'
                 ELSE 'test'
               END AS split
        FROM documents
    """,
    "mix_sources_weighted": f"""
        WITH stats AS (
            SELECT source, count(*) AS n_s,
                   CASE WHEN source IN ({_MIX_HOT_IN})
                        THEN {MIX_HOT_WEIGHT} ELSE {MIX_COLD_WEIGHT} END AS w
            FROM documents GROUP BY source
        ), totals AS (
            SELECT sum(n_s) AS n_total, sum(w) AS w_total FROM stats
        ), rates AS (
            SELECT source,
                   least(1.0, {MIX_KEEP_FRAC} * n_total * w
                              / (w_total * n_s)) AS rate
            FROM stats, totals
        )
        SELECT doc_id, d.source
        FROM documents d JOIN rates r ON d.source = r.source
        WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
              % {MIX_RES} < floor(rate * {MIX_RES})
    """,
    "repetition_ratio": """
        WITH base AS (
            SELECT doc_id, string_split(lower(text), ' ') AS ws
            FROM documents
            WHERE len(string_split(lower(text), ' ')) >= 2
        )
        SELECT doc_id,
               len(ws)::BIGINT AS n_words,
               round(1 - len(list_distinct(ws)) / len(ws), 4)
                   AS dup_word_ratio,
               round(1 - len(list_distinct(
                       list_transform(generate_series(1, len(ws) - 1),
                           i -> array_to_string(list_slice(ws, i, i + 1),
                                                ' '))))
                     / (len(ws) - 1), 4) AS dup_bigram_ratio
        FROM base
    """,
    "contamination_overlap": f"""
        WITH grams AS (
            SELECT DISTINCT doc_id,
                   array_to_string(list_slice(string_split(lower(text), ' '),
                                              i, i + 2), ' ') AS g
            FROM documents,
                 LATERAL (SELECT unnest(generate_series(
                     1, len(string_split(lower(text), ' ')) - 2)) AS i)
            WHERE len(string_split(lower(text), ' ')) >= 3
        ), eval_grams AS (
            SELECT DISTINCT g FROM grams
            WHERE doc_id % {EVAL_MOD} = {EVAL_REM}
        )
        SELECT t.doc_id,
               count(*)::BIGINT AS n_grams,
               count(e.g)::BIGINT AS n_hit,
               round(count(e.g) / count(*), 4) AS contamination
        FROM grams t LEFT JOIN eval_grams e ON t.g = e.g
        WHERE t.doc_id % {EVAL_MOD} <> {EVAL_REM}
        GROUP BY t.doc_id
    """,
    "pii_redaction": f"""
        WITH base AS (
            SELECT doc_id,
                   CASE WHEN doc_id % {PII_MOD} = {PII_REM}
                        THEN text || ' contact user' || doc_id::VARCHAR
                             || '@example.com via https://ex.org/p/'
                             || doc_id::VARCHAR || ' call 555-123-4567'
                        ELSE text END AS t
            FROM documents
        )
        SELECT doc_id,
               len(regexp_extract_all(t, '{EMAIL_RE}'))::BIGINT AS n_emails,
               len(regexp_extract_all(t, '{URL_RE}'))::BIGINT AS n_urls,
               len(regexp_extract_all(t, '{PHONE_RE}'))::BIGINT AS n_phones,
               md5(regexp_replace(regexp_replace(regexp_replace(
                       t, '{EMAIL_RE}', '<EMAIL>', 'g'),
                       '{URL_RE}', '<URL>', 'g'),
                       '{PHONE_RE}', '<PHONE>', 'g')) AS redacted_fp
        FROM base
    """,
    "token_length_histogram": f"""
        WITH toks AS (
            SELECT len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT
                       AS n_tokens,
                   n_chars
            FROM documents
        )
        SELECT n_tokens // {HIST_BUCKET_WORDS} AS bucket,
               count(*)::BIGINT AS n_docs,
               min(n_tokens) AS min_tokens,
               max(n_tokens) AS max_tokens,
               round(avg(n_chars), 2) AS avg_chars
        FROM toks
        GROUP BY bucket
    """,
}

for _k in ("sampling_ess", "temperature_sampling_weights"):
    ORACLES[_k] = ORACLES[_k].replace("{PSM}", _SQL_PER_SOURCE_M)

NO_ORACLE: dict[str, str] = {}
